package graft.ml

import graft.Tables
import org.apache.spark.ml.classification.{DecisionTreeClassifier, LinearSVC, RandomForestClassifier}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.regression.{DecisionTreeRegressor, RandomForestRegressor}
import org.apache.spark.sql.{DataFrame, GraftStorageBridge, SparkSession}
import org.apache.spark.sql.functions._

/** MLlib-backed estimators where the built-in is semantically equivalent
  * to the reference (SURVEY.md §2.7 mapping): RandomForest C/R
  * (dislib/trees — identical distributed histogram-split design:
  * maxBins ≙ n_split_points, featureSubsetStrategy ≙ try_features),
  * ALS (dislib/recommendation/als — same alternating least squares with
  * rating-count regularization scaling), LinearSVC (the linear-kernel
  * CSVM fallback). Thin adapters from graft's array<double> feature
  * convention to MLlib's Vector column.
  *
  * Gate outputs are invariant-style: every query emits values a DuckDB
  * oracle can independently derive — data-derived counts plus integer
  * flags for optimality/quality conditions the fitted model must satisfy
  * (KKT stationarity for the L1 solver, objective descent for ALS,
  * beats-constant-baseline for the forests). The flags are genuinely
  * computed from the fit — a broken estimator flips them to 0 and the
  * gate hash-mismatches.
  */
object MllibWrappers {

  private def featurize(df: DataFrame, arrCol: String): DataFrame =
    df.withColumn("features", array_to_vector(col(arrCol)))

  /** RF classification on embeddings (label column, first 16 dims),
    * deterministic hash split. Output: per-label train/test counts
    * (oracle-derived from the same split rule) + a train-accuracy flag
    * (seeded forest ≙ deterministic; memorization bar well below the
    * observed accuracy). */
  def rfQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("double").as("label"),
        transform(slice(col("embedding"), 1, 16), x => x.cast("double")).as("arr"))
    val withSplit = featurize(e, "arr")
      .withColumn("test", pmod(col("vec_id"), lit(5)) === 0)
    val train = withSplit.filter(!col("test")).cache()
    val model = new RandomForestClassifier()
      .setNumTrees(20).setMaxDepth(7).setSeed(42)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(train)
    val trainAcc = model.transform(train)
      .agg(avg(when(col("prediction") === col("label"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    val counts = withSplit
      .groupBy(col("label").cast("int").as("label"))
      .agg(sum(when(!col("test"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("test"), 1L).otherwise(0L)).as("n_test"))
      .orderBy("label")
      .collect()
    train.unpersist(false)
    val accOk = if (trainAcc >= 0.65) 1 else 0
    val spark2 = spark
    import spark2.implicits._
    counts.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), accOk))
      .toSeq.toDF("label", "n_train", "n_test", "acc_ok")
  }

  val rfOracle: String =
    """SELECT label::INT AS label,
      |  sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_train,
      |  sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_test,
      |  1 AS acc_ok
      |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin

  /** RF regression: predict l_extendedprice from lineitem numerics.
    * Invariants out: the forest must beat the constant-mean predictor
    * (RMSE < population stddev of the label — the r²>0 bar) and its
    * feature importances must be a proper distribution. */
  def rfRegQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(array(col("l_quantity"), col("l_discount"), col("l_tax")).as("arr"),
        col("l_extendedprice").as("label"))
    val df = featurize(li, "arr")
    val model = new RandomForestRegressor()
      .setNumTrees(10).setMaxDepth(5).setSeed(42)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(df)
    val stats = model.transform(df)
      .agg(sqrt(avg(pow(col("prediction") - col("label"), 2))).as("rmse"),
        stddev_pop(col("label")).as("sd")).head()
    val beats = if (stats.getDouble(0) < stats.getDouble(1)) 1 else 0
    val imp = model.featureImportances.toArray
    val impOk = if (imp.forall(_ >= 0.0) && math.abs(imp.sum - 1.0) < 1e-6) 1 else 0
    val spark2 = spark
    import spark2.implicits._
    Seq((model.getNumTrees, beats, impOk))
      .toDF("n_trees", "beats_baseline", "imp_ok")
  }

  val rfRegOracle: String =
    "SELECT 10 AS n_trees, 1 AS beats_baseline, 1 AS imp_ok"

  /** Standalone single-tree classifier — the reference exports
    * DecisionTreeClassifier/Regressor top-level next to the forests
    * (dislib/trees/__init__.py:2-5, decision_tree.py:174), so a user
    * fitting ONE interpretable tree needs a surface that isn't
    * RandomForest-with-numTrees=1 (different feature subsampling: a
    * standalone tree considers ALL features per split). Same embeddings
    * task + hash split as [[rfQuery]]. Output: per-label train/test
    * counts (oracle-derived) + three fitted-model invariant flags —
    * train accuracy strictly beats the majority-class baseline (any
    * functioning split sequence does; a broken fit pins the root), the
    * learned depth respects maxDepth, and the node count is odd (every
    * internal node of a binary tree has exactly 2 children). */
  def dtreeQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("double").as("label"),
        transform(slice(col("embedding"), 1, 16), x => x.cast("double")).as("arr"))
    val withSplit = featurize(e, "arr")
      .withColumn("test", pmod(col("vec_id"), lit(5)) === 0)
    val train = withSplit.filter(!col("test")).cache()
    val model = new DecisionTreeClassifier()
      .setMaxDepth(7).setSeed(42)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(train)
    val acc = model.transform(train)
      .agg(avg(when(col("prediction") === col("label"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    val majority = train.groupBy("label").count()
      .agg(max("count").cast("double") / sum("count")).head().getDouble(0)
    val counts = withSplit
      .groupBy(col("label").cast("int").as("label"))
      .agg(sum(when(!col("test"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("test"), 1L).otherwise(0L)).as("n_test"))
      .orderBy("label")
      .collect()
    train.unpersist(false)
    val accOk = if (acc > majority) 1 else 0
    val depthOk = if (model.depth >= 1 && model.depth <= 7) 1 else 0
    val nodesOk = if (model.numNodes % 2 == 1 && model.numNodes >= 3) 1 else 0
    val spark2 = spark
    import spark2.implicits._
    counts.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        accOk, depthOk, nodesOk))
      .toSeq.toDF("label", "n_train", "n_test", "acc_ok", "depth_ok", "nodes_ok")
  }

  val dtreeOracle: String =
    """SELECT label::INT AS label,
      |  sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_train,
      |  sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_test,
      |  1 AS acc_ok, 1 AS depth_ok, 1 AS nodes_ok
      |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin

  /** Standalone single-tree regressor (decision_tree.py:315): predict
    * l_extendedprice from lineitem numerics, the [[rfRegQuery]] task.
    * Invariants: beats the constant-mean predictor (RMSE < population
    * stddev — r²>0), depth within bounds, odd node count, and the
    * single tree's feature importances form a proper distribution. */
  def dtreeRegQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(array(col("l_quantity"), col("l_discount"), col("l_tax")).as("arr"),
        col("l_extendedprice").as("label"))
    val df = featurize(li, "arr")
    val model = new DecisionTreeRegressor()
      .setMaxDepth(5).setSeed(42)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(df)
    val stats = model.transform(df)
      .agg(sqrt(avg(pow(col("prediction") - col("label"), 2))).as("rmse"),
        stddev_pop(col("label")).as("sd")).head()
    val beats = if (stats.getDouble(0) < stats.getDouble(1)) 1 else 0
    val depthOk = if (model.depth >= 1 && model.depth <= 5) 1 else 0
    val nodesOk = if (model.numNodes % 2 == 1 && model.numNodes >= 3) 1 else 0
    val imp = model.featureImportances.toArray
    val impOk = if (imp.forall(_ >= 0.0) && math.abs(imp.sum - 1.0) < 1e-6) 1 else 0
    val spark2 = spark
    import spark2.implicits._
    Seq((beats, depthOk, nodesOk, impOk))
      .toDF("beats_baseline", "depth_ok", "nodes_ok", "imp_ok")
  }

  val dtreeRegOracle: String =
    "SELECT 1 AS beats_baseline, 1 AS depth_ok, 1 AS nodes_ok, 1 AS imp_ok"

  /** Regularized ALS objective MLlib minimizes (ALS-WR scaling:
    * Σ(r−uᵀv)² + λ(Σ_u n_u‖u‖² + Σ_i n_i‖v‖²)) — each half-sweep is an
    * exact per-row ridge solve, so the sequence is monotone
    * non-increasing in exact arithmetic. */
  private def alsObjective(model: ALSModel, ratings: DataFrame,
      regParam: Double): Double = {
    import graft.functions.VecExprs.vecDot
    val uf = model.userFactors.select(col("id").as("user"),
      transform(col("features"), x => x.cast("double")).as("ufeat"))
    val itf = model.itemFactors.select(col("id").as("item"),
      transform(col("features"), x => x.cast("double")).as("ifeat"))
    val sqErr = ratings.join(uf, "user").join(itf, "item")
      .select(pow(col("rating") - vecDot(col("ufeat"), col("ifeat")), 2).as("e"))
      .agg(sum("e")).head().getDouble(0)
    def regTerm(factors: DataFrame, idCol: String): Double =
      ratings.groupBy(idCol).agg(count(lit(1)).as("n"))
        .join(factors, idCol)
        .select((col("n") * aggregate(col(s"${idCol(0)}feat"), lit(0.0),
          (acc, x) => acc + x * x)).as("r"))
        .agg(sum("r")).head().getDouble(0)
    sqErr + regParam * (regTerm(uf, "user") + regTerm(itf, "item"))
  }

  /** ALS on event-derived ratings (user_id × props.k as item, avg value
    * as rating). Output: the 10 smallest users with their rating counts
    * (oracle-derived) + an objective-descent flag across 2→4→8
    * iterations (seeded init ⇒ the three fits share the same iterate
    * sequence, and ALS half-sweeps are exact minimizers ⇒ monotone). */
  def alsQuery(spark: SparkSession, dir: String): DataFrame = graft.GateUtil.scoped { s =>
    val ratings = s.persist(Tables.events(spark, dir)
      .select(col("user_id").cast("int").as("user"),
        get_json_object(col("props"), "$.k").cast("int").as("item"),
        col("value").cast("float").as("rating"))
      .filter(col("item").isNotNull)
      .groupBy("user", "item").agg(avg("rating").cast("float").as("rating")))
    // few distinct users/items at any SF: fewer factor blocks = fewer
    // shuffle files per iteration (default 10×10 blocks is for
    // billion-rating scale; at that scale raise blocks, not lower)
    def fitIters(n: Int): ALSModel = {
      val m = new ALS().setRank(8).setMaxIter(n)
        .setSeed(42).setRegParam(0.1)
        .setNumUserBlocks(4).setNumItemBlocks(4)
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .fit(ratings)
      // the fit leaves its factor RDDs (and one in their lineage) cached
      val seen = scala.collection.mutable.Set.empty[Int]
      def cached(r: org.apache.spark.rdd.RDD[_]): Unit = if (seen.add(r.id)) {
        if (r.getStorageLevel.isValid) s.own(r)
        r.dependencies.foreach(d => cached(d.rdd))
      }
      Seq(m.userFactors, m.itemFactors).flatMap(GraftStorageBridge.leafRdds).foreach(cached)
      m
    }
    val objs = Seq(2, 4, 8).map(n => alsObjective(fitIters(n), ratings, 0.1))
    val desc = if (objs.sliding(2).forall { case Seq(a, b) => b <= a * (1 + 1e-9) })
      1 else 0
    val users = ratings.groupBy("user").agg(count(lit(1)).as("n_ratings"))
      .orderBy("user").limit(10).collect()
    val spark2 = spark
    import spark2.implicits._
    users.map(r => (r.getInt(0), r.getLong(1), desc))
      .toSeq.toDF("user", "n_ratings", "obj_desc")
  }

  val alsOracle: String =
    """SELECT u AS user, count(*)::BIGINT AS n_ratings, 1 AS obj_desc
      |FROM (SELECT user_id::INT AS u, json_extract_string(props, '$.k')::INT AS item
      |      FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
      |      GROUP BY 1, 2)
      |GROUP BY u ORDER BY user LIMIT 10""".stripMargin

  /** Lasso = L1 linear regression (reference: dislib/regression/lasso/
    * base.py:27-137 — distributed ADMM with CVXPY w-steps; MLlib's OWLQN
    * with elasticNetParam=1.0 solves the same L1 problem without the
    * ADMM machinery, SURVEY.md §2.7).
    *
    * Label is exactly 3·x₀ + 2·x₁ (x₂ inert), so the KKT conditions at
    * the L1 optimum pin the output: coefficient signs (+,+,0) and the
    * standardized-gradient stationarity — both active features sit on
    * the same subgradient bound |g₀|=|g₁| with g<0, and the inactive
    * feature lies strictly inside it. Scale-free, so independent of
    * MLlib's internal λ/σ_y conventions. */
  def lassoQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select((col("l_quantity") / 50).as("x0"), col("l_discount").as("x1"),
        col("l_tax").as("x2"),
        (col("l_quantity") / 50 * 3.0 + col("l_discount") * 2.0).as("y"))
      .cache()
    val df = featurize(li.select(array(col("x0"), col("x1"), col("x2")).as("arr"),
      col("y").as("label")), "arr")
    val model = new org.apache.spark.ml.regression.LinearRegression()
      .setElasticNetParam(1.0).setRegParam(0.01).setMaxIter(100).setTol(1e-9)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(df)
    val beta = model.coefficients.toArray
    val b0 = model.intercept
    val m = li.agg(avg("x0"), avg("x1"), avg("x2"),
      stddev_samp("x0"), stddev_samp("x1"), stddev_samp("x2")).head()
    val (means, sds) = (Array(m.getDouble(0), m.getDouble(1), m.getDouble(2)),
      Array(m.getDouble(3), m.getDouble(4), m.getDouble(5)))
    val pred = lit(b0) + col("x0") * beta(0) + col("x1") * beta(1) + col("x2") * beta(2)
    val gRow = li.agg(
      avg((col("x0") - means(0)) / sds(0) * (pred - col("y"))),
      avg((col("x1") - means(1)) / sds(1) * (pred - col("y"))),
      avg((col("x2") - means(2)) / sds(2) * (pred - col("y")))).head()
    li.unpersist(false)
    val g = Array(gRow.getDouble(0), gRow.getDouble(1), gRow.getDouble(2))
    val bound = (math.abs(g(0)) + math.abs(g(1))) / 2 // active-set subgradient bound ≙ effective λ
    def sgn(x: Double) = if (x > 1e-8) 1 else if (x < -1e-8) -1 else 0
    val kktOk = Array(
      // active: gradient on the bound, pushing against the (positive) coef
      if (g(0) < 0 && math.abs(math.abs(g(0)) - bound) <= 2e-3 * bound) 1 else 0,
      if (g(1) < 0 && math.abs(math.abs(g(1)) - bound) <= 2e-3 * bound) 1 else 0,
      // inactive: strictly inside the bound
      if (math.abs(g(2)) <= bound * (1 + 1e-6)) 1 else 0)
    val spark2 = spark
    import spark2.implicits._
    beta.indices.map(j => (j, sgn(beta(j)), kktOk(j)))
      .toDF("feature", "sign", "kkt_ok")
      .orderBy("feature")
  }

  val lassoOracle: String =
    """SELECT 0 AS feature, 1 AS sign, 1 AS kkt_ok
      |UNION ALL SELECT 1, 1, 1
      |UNION ALL SELECT 2, 0, 1
      |ORDER BY feature""".stripMargin

  /** LinearSVC on a margin-separable data-derived rule over embeddings:
    * y = [e₁+e₂ > 0] with the |e₁+e₂| ≤ 0.08 band excluded (≈0.45σ of
    * the margin score). A separating direction exists in the 16-dim
    * feature space, so the soft-margin optimum at small λ classifies
    * every training row — confusion is exactly diagonal and the oracle
    * derives the class counts from the same rule. */
  def svcQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        (element_at(col("embedding"), 1).cast("double") +
          element_at(col("embedding"), 2).cast("double")).as("s"),
        transform(slice(col("embedding"), 1, 16), x => x.cast("double")).as("arr"))
      .filter(abs(col("s")) > 0.08)
      .withColumn("label", when(col("s") > 0, 1.0).otherwise(0.0))
    // r16 (guide §1.2 per-task work): deliberately NOT cached.
    // LinearSVC persists its converted `Instance` RDD internally ONLY
    // when dataset.storageLevel == NONE (verified in the 4.1.2
    // bytecode); a df.cache() here suppressed that, so every one of the
    // 50 OWLQN iterations re-decompressed the columnar cache and
    // re-boxed rows into Instances. Uncached, the conversion runs once
    // and the iterations read the persisted Instance RDD directly; the
    // post-fit transform pays one extra parquet scan (cheap).
    val df = featurize(e, "arr")
    val model = new LinearSVC().setMaxIter(50).setRegParam(1e-4)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(df)
    val out = model.transform(df)
      .groupBy(col("label").cast("int").as("label"),
        col("prediction").cast("int").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "predicted")
      .collect()
    val spark2 = spark
    import spark2.implicits._
    out.map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .toSeq.toDF("label", "predicted", "n")
  }

  val svcOracle: String =
    """SELECT CASE WHEN s > 0 THEN 1 ELSE 0 END AS label,
      |  CASE WHEN s > 0 THEN 1 ELSE 0 END AS predicted,
      |  count(*)::BIGINT AS n
      |FROM (SELECT embedding[1]::DOUBLE + embedding[2]::DOUBLE AS s FROM embeddings)
      |WHERE abs(s) > 0.08
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin
}
