package graft.ml

import graft.GateUtil._
import breeze.linalg.{DenseMatrix => BDM}
import graft.Tables
import graft.functions.VectorFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's KMeans, DataFrame-first (reference semantics:
  * dislib/cluster/kmeans/base.py:23-216 — per-block partial sum/count,
  * arity-merge, per-iteration driver sync; our merge tree is Spark's
  * partial aggregation, the per-iteration collect of k×dim doubles is the
  * same barrier dislib takes at compss_wait_on, SURVEY.md §3.1).
  *
  * Design for 100 TB: assignment is a codegen'd unrolled expression chain
  * (no UDF), the update is a groupBy over k groups (map-side partial agg →
  * k·dim doubles cross the wire per iteration); the input should be cached
  * by the caller — each iteration is exactly one scan.
  *
  * Determinism contract (shared with the DuckDB oracle): init = first k
  * rows ordered by id; distances are left-associated (v[i]-c_i)² chains
  * (bit-identical across engines for identical centers); assignment ties
  * break on cluster index; centers are rounded to 6 decimals per
  * iteration; empty clusters keep their previous center.
  */
object KMeansGraft {

  /** Center initialization modes (reference: kmeans/base.py:201-216 —
    * `init='random'` draws uniform [0,1) centers, an ndarray gives them
    * explicitly). `FirstK` is this engine's deterministic extension used
    * by the oracle gates (cross-engine reproducible without an RNG). */
  sealed trait Init
  object Init {
    /** First k rows ordered by id — the gate/oracle determinism contract. */
    case object FirstK extends Init
    /** Uniform [0,1)^dim random centers, seeded (the reference default;
      * kmeans/base.py:208-213 `random_state.random_sample(shape)`). */
    final case class Random(seed: Long) extends Init
    /** Explicit (k × dim) initial centers (kmeans/base.py:202-207). */
    final case class Given(centers: Array[Array[Double]]) extends Init
  }

  final case class Model(centers: Array[Array[Double]], iterations: Int = 0) {
    def k: Int = centers.length

    /** Argmin by (squared distance, index) via the looping
      * VecNearestCenters expression — sequential per-center accumulation
      * is bitwise identical to the unrolled chains the DuckDB oracle
      * uses, but codegen stays O(1) in k (usable at k=500). */
    def assignCol(v: Column): Column = {
      import org.apache.spark.sql.GraftColumnBridge
      element_at(GraftColumnBridge.column(graft.functions.VecNearestCenters(
        GraftColumnBridge.expression(v), centers, 1)), 1)
    }

    def distCol(v: Column): Column = {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.column(graft.functions.VecMinSqDist(
        GraftColumnBridge.expression(v), centers))
    }

    /** Indices of the n nearest centers, ordered (IVF probe list). */
    def nearestCentersCol(v: Column, n: Int): Column = {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.column(graft.functions.VecNearestCenters(
        GraftColumnBridge.expression(v), centers, n))
    }

    def centerNorm(i: Int): Double =
      math.sqrt(centers(i).map(x => x * x).sum)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** BLAS-batched Lloyd pass: one dgemm per 1024-row batch scores every
    * center at once — argmin_j(½‖c_j‖² − x·c_j) drops the ‖x‖² term the
    * argmin doesn't need, so per-batch work is a (k×dim)·(dim×b) matrix
    * product at BLAS-3 throughput instead of k scalar distance loops per
    * row (the reference's numpy distance kernels get the same gemm
    * economics; at k=500·dim=100 this is the difference between compute-
    * bound scalar code and cache-blocked vector code). The expanded form
    * rounds differently from the oracle path's left-associated (x−c)²
    * chains, so gates keep the codegen chain path; this path serves
    * throughput callers (bench, non-oracle fits), ties still breaking on
    * the lower center index. Per-partition accumulators carry k·(dim+1)
    * doubles — the same reduction shape as the exact path. */
  private def gemmStats(vecs: org.apache.spark.rdd.RDD[Array[Double]],
      centers: Array[Array[Double]], k: Int, dim: Int): Array[Array[Double]] = {
    val bc = vecs.sparkContext.broadcast(centers)
    val out = vecs.mapPartitions { it =>
      val cs = bc.value
      val cm = BDM.create(dim, k, Array.concat(scala.collection.immutable.ArraySeq.unsafeWrapArray(cs): _*)) // column j = center j
      val half = Array.tabulate(k) { j =>
        var s = 0.0; val c = cs(j); var d = 0
        while (d < dim) { s += c(d) * c(d); d += 1 }
        0.5 * s
      }
      val acc = Array.fill(k)(new Array[Double](dim + 1))
      it.grouped(1024).foreach { batchSeq =>
        val batch = batchSeq.toArray
        val b = batch.length
        val xm = BDM.create(dim, b, Array.concat(scala.collection.immutable.ArraySeq.unsafeWrapArray(batch): _*)) // column i = row i
        val g = (cm.t * xm).data // column-major k×b: column i contiguous
        var i = 0
        while (i < b) {
          val off = i * k
          // best = -1 + strict < : a NaN row scores NaN against every
          // center and is SKIPPED, mirroring the exact path's c == -1
          // guard (NaN never beats the +Inf sentinel there either).
          // A -Inf score (row with a ±Inf feature) is likewise skipped:
          // the exact path's (x-c)² chain turns such rows into +Inf
          // distances that lose to the sentinel, so letting -Inf win
          // here would poison the center sums with non-finite values.
          var best = -1; var bs = Double.PositiveInfinity
          var j = 0
          while (j < k) {
            val s = half(j) - g(off + j)
            if (s > Double.NegativeInfinity && s < bs) { bs = s; best = j }
            j += 1
          }
          if (best >= 0) {
            val a = acc(best); val v = batch(i)
            var d = 0
            while (d < dim) { a(d) += v(d); d += 1 }
            a(dim) += 1.0
          }
          i += 1
        }
      }
      Iterator.single(acc)
    }.treeReduce({ (x, y) =>
      var c = 0
      while (c < k) {
        val a = x(c); val b2 = y(c); var i = 0
        while (i <= dim) { a(i) += b2(i); i += 1 }
        c += 1
      }
      x
    }, depth = 2)
    bc.destroy()
    out
  }

  /** Fit on an array<double> column; init defaults to first k rows by
    * `idCol` (the oracle contract — see [[Init]] for the reference's
    * random/explicit modes); `tol` > 0 adds the reference's
    * center-shift early stop.
    *
    * Update step = a narrow codegen'd assignment projection +
    * `treeAggregate` of per-cluster (sum, count) — dislib's
    * _partial_sum/_merge shape verbatim (kmeans/base.py:385-411). A
    * k·dim-wide groupBy-avg formulation instead blows the whole-stage
    * codegen method limit at k=500·dim=100, silently dropping the WHOLE
    * stage (distance loop included) to interpreted eval (~10×).
    *
    * `blasAssign = true` swaps each pass for the dgemm-batched kernel
    * ([[gemmStats]]) — same Lloyd algorithm, BLAS-3 throughput, but a
    * different floating-point expansion than the oracle contract, so
    * gate queries leave it off. */
  def fit(df: DataFrame, vCol: String, idCol: String, k: Int, maxIter: Int,
      init: Init = Init.FirstK, tol: Double = 0.0,
      blasAssign: Boolean = false): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = df.select(size(col(vCol))).head().getInt(0)
    val initCenters = init match {
      case Init.FirstK =>
        df.orderBy(idCol).limit(k).select(vCol).collect()
          .map(_.getSeq[Double](0).toArray.map(round6))
      case Init.Random(seed) =>
        // row-major draw order, matching numpy random_sample((k, dim))
        val rng = new java.util.Random(seed)
        Array.fill(k, dim)(rng.nextDouble())
      case Init.Given(cs) =>
        require(cs.length == k && cs.forall(_.length == dim),
          s"init centers must be shape ($k, $dim)")
        cs.map(_.clone())
    }
    var model = Model(initCenters, 0)
    // vector-only projection for the BLAS path; persisted across
    // iterations so the Row→Array conversion runs once, not per pass
    // (the caller's df cache still backs the exact path unchanged).
    // Decode via InternalRow.getArray.toDoubleArray — a primitive copy
    // (getSeq would box every element: 3×10⁸ boxed doubles at the
    // bench shape, ~half the fit wall time). toDoubleArray reads a NULL
    // element as 0.0 silently (the boxed path used to NPE), so when the
    // schema admits nulls each row is checked and rejected loudly —
    // a fabricated 0.0 coordinate would poison the center sums.
    var vecsCached: org.apache.spark.rdd.RDD[Array[Double]] = null
    lazy val vecs = {
      val proj = df.select(col(vCol).cast("array<double>"))
      val mayHaveNulls = proj.schema.head.dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull
      val r = proj.queryExecution.toRdd.map { ir =>
        val ad = ir.getArray(0)
        if (mayHaveNulls) {
          var i = 0
          while (i < ad.numElements()) {
            require(!ad.isNullAt(i), s"NULL element at index $i in '$vCol'")
            i += 1
          }
        }
        ad.toDoubleArray()
      }
      if (maxIter > 1) {
        vecsCached = r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        vecsCached
      } else r
    }
    var it = 0
    var converged = false
    try {
      while (it < maxIter && !converged) {
        val stats = if (blasAssign) gemmStats(vecs, model.centers, k, dim)
        else statsExact(df, vCol, model.centers, k, dim)
        val next = Array.tabulate(k) { c =>
          val s = stats(c)
          if (s(dim) > 0) Array.tabulate(dim)(i => round6(s(i) / s(dim)))
          else model.centers(c)
        }
        it += 1
        // reference convergence: Σ‖new_c − old_c‖ < tol² (base.py:168-186);
        // tol=0 (the gate default) always runs the full maxIter schedule
        if (tol > 0) {
          val shift = model.centers.zip(next).map { case (a, b) =>
            math.sqrt(a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum)
          }.sum
          converged = shift < tol * tol
        }
        model = Model(next, it)
      }
    } finally if (vecsCached != null) vecsCached.unpersist(false)
    model
  }

  /** One exact-contract Lloyd pass: codegen'd chain-distance assignment +
    * treeAggregate of per-cluster (sum, count) — the oracle path. */
  private def statsExact(df: DataFrame, vCol: String,
      centers: Array[Array[Double]], k: Int, dim: Int): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val assigned = df.select(
      element_at(org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.VecNearestCenters(
          org.apache.spark.sql.GraftColumnBridge.expression(col(vCol)),
          centers, 1)), 1).as("cluster"),
      col(vCol).as("v")).as[(Int, Array[Double])]
    assigned.rdd.treeAggregate(
      Array.fill(k)(new Array[Double](dim + 1)))(
      seqOp = { case (acc, (c, v)) =>
        // c can be -1 for all-NaN distance rows (NaN never beats the
        // +Inf sentinel); skip them like the old groupBy path did
        if (c >= 0) {
          val a = acc(c)
          var i = 0
          while (i < dim) { a(i) += v(i); i += 1 }
          a(dim) += 1.0
        }
        acc
      },
      combOp = { (x, y) =>
        var c = 0
        while (c < k) {
          val a = x(c); val b = y(c)
          var i = 0
          while (i <= dim) { a(i) += b(i); i += 1 }
          c += 1
        }
        x
      }, depth = 2)
  }

  val K = 8
  val Iters = 3
  /** Gate query clusters on the first 16 dims: the unrolled-Lloyd DuckDB
    * oracle's expression tree is O(iters·dim) — 64 dims OOM'd the
    * driver's gate (round 1) purely on oracle-side planning memory. */
  val QDim = 16

  /** Gate query: fit on `embeddings`, emit per-cluster size, center norm,
    * and mean point-to-center distance. */
  def query(spark: SparkSession, dir: String): DataFrame =
    queryVia(spark, dir, identity)

  /** [[query]] with a model pass-through hook: the ModelIO gate threads
    * a parquet save→load roundtrip here, so its (identical) oracle
    * hash-checks that persistence preserves the exact fitted params. */
  def queryVia(spark: SparkSession, dir: String,
      via: Model => Model): DataFrame = {
    val pts = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, QDim), x => x.cast("double")).as("v"))
      .cache()
    val model = via(fit(pts, "v", "vec_id", K, Iters))
    val norms = model.centers.indices
      .map(i => (i, BigDecimal(model.centerNorm(i))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    val normCol = norms.foldRight(lit(Double.NaN): Column) { case ((i, n), acc) =>
      when(col("cluster") === i, lit(n)).otherwise(acc)
    }
    val out = pts.select(model.assignCol(col("v")).as("cluster"),
        model.distCol(col("v")).as("d"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"), round(avg("d"), 6).as("avg_dist"))
      .withColumn("center_norm", normCol)
      .select(col("cluster"), col("n_points"), col("center_norm"), col("avg_dist"))
      .orderBy("cluster")
      .collect() // k rows; materialize so the input cache can be freed
    pts.unpersist(false)
    val spark2 = spark
    import spark2.implicits._
    out.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq.toDF("cluster", "n_points", "center_norm", "avg_dist")
  }

  /** Left-associated squared-distance chain (bitwise = VecSqDist fold). */
  def chainSql(p: String, c: String, dim: Int): String =
    (1 to dim).map(i => s"($p[$i]-$c[$i])*($p[$i]-$c[$i])").mkString(" + ")

  /** Min-(d, cl) assignment CTE of `src`(vec_id, v) against `cprev`(cl, v).
    * The distance chain is materialized ONCE per pair in an inner
    * subquery, then ranked on the plain column — half the expression-tree
    * size of ranking on a repeated chain (the round-1 formulation
    * exhausted the gate's DuckDB memory). */
  def assignCteSql(name: String, src: String, cprev: String, dim: Int): String =
    s"""$name AS (SELECT vec_id, v, cl, d FROM (
       |  SELECT vec_id, v, cl, d, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d ASC, cl ASC) AS rn
       |  FROM (SELECT p.vec_id, p.v, c.cl, ${chainSql("p.v", "c.v", dim)} AS d
       |    FROM $src p CROSS JOIN $cprev c)) WHERE rn = 1)""".stripMargin

  /** Unrolled Lloyd iterations over `src`(vec_id, v): emits CTEs c0
    * (first-k init, rounded) through c<iters> (final centers), mirroring
    * fit()'s determinism contract exactly. */
  def lloydCtesSql(src: String, dim: Int, k: Int, iters: Int): String = {
    def update(name: String, aprev: String, cprev: String): String =
      s"""${name}l AS (SELECT cl, list(x ORDER BY i) AS v FROM (
         |  SELECT cl, i, round(avg(v[i]), 6) AS x
         |  FROM $aprev CROSS JOIN generate_series(1, $dim) g(i)
         |  GROUP BY cl, i) GROUP BY cl),
         |$name AS (SELECT c.cl, coalesce(n.v, c.v) AS v
         |  FROM $cprev c LEFT JOIN ${name}l n ON c.cl = n.cl)""".stripMargin
    val iterSql = (1 to iters).map { t =>
      val (ap, cp, cn) = (s"a${src}$t", if (t == 1) s"c${src}0" else s"c$src${t - 1}", s"c$src$t")
      assignCteSql(ap, src, cp, dim) + ",\n" + update(cn, ap, cp)
    }.mkString(",\n")
    s"""c${src}0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl,
       |    list_transform(v, x -> round(x, 6)) AS v
       |  FROM $src ORDER BY vec_id LIMIT $k),
       |$iterSql""".stripMargin
  }

  /** Davies–Bouldin clustering-validity index over the gate fit — the
    * "is k any good?" companion the estimator family lacks (squared-
    * distance variant: Sᵢ is the mean SQUARED point-to-center distance
    * the gate already emits, Mᵢⱼ the squared center separation — a
    * monotone validity index with every quantity already pinned to the
    * round-6/micro determinism contract): per cluster the worst
    * (Sᵢ+Sⱼ)/Mᵢⱼ ratio in micro (fully tie-broken), DB = the integer
    * mean of the worst ratios. Duplicate centers (M = 0) pin NULL and
    * drop from the mean — visible, never dividing by zero.
    *
    * Scale: the fit is [[fit]]'s treeAggregate Lloyd; the index itself
    * is one assignment aggregate plus k² ≤ 64 driver-side pair terms
    * (k-bounded — the KM driver-fold class). */
  def daviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, QDim), x => x.cast("double")).as("v"))
      .cache()
    val model = fit(pts, "v", "vec_id", K, Iters)
    val s = pts.select(model.assignCol(col("v")).as("cluster"),
        model.distCol(col("v")).as("d"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), round(avg("d"), 6).as("s6"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    pts.unpersist(false)
    def m(i: Int, j: Int): Double = {
      var acc = 0.0
      var t = 0
      while (t < model.centers(i).length) {
        val dd = model.centers(i)(t) - model.centers(j)(t); acc += dd * dd; t += 1
      }
      BigDecimal(acc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val clusters = s.keys.toSeq.sorted
    val worst = clusters.map { i =>
      val ratios = clusters.filter(_ != i).flatMap { j =>
        val mij = m(i, j)
        if (mij == 0.0) None
        else Some((j, math.round((s(i)._2 + s(j)._2) * 1e6 / mij)))
      }
      i -> (if (ratios.isEmpty) None
      else Some(ratios.minBy { case (j, r) => (-r, j) }))
    }.toMap
    val defined = clusters.flatMap(i => worst(i).map(_._2))
    val db: Option[Long] =
      if (defined.isEmpty) None else Some(defined.sum / defined.length)
    val spark2 = spark
    import spark2.implicits._
    clusters.map { i =>
      (i, s(i)._1, s(i)._2, worst(i).map(_._1), worst(i).map(_._2), db)
    }.toDF("cluster", "n_points", "s6", "worst_j", "ratio_micro", "db_micro")
      .orderBy("cluster")
  }

  /** Simplified (centroid) silhouette over the gate fit — the per-point
    * validity companion to [[daviesBouldin]]'s per-cluster index (the
    * all-pairs silhouette is O(n²); the centroid surrogate a = squared
    * distance to the OWN center, b = to the SECOND-nearest is its
    * standard large-n form, non-negative by construction): per point
    * s_micro = round((d₂−d₁)·10⁶/d₂) with d₂ = 0 (a point sitting on
    * two duplicate centers) pinned to 0, per-cluster mean Σs DIV n,
    * and the global mean stamped on every row. Distances are the same
    * left-associated (v[i]−c[i])² chains as the Lloyd oracle, so both
    * engines see bit-identical doubles before the one rounded ratio.
    *
    * Scale: the fit is [[fit]]'s treeAggregate Lloyd; the index is ONE
    * extra scan evaluating k codegen'd distance chains per row,
    * partial-aggregated to k rows. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    import org.apache.spark.sql.Column
    val pts = s.persist(Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, QDim), x => x.cast("double")).as("v")))
    val model = fit(pts, "v", "vec_id", K, Iters)
    def dist(c: Array[Double]): Column =
      (0 until QDim).map { i =>
        val d = element_at(col("v"), i + 1) - lit(c(i))
        d * d
      }.reduceLeft(_ + _)
    val sorted = array_sort(array(model.centers.map(dist): _*))
    // k rows; the cached points are dead after it
    val per = s.checkpoint(pts.select(
        model.assignCol(col("v")).as("cluster"),
        element_at(sorted, 1).as("d1"), element_at(sorted, 2).as("d2"))
      .selectExpr("cluster",
        """CAST(CASE WHEN d2 = 0.0 THEN 0
          |  ELSE round((d2 - d1) * 1000000 / d2) END AS BIGINT) AS s_micro""".stripMargin)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"), sum("s_micro").as("ssum")))
    s.free(pts)
    val glob = per.agg(
      expr("CAST(sum(ssum) DIV sum(n_points) AS BIGINT)").as("overall_micro"))
    per.crossJoin(broadcast(glob))
      .selectExpr("cluster", "n_points",
        "CAST(ssum DIV n_points AS BIGINT) AS sil_micro", "overall_micro")
      .orderBy("cluster")
  }

  /** DuckDB oracle for [[silhouette]]: unrolled-Lloyd CTEs, rank-2
    * distances per point, the identical micro arithmetic. */
  def silhouetteOracle: String = {
    val dim = QDim
    s"""WITH pts AS (SELECT vec_id, list_transform(embedding[1:$dim], x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |${lloydCtesSql("pts", dim, K, Iters)},
       |dd AS (SELECT p.vec_id, c.cl, ${chainSql("p.v", "c.v", dim)} AS d
       |  FROM pts p CROSS JOIN cpts$Iters c),
       |rk AS (SELECT vec_id, cl, d, row_number()
       |    OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn FROM dd),
       |pp AS (SELECT a1.vec_id, a1.cl AS cluster, a1.d AS d1, a2.d AS d2
       |  FROM rk a1 JOIN rk a2 ON a2.vec_id = a1.vec_id AND a2.rn = 2
       |  WHERE a1.rn = 1),
       |s AS (SELECT cluster, CASE WHEN d2 = 0 THEN 0
       |    ELSE CAST(round((d2 - d1) * 1000000 / d2) AS BIGINT) END AS s_micro
       |  FROM pp),
       |per AS (SELECT cluster, count(*)::BIGINT AS n_points,
       |    sum(s_micro)::BIGINT AS ssum FROM s GROUP BY cluster),
       |g AS (SELECT (sum(ssum) // sum(n_points))::BIGINT AS overall FROM per)
       |SELECT cluster, n_points, (ssum // n_points)::BIGINT AS sil_micro,
       |  (SELECT overall FROM g) AS overall_micro
       |FROM per ORDER BY cluster""".stripMargin
  }

  /** DuckDB oracle for [[daviesBouldin]]: the unrolled-Lloyd CTEs plus
    * the k² pair table recomputed arithmetically. */
  def dbOracle: String = {
    val dim = QDim
    s"""WITH pts AS (SELECT vec_id, list_transform(embedding[1:$dim], x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |${lloydCtesSql("pts", dim, K, Iters)},
       |${assignCteSql("af", "pts", s"cpts$Iters", dim)},
       |s AS (SELECT af.cl, count(*)::BIGINT AS n, round(avg(af.d), 6) AS s6
       |  FROM af GROUP BY af.cl),
       |pairs AS (SELECT a.cl AS i, b.cl AS j,
       |    CASE WHEN round(${chainSql("a.v", "b.v", dim)}, 6) = 0 THEN NULL
       |      ELSE round((sa.s6 + sb.s6) * 1000000
       |        / round(${chainSql("a.v", "b.v", dim)}, 6))::BIGINT END AS r
       |  FROM cpts$Iters a JOIN cpts$Iters b ON a.cl <> b.cl
       |  JOIN s sa ON sa.cl = a.cl JOIN s sb ON sb.cl = b.cl),
       |rk AS (SELECT i, j, r, row_number()
       |    OVER (PARTITION BY i ORDER BY r DESC, j) AS rn
       |  FROM pairs WHERE r IS NOT NULL),
       |w AS (SELECT i, j AS worst_j, r AS ratio_micro FROM rk WHERE rn = 1),
       |db AS (SELECT sum(ratio_micro) // count(*) AS db FROM w)
       |SELECT s.cl AS cluster, s.n AS n_points, s.s6,
       |  w.worst_j::INT AS worst_j, w.ratio_micro,
       |  (SELECT db FROM db)::BIGINT AS db_micro
       |FROM s LEFT JOIN w ON w.i = s.cl ORDER BY cluster""".stripMargin
  }

  /** DuckDB oracle: the same 3 Lloyd iterations unrolled as CTEs. */
  def oracle: String = {
    val dim = QDim
    val normChain = (1 to dim).map(i => s"v[$i]*v[$i]").mkString(" + ")
    s"""WITH pts AS (SELECT vec_id, list_transform(embedding[1:$dim], x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |${lloydCtesSql("pts", dim, K, Iters)},
       |${assignCteSql("af", "pts", s"cpts$Iters", dim)}
       |SELECT af.cl AS cluster, count(*) AS n_points,
       |  any_value(cn.nrm) AS center_norm, round(avg(af.d), 6) AS avg_dist
       |FROM af JOIN (SELECT cl, round(sqrt($normChain), 4) AS nrm FROM cpts$Iters) cn
       |  ON af.cl = cn.cl
       |GROUP BY af.cl ORDER BY cluster""".stripMargin
  }
}
