package graft.ml

import graft.Tables
import graft.functions.VectorFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed DBSCAN (reference: dislib/cluster/dbscan/base.py:16-199 —
  * grid-partitioned parallel DBSCAN with cross-region label merge via
  * connected components; MLlib has no DBSCAN).
  *
  * Spark-first reformulation (no per-region sklearn clone needed):
  *  1. grid cells of side eps; every point is copied to its 3^d
  *     neighboring cells (halo) — an owned point's full eps-ball is then
  *     inside its cell group (range self-join by spatial proximity,
  *     SURVEY.md §2.6);
  *  2. coreness = exact neighbor count per owned point (one shuffle);
  *  3. core–core edges within eps (same cell-halo join) → GraphX
  *     connectedComponents (the distributed replacement for dislib's
  *     driver-side `_get_connected_components`, base.py:435-454 — no
  *     driver bottleneck at 1000-executor scale);
  *  4. border points attach to their minimum-id core neighbor; the rest
  *     is noise (-1).
  *
  * Deterministic: labels are component min-vertex-ids; border attachment
  * by min core id.
  *
  * Skew hardening: a cell holding m ≫ minPts points makes the in-cell
  * pair join quadratic ON ONE SHUFFLE KEY (dislib caps with
  * max_samples and loses exactness). Here every eps-join is salted for
  * cells whose m² exceeds a per-task pair budget: the probe side keeps
  * one salt (id mod s), the build side replicates s ways, so the same
  * exact pair set is evaluated across s tasks instead of one. The pair
  * COUNT is inherent to exact DBSCAN semantics — salting bounds
  * per-task work, which is the only degree of freedom. The fast path
  * (no cell above the budget — one cheap count-agg to find out) runs
  * the unsalted joins.
  */
object DbscanGraft {

  /** Pairs-per-task budget: a cell with m halo points salts its pair
    * fan-out across ceil(m²/budget) (≤ MaxSalt) buckets once m² exceeds
    * this. 16M predicate evaluations ≈ well under a second per task. */
  val PairBudgetPerTask: Long = 16L * 1000 * 1000
  val MaxSalt = 512

  /** (cell, __sf) for cells needing salt factor > 1, or None when the
    * densest cell fits the budget (the common, zero-overhead case). */
  private[ml] def cellSalts(halo: DataFrame, budget: Long): Option[DataFrame] = {
    val stats = halo.groupBy("cell").agg(count(lit(1)).as("m"))
    val maxCell = stats.agg(max("m")).head().getLong(0)
    if (maxCell * maxCell <= budget) None
    else Some(stats.select(col("cell"),
      least(ceil(col("m") * col("m") / lit(budget.toDouble)), lit(MaxSalt))
        .cast("int").as("__sf"))
      .filter(col("__sf") > 1))
  }

  /** Cell-equi eps-join of `a` (probe, owned points) against `b` (halo),
    * aliased "a"/"b" for `cond`. With salts: a keeps one salt bucket
    * (id mod s), b replicates s ways — identical pair set, s-way split. */
  private[ml] def epsPairJoin(a: DataFrame, b: DataFrame,
      salts: Option[DataFrame], cond: Column): DataFrame = salts match {
    case None =>
      a.as("a").join(b.as("b"), col("a.cell") === col("b.cell") && cond)
    case Some(sf) =>
      val aS = a.join(sf, Seq("cell"), "left").na.fill(1, Seq("__sf"))
        .withColumn("__salt", pmod(col("id"), col("__sf").cast("long")).cast("int"))
        .drop("__sf")
      val bS = b.join(sf, Seq("cell"), "left").na.fill(1, Seq("__sf"))
        .withColumn("__salt", explode(sequence(lit(0), col("__sf") - 1)))
        .drop("__sf")
      aS.as("a").join(bS.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.__salt") === col("b.__salt") && cond)
  }

  /** df(idCol: long, vCol: array<double>) → df(id, cluster) with
    * cluster = -1 for noise; cluster ids are min core ids per cluster. */
  def fit(df: DataFrame, idCol: String, vCol: String,
      eps: Double, minPts: Int,
      pairBudget: Long = PairBudgetPerTask): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(size(col(vCol))).head().getInt(0)
    val pts = df.select(col(idCol).cast("long").as("id"), col(vCol).as("v")).cache()
    val mins = pts.select((0 until d).map(i =>
      min(element_at(col("v"), i + 1)).as(s"m$i")): _*).head()

    // offsets: 3^d neighbor cells; owned copy has offset all-zero
    val offsets = (0 until d).foldLeft(Seq(Seq.empty[Int])) { (acc, _) =>
      acc.flatMap(o => Seq(-1, 0, 1).map(o :+ _))
    }
    val withCell = pts.withColumn("cell_arr", array((0 until d).map(i =>
      floor((element_at(col("v"), i + 1) - lit(mins.getDouble(i))) / lit(eps))
        .cast("long")): _*))
    val halo = withCell.withColumn("off", explode(typedLit(offsets)))
      .withColumn("cell", concat_ws(",", (0 until d).map(i =>
        element_at(col("cell_arr"), i + 1) + element_at(col("off"), i + 1)): _*))
      .withColumn("owned", (0 until d).map(i =>
        element_at(col("off"), i + 1) === 0).reduce(_ && _))
      .select("id", "v", "cell", "owned")
      .cache()

    // dense-cell salting (one cheap agg; None at non-pathological scales)
    val salts = cellSalts(halo, pairBudget).map(_.cache())

    // 2. exact neighbor counts for owned points (pairs within same cell)
    val own = halo.filter(col("owned")).select(col("id"), col("v"), col("cell"))
    val neigh = epsPairJoin(own, halo, salts,
        col("a.id") =!= col("b.id") &&
          sqDist(col("a.v"), col("b.v")) <= lit(eps * eps))
      .groupBy(col("a.id").as("id")).agg(count(lit(1)).as("n_neigh"))
    val coreness = own.select("id", "cell").join(neigh, Seq("id"), "left")
      .withColumn("core", coalesce(col("n_neigh"), lit(0L)) >= (minPts - 1))
      .select("id", "core").cache()

    val haloC = halo.join(coreness, "id")

    // 3. core-core edges (deduped) → connected components
    val coreOwn = haloC.filter(col("owned") && col("core"))
      .select(col("id"), col("v"), col("cell"))
    val coreHalo = haloC.filter(col("core")).select(col("id"), col("v"), col("cell"))
    val edges = epsPairJoin(coreOwn, coreHalo, salts,
        col("a.id") < col("b.id") &&
          sqDist(col("a.v"), col("b.v")) <= lit(eps * eps))
      .select(col("a.id").as("src"), col("b.id").as("dst"))
      .distinct()
    val coreIds = coreness.filter(col("core")).select("id")
    // Scale-adaptive CC (driver union-find below the edge threshold,
    // GraphX above — see operators.Components for the argument); the
    // core-core edge set is orders of magnitude smaller than the input
    // (only intra-eps core pairs).
    val ccRaw = graft.operators.Components.connected(edges)
    val ccDf = ccRaw.toDF("id", "cluster")
    // singleton cores (no edges) keep their own id as cluster
    val coreLabels = coreIds.join(ccDf, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      .cache()

    // 4. border points: nearest-by-id core within eps; else noise
    val nonCore = coreness.filter(!col("core")).select("id")
    val nonCorePts = own.join(nonCore, "id")
    val borderCand = epsPairJoin(nonCorePts, haloC.filter(col("core")), salts,
        sqDist(col("a.v"), col("b.v")) <= lit(eps * eps))
      .groupBy(col("a.id").as("id")).agg(min(col("b.id")).as("core_id"))
    val borderLabels = borderCand
      .join(coreLabels.select(col("id").as("core_id"), col("cluster")), "core_id")
      .select("id", "cluster")
    val noise = nonCore.join(borderCand.select("id"), Seq("id"), "left_anti")
      .select(col("id"), lit(-1L).as("cluster"))

    val out = coreLabels.select("id", "cluster")
      .unionAll(borderLabels).unionAll(noise)
      .cache()
    out.count() // materialize, then release the working caches
    (Seq(pts, halo, coreness, coreLabels, ccRaw) ++ salts).foreach(_.unpersist(false))
    out
  }

  val QueryEps = 0.05
  val QueryMinPts = 4

  /** Gate query: DBSCAN over the first two embedding dims; cluster
    * sizes. Oracle-checked — the grid/halo machinery is purely a
    * performance device, so the DuckDB oracle runs textbook all-pairs
    * DBSCAN with a recursive-CTE min-label propagation standing in for
    * GraphX connectedComponents (both converge to min-id labels). */
  def query(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        array(element_at(col("embedding"), 1).cast("double"),
          element_at(col("embedding"), 2).cast("double")).as("v"))
    graft.GateUtil.pinned { s =>
      s.own(fit(df, "vec_id", "v", QueryEps, QueryMinPts))
        .groupBy("cluster").agg(count(lit(1)).as("n_points"))
        .orderBy(col("n_points").desc, col("cluster"))
    }
  }

  def oracle: String =
    s"""WITH pts AS (SELECT vec_id AS id, embedding[1]::DOUBLE AS x,
       |    embedding[2]::DOUBLE AS y FROM embeddings),
       |-- left-associated distance chain == the Spark fold, bitwise
       |nb AS (SELECT a.id AS ida, b.id AS idb FROM pts a JOIN pts b
       |  ON a.id <> b.id AND
       |     (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
       |       <= ($QueryEps::DOUBLE * $QueryEps::DOUBLE)),
       |deg AS (SELECT ida AS id, count(*) AS n FROM nb GROUP BY ida),
       |core AS (SELECT p.id FROM pts p JOIN deg d ON p.id = d.id
       |  WHERE d.n >= ${QueryMinPts - 1}),
       |ce AS (SELECT n.ida AS a, n.idb AS b FROM nb n
       |  JOIN core c1 ON n.ida = c1.id JOIN core c2 ON n.idb = c2.id),
       |cc AS (WITH RECURSIVE r(id, lbl) AS (
       |    SELECT id, id FROM core
       |    UNION
       |    SELECT e.b, r.lbl FROM r JOIN ce e ON e.a = r.id)
       |  SELECT id, min(lbl) AS cluster FROM r GROUP BY id),
       |border AS (SELECT n.ida AS id, min(n.idb) AS core_id FROM nb n
       |  JOIN core c ON n.idb = c.id
       |  WHERE n.ida NOT IN (SELECT id FROM core) GROUP BY n.ida),
       |labels AS (
       |  SELECT id, cluster FROM cc
       |  UNION ALL
       |  SELECT b.id, cc.cluster FROM border b JOIN cc ON b.core_id = cc.id
       |  UNION ALL
       |  SELECT p.id, -1 AS cluster FROM pts p
       |  WHERE p.id NOT IN (SELECT id FROM cc)
       |    AND p.id NOT IN (SELECT id FROM border))
       |SELECT cluster, count(*) AS n_points FROM labels
       |GROUP BY cluster ORDER BY n_points DESC, cluster""".stripMargin
}
