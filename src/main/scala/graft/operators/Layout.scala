package graft.operators

import graft.GateUtil._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — the multi-dimensional clustering
  * technique behind Delta/Iceberg OPTIMIZE ZORDER BY: quantize each
  * dimension into 2^bits rank buckets, interleave the bucket bits into
  * one integer key, then range-partition + sort by that key. Rows close
  * in the key are close in EVERY dimension, so parquet min/max footer
  * stats prune files for predicates on any Z-dimension — where a plain
  * sort clusters only its leading column and leaves the others spanning
  * the full range in every file.
  *
  * Scale: one narrow bounds pass (min/max per dimension — partial+final
  * agg) and one TeraSort-shaped range-partitioned sort on the key. The
  * key arithmetic is pure integer/IEEE column expressions (codegen'd, no
  * UDF), identical in any engine — the oracle replays it bit-for-bit.
  */
object Layout {
  type Q = (SparkSession, String) => DataFrame

  val ZBits = 10 // 1024 buckets per dimension → 20-bit key

  /** Interleave the low `bits` of x (even positions) and y (odd): the
    * Morton key as a fold of shift/mask column expressions. */
  def mortonKey(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { b =>
      (shiftleft(shiftrightunsigned(x, b).bitwiseAND(1), 2 * b))
        .bitwiseOR(shiftleft(shiftrightunsigned(y, b).bitwiseAND(1), 2 * b + 1))
    }.reduce(_ bitwiseOR _)

  /** Equi-width quantization to [0, 2^bits): the exact expression shape
    * (subtract, multiply, divide, floor, clamp) is mirrored in the
    * oracle so the IEEE op sequence — and therefore every bucket id —
    * is engine-identical. */
  def quantize(c: Column, mn: Column, mx: Column, bits: Int): Column =
    when(mx === mn, lit(0L)).otherwise( // constant dimension → one bucket
      least(lit((1 << bits) - 1),
        floor((c - mn) * lit((1 << bits).toDouble) / (mx - mn)).cast("long")))

  /** Z-order the orders table on (o_totalprice, o_orderdate-epoch-day)
    * and report per-curve-cell locality: the top 6 key bits partition
    * the plane into 64 tiles; each tile's count and per-dimension
    * min/max spread show both dimensions clustered at once. The gate
    * pins the full key arithmetic; the layout write itself (range
    * partition + sort by z_key) is spec-verified for file-level span
    * shrinkage vs a single-column sort. */
  def zorderCells(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
          .cast("double").as("d"))
    val b = o.agg(min("o_totalprice").as("pmn"), max("o_totalprice").as("pmx"),
      min("d").as("dmn"), max("d").as("dmx"))
    val z = o.crossJoin(broadcast(b))
      .withColumn("zp", quantize(col("o_totalprice"), col("pmn"), col("pmx"), ZBits))
      .withColumn("zd", quantize(col("d"), col("dmn"), col("dmx"), ZBits))
      .withColumn("zkey", mortonKey(col("zp"), col("zd"), ZBits))
    z.groupBy(shiftrightunsigned(col("zkey"), 2 * ZBits - 6).as("cell"))
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("price_min"),
        round(max("o_totalprice"), 2).as("price_max"),
        min("d").cast("long").as("day_min"),
        max("d").cast("long").as("day_max"))
      .orderBy("cell")
  }

  /** The layout itself (for specs and real use): range-partition + sort
    * by the Morton key; `numFiles` controls output granularity. Returns
    * the laid-out frame WITH the key so callers can write it out. */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
      bits: Int = ZBits, numFiles: Int = 0): DataFrame = {
    val b = df.agg(min(xCol).as("xmn"), max(xCol).as("xmx"),
      min(yCol).as("ymn"), max(yCol).as("ymx"))
    val keyed = df.crossJoin(broadcast(b))
      .withColumn("zkey", mortonKey(
        quantize(col(xCol).cast("double"), col("xmn").cast("double"),
          col("xmx").cast("double"), bits),
        quantize(col(yCol).cast("double"), col("ymn").cast("double"),
          col("ymx").cast("double"), bits), bits))
      .drop("xmn", "xmx", "ymn", "ymx")
    val parts = if (numFiles > 0) keyed.repartitionByRange(numFiles, col("zkey"))
      else keyed.repartitionByRange(col("zkey"))
    parts.sortWithinPartitions("zkey")
  }

  val SpatialMod = 100000L // coordinate space [0, 1e5)²
  val SpatialR = 1500L     // radius; also the grid cell edge
  val SpatialTopK = 15

  /** Grid-partitioned spatial radius self-join — the standard
    * distributed spatial-join pattern (uniform grid with cell edge =
    * radius, one side replicated to its 3×3 cell neighborhood, exact
    * integer distance² filter): every pair within the radius lands in
    * adjacent cells, and each qualifying pair matches EXACTLY once
    * because the cell offset between two fixed points is unique — no
    * post-join dedup. Customer points get deterministic coordinates
    * from the engine-portable 56-bit hash, so the oracle can derive the
    * identical point set and brute-force the pairs.
    *
    * Scale: the candidate join is a hash join keyed on cells — fact
    * rows shuffle once (9× replication of one side, the textbook
    * constant), never the O(n²) cross product the oracle uses; density
    * per cell, not corpus size, bounds the per-key work. */
  def spatialJoin(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    import graft.functions.TextFns.hash56
    val pts = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("id"),
      pmod(hash56(concat(lit("x#"), col("c_custkey").cast("string"))),
        lit(SpatialMod)).as("x"),
      pmod(hash56(concat(lit("y#"), col("c_custkey").cast("string"))),
        lit(SpatialMod)).as("y"))
    spatialJoinDf(pts, SpatialR, SpatialTopK)
  }

  /** Core over any (id, x, y) integer point frame. */
  def spatialJoinDf(pts: DataFrame, r: Long, topK: Int)(implicit s: Scope): DataFrame = {
    val spark = pts.sparkSession
    val base = pts.select(col("id"), col("x"), col("y"),
      expr(s"x DIV $r").as("cx"), expr(s"y DIV $r").as("cy"))
    val offsets = spark.range(9).select(
      (col("id") / 3).cast("long").minus(1L).as("dx"),
      (col("id") % 3).cast("long").minus(1L).as("dy"))
    val repl = base.select(col("id").as("idb"), col("x").as("xb"),
        col("y").as("yb"), col("cx").as("bcx"), col("cy").as("bcy"))
      .crossJoin(broadcast(offsets))
      .select(col("idb"), col("xb"), col("yb"),
        (col("bcx") + col("dx")).as("ncx"), (col("bcy") + col("dy")).as("ncy"))
    val pairs = s.checkpoint(base.join(repl,
        col("cx") === col("ncx") && col("cy") === col("ncy") &&
          col("id") < col("idb"))
      .select(col("id").as("a"), col("idb").as("b"),
        ((col("x") - col("xb")) * (col("x") - col("xb")) +
          (col("y") - col("yb")) * (col("y") - col("yb"))).as("dist2"))
      .filter(col("dist2") <= r * r)) // pairs feed both the count and the top-k
    val tot = pairs.agg(count(lit(1)).as("n_pairs"))
    pairs.crossJoin(broadcast(tot))
      .orderBy(asc("dist2"), asc("a"), asc("b"))
      .limit(topK)
      .select(col("a"), col("b"), col("dist2"), col("n_pairs"))
  }

  /** Nearest-neighbor distance census — the spatial-statistics classic
    * (Clark–Evans-style clustering diagnostics read the NN-distance
    * distribution): per point the nearest neighbor WITHIN the grid
    * radius via the same 3×3 replication as [[spatialJoinDf]] (both
    * directions this time — every point needs its own minimum), then a
    * census over 10 equal dist² buckets plus the isolated count
    * (bucket −1 = no neighbor within r). Exact integer distances and
    * bucket arithmetic.
    *
    * Scale: identical posture to the spatial join — cells bound the
    * candidate fan-out; the per-point min is a partial+final agg. */
  def nnDistance(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    import graft.functions.TextFns.hash56
    val pts = Tables.customer(spark, dir).select(
      col("c_custkey").cast("long").as("id"),
      pmod(hash56(concat(lit("x#"), col("c_custkey").cast("string"))),
        lit(SpatialMod)).as("x"),
      pmod(hash56(concat(lit("y#"), col("c_custkey").cast("string"))),
        lit(SpatialMod)).as("y"))
    nnDistanceDf(pts, SpatialR)
  }

  /** Core over any (id, x, y) integer point frame. */
  def nnDistanceDf(pts0: DataFrame, r: Long)(implicit s: Scope): DataFrame = {
    val pts = s.checkpoint(pts0) // feeds base, repl, and the census
    val spark = pts.sparkSession
    val base = pts.select(col("id"), col("x"), col("y"),
      expr(s"x DIV $r").as("cx"), expr(s"y DIV $r").as("cy"))
    val offsets = spark.range(9).select(
      (col("id") / 3).cast("long").minus(1L).as("dx"),
      (col("id") % 3).cast("long").minus(1L).as("dy"))
    val repl = base.select(col("id").as("idb"), col("x").as("xb"),
        col("y").as("yb"), col("cx").as("bcx"), col("cy").as("bcy"))
      .crossJoin(broadcast(offsets))
      .select(col("idb"), col("xb"), col("yb"),
        (col("bcx") + col("dx")).as("ncx"), (col("bcy") + col("dy")).as("ncy"))
    val nn = base.join(repl,
        col("cx") === col("ncx") && col("cy") === col("ncy") &&
          col("id") =!= col("idb"))
      .select(col("id"),
        ((col("x") - col("xb")) * (col("x") - col("xb")) +
          (col("y") - col("yb")) * (col("y") - col("yb"))).as("dist2"))
      .filter(col("dist2") <= r * r)
      .groupBy("id").agg(min("dist2").as("nn_dist2"))
    val withIso = pts.join(nn, Seq("id"), "left")
      .selectExpr(
        s"""CASE WHEN nn_dist2 IS NULL THEN -1
           | ELSE CAST((nn_dist2 * 10) DIV ${r * r} AS INT) END AS bucket"""
          .stripMargin)
    withIso.groupBy("bucket").agg(count(lit(1)).as("n_points"))
      .orderBy("bucket")
  }

  val PlannerTargetBytes = 128L * 1024 * 1024 // the classic 128 MiB file

  /** Partition file-layout planner — the lakehouse-operations table
    * every large writer needs before a backfill (how many files should
    * each ship-year partition get so files land near the 128 MiB
    * sweet spot?): per partition the exact row count and an exact
    * integer byte estimate (fixed 8 B per numeric/date column + actual
    * string lengths — a deterministic size model, not a sampled one),
    * then files = ⌈bytes/target⌉ and the skew ratio vs the mean
    * partition in bp. Small-file pressure reads directly off rec_files
    * = 1 rows.
    *
    * Scale: ONE map-side pass over the fact table folding byte widths
    * into a partial+final rollup on the bounded partition key. */
  def filePlanner(spark: SparkSession, dir: String): DataFrame = {
    val rowBytes = // 4 dates/ids/nums × 8 B modeled columns + strings
      expr("""8 * 8 + length(l_returnflag) + length(l_linestatus)""")
    val parts = Tables.lineitem(spark, dir)
      .select(year(col("l_shipdate")).as("ship_year"), rowBytes.as("rb"))
      .groupBy("ship_year")
      .agg(count(lit(1)).as("n_rows"), sum(col("rb").cast("long")).as("est_bytes"))
    val mean = parts.agg(expr("sum(est_bytes) DIV count(1)").as("mean_bytes"))
    parts.crossJoin(broadcast(mean))
      .selectExpr("ship_year", "n_rows", "est_bytes",
        "est_bytes DIV n_rows AS avg_row_bytes",
        s"(est_bytes + ${PlannerTargetBytes - 1}) DIV $PlannerTargetBytes AS rec_files",
        "(est_bytes * 10000) DIV mean_bytes AS skew_bp")
      .orderBy("ship_year")
  }

  val queries: Map[String, Q] = Map(
    "q_file_planner" -> (filePlanner _),
    "q_zorder_cells" -> (zorderCells _),
    "q_spatial_join" -> (spatialJoin _),
    "q_nn_distance" -> (nnDistance _))

  val oracles: Map[String, String] = Map(
    "q_file_planner" ->
      s"""WITH parts AS (SELECT year(l_shipdate)::INT AS ship_year,
         |    count(*)::BIGINT AS n_rows,
         |    sum(8 * 8 + length(l_returnflag) + length(l_linestatus))::BIGINT
         |      AS est_bytes
         |  FROM lineitem GROUP BY 1),
         |m AS (SELECT sum(est_bytes) // count(*) AS mean_bytes FROM parts)
         |SELECT ship_year, n_rows, est_bytes,
         |  (est_bytes // n_rows)::BIGINT AS avg_row_bytes,
         |  ((est_bytes + ${PlannerTargetBytes - 1}) // $PlannerTargetBytes)::BIGINT
         |    AS rec_files,
         |  ((est_bytes * 10000) // (SELECT mean_bytes FROM m))::BIGINT AS skew_bp
         |FROM parts ORDER BY ship_year""".stripMargin,
    "q_nn_distance" ->
      s"""WITH p AS MATERIALIZED (SELECT c_custkey::BIGINT AS id,
         |    ('0x'||substr(md5('x#'||c_custkey::VARCHAR),1,14))::UBIGINT::BIGINT
         |      % $SpatialMod AS x,
         |    ('0x'||substr(md5('y#'||c_custkey::VARCHAR),1,14))::UBIGINT::BIGINT
         |      % $SpatialMod AS y
         |  FROM customer),
         |nn AS (SELECT a.id,
         |    min((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS nn_dist2
         |  FROM p a JOIN p b ON a.id <> b.id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
         |    <= ${SpatialR * SpatialR}
         |  GROUP BY a.id),
         |bk AS (SELECT CASE WHEN nn_dist2 IS NULL THEN -1
         |    ELSE ((nn_dist2 * 10) // ${SpatialR * SpatialR})::INT END AS bucket
         |  FROM p LEFT JOIN nn USING (id))
         |SELECT bucket, count(*)::BIGINT AS n_points
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_spatial_join" ->
      s"""WITH p AS MATERIALIZED (SELECT c_custkey::BIGINT AS id,
         |    ('0x'||substr(md5('x#'||c_custkey::VARCHAR),1,14))::UBIGINT::BIGINT
         |      % $SpatialMod AS x,
         |    ('0x'||substr(md5('y#'||c_custkey::VARCHAR),1,14))::UBIGINT::BIGINT
         |      % $SpatialMod AS y
         |  FROM customer),
         |pairs AS MATERIALIZED (SELECT a.id AS a, b.id AS b,
         |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
         |  FROM p a JOIN p b ON a.id < b.id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
         |    <= ${SpatialR * SpatialR}),
         |tot AS (SELECT count(*)::BIGINT AS n_pairs FROM pairs)
         |SELECT a, b, dist2, n_pairs FROM pairs CROSS JOIN tot
         |ORDER BY dist2, a, b LIMIT $SpatialTopK""".stripMargin,
    "q_zorder_cells" -> {
      val n = 1 << ZBits
      def q(x: String, mn: String, mx: String) = // mirrors quantize incl. the constant-dimension branch
        s"CASE WHEN $mx = $mn THEN 0 ELSE least(${n - 1}, floor(($x - $mn) * $n.0 / ($mx - $mn))::BIGINT) END"
      val interleave = (0 until ZBits).map(b =>
        s"(((zp >> $b) & 1) << ${2 * b}) | (((zd >> $b) & 1) << ${2 * b + 1})")
        .mkString(" | ")
      s"""WITH o AS (SELECT o_orderkey, o_totalprice,
         |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))::DOUBLE AS d
         |  FROM orders),
         |b AS (SELECT min(o_totalprice) AS pmn, max(o_totalprice) AS pmx,
         |    min(d) AS dmn, max(d) AS dmx FROM o),
         |z0 AS (SELECT o.*, ${q("o_totalprice", "pmn", "pmx")} AS zp,
         |    ${q("d", "dmn", "dmx")} AS zd FROM o CROSS JOIN b),
         |z AS (SELECT *, $interleave AS zkey FROM z0)
         |SELECT (zkey >> ${2 * ZBits - 6}) AS cell, count(*) AS n,
         |  round(min(o_totalprice), 2) AS price_min,
         |  round(max(o_totalprice), 2) AS price_max,
         |  min(d)::BIGINT AS day_min, max(d)::BIGINT AS day_max
         |FROM z GROUP BY cell ORDER BY cell""".stripMargin
    })
}
