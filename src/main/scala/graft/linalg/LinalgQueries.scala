package graft.linalg

import graft.Tables
import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.mllib.linalg.distributed.IndexedRow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked gate queries for the distributed linear-algebra layer
  * (SURVEY.md §2.3 matmul/kron, §2.8 tsqr/svd).
  *
  * DuckDB has no matrix algebra, so each query is checked through an
  * algebraic identity the oracle CAN compute with plain SQL aggregation:
  *   - blocked GEMM:  G = AᵀA element-by-element vs sum(v[i]·v[j]);
  *   - TSQR:          RᵀR = AᵀA (R is exactly the Cholesky factor);
  *   - SVD:           Σσ² = trace(AᵀA), Σσ⁴ = ‖AᵀA‖²_F (spectrum moments);
  *   - Kronecker:     K[i,j] = A[i÷3, j÷2]·B[i%3, j%2] (pure products).
  * These pin the distributed results to the data, not to a re-derivation
  * with the same code path.
  */
object LinalgQueries {
  type Q = (SparkSession, String) => DataFrame

  val P = 8

  /** embeddings' first P dims as indexed rows (vec_id is 0..n-1 dense). */
  private def embRows(spark: SparkSession, dir: String) =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, P), x => x.cast("double")).as("v"))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Gram matrix through the blocked-GEMM path: A as a multi-block
    * DsArray, G = Aᵀ %*% A (BlockMatrix shuffle multiply), collected. */
  /** Rechunk invisibility gate: re-tile the 8×2 block grid to uneven
    * 17×3 blocks, then compute the SAME Gramian as q_matmul_gram — the
    * DsArray.rechunk surface (load_blocks_rechunk, previously spec-only)
    * must be a pure layout change, pinned against the identical oracle.
    * (Block-sum order changes with the tiling; the shared round-6 output
    * already dominates that fp noise, same as the base gate.) */
  /** AᵀA. MLlib's multiply caches a block-shape RDD per operand that it
    * never frees; the scope frees both. */
  private def gram(a: DsArray) = graft.GateUtil.scoped { s =>
    val at = a.transpose
    val g = (at %*% a).collect()
    Seq(at, a).flatMap(_.shapeCache).foreach(s.own(_))
    g
  }

  def rechunkGram(spark: SparkSession, dir: String): DataFrame = {
    val rows = embRows(spark, dir).map { case (i, v) =>
      IndexedRow(i, Vectors.dense(v)) }
    val n = rows.count()
    val a = DsArray.fromIndexedRows(rows, n, P, 64, 4).rechunk(17, 3)
    val g = gram(a)
    val spark2 = spark
    import spark2.implicits._
    (for (i <- 0 until P; j <- 0 until P) yield
      (i, j, BigDecimal(g(i, j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("i", "j", "val").orderBy("i", "j")
  }

  def matmulGram(spark: SparkSession, dir: String): DataFrame = {
    val rows = embRows(spark, dir).map { case (i, v) =>
      IndexedRow(i, Vectors.dense(v)) }
    val n = rows.count()
    val a = DsArray.fromIndexedRows(rows, n, P, 64, 4) // 8×2 block grid
    val g = gram(a)
    val spark2 = spark
    import spark2.implicits._
    (for (i <- 0 until P; j <- 0 until P) yield
      (i, j, BigDecimal(g(i, j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("i", "j", "val").orderBy("i", "j")
  }

  /** Full-mode blocked QR gate: R is pinned to the data through
    * RᵀR = AᵀA (same identity as the TSQR gate — R is the Cholesky
    * factor regardless of Q mode), and the m×m Q's orthogonality is
    * verified DISTRIBUTEDLY (gram of the Q rows vs identity) and emitted
    * as a flag row the oracle expects to be 1. */
  /** Constant-size input (vec_id < QrFullM) at every SF: the gate checks
    * the ALGORITHM's invariants, and full Q is inherently O(m²) — an
    * unbounded m would make this query's bench cost quadratic in SF. */
  val QrFullM = 500

  def qrFull(spark: SparkSession, dir: String): DataFrame = {
    val rows = embRows(spark, dir)
      .filter(_._1 < QrFullM).cache()
    val m = rows.count().toInt
    val (qRows, r) = Decompositions.fullQr(rows, P, panelW = 64)
    val rtr = r.t * r
    val qg = Decompositions.gram(qRows.values, m)
    qRows.unpersist(false); rows.unpersist(false)
    val orthoDev = breeze.linalg.max(breeze.numerics.abs(
      qg - breeze.linalg.DenseMatrix.eye[Double](m)))
    val orthoOk = if (orthoDev < 1e-8) 1.0 else 0.0
    val spark2 = spark
    import spark2.implicits._
    ((for (i <- 0 until P; j <- i until P) yield
      (i, j, BigDecimal(rtr(i, j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      :+ ((-1, -1, orthoOk)))
      .toDF("i", "j", "val").orderBy("i", "j")
  }

  /** Blocked Cholesky gate: G = XᵀX comes from the distributed
    * treeAggregate gram (the heavy half — feature count small next to
    * rows, the tall-skinny normal-equations posture shared with
    * LinearRegression), L = chol(G) factors the P×P result, and the
    * gate pins L to the data through the reconstruction identity
    * LLᵀ = G (round-6, same discipline as q_qr_full's RᵀR) plus a
    * structural flag row: L strictly-lower-triangular with positive
    * diagonal. The oracle recomputes G directly in SQL. */
  def choleskyGram(spark: SparkSession, dir: String): DataFrame = {
    val g = Decompositions.gram(embRows(spark, dir).values, P)
    val l = breeze.linalg.cholesky(g)
    val rec = l * l.t
    val structOk = {
      val upperZero = (0 until P).forall(i =>
        (i + 1 until P).forall(j => l(i, j) == 0.0))
      val diagPos = (0 until P).forall(i => l(i, i) > 0.0)
      if (upperZero && diagPos) 1.0 else 0.0
    }
    val spark2 = spark
    import spark2.implicits._
    ((for (i <- 0 until P; j <- i until P) yield
      (i, j, BigDecimal(rec(i, j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      :+ ((-1, -1, structOk)))
      .toDF("i", "j", "val").orderBy("i", "j")
  }

  /** Embedding centroid drift between labels — the embedding-space
    * face of distribution monitoring (q_psi_drift covers scalars; at
    * 100 TB you watch whether a class's embedding cluster MOVED):
    * pairwise squared L2 distance between per-label centroids over the
    * first P dims. Components round to integer micro at ingest, the
    * per-(label, dim) sums are exact longs, and the centroid difference
    * cross-multiplies as (s_a·n_b − s_b·n_a)² DIV (n_a²n_b²·10⁶) in
    * DECIMAL(38,0)/HUGEINT — no fp mean anywhere, so the pairwise
    * drift table is engine-exact. Honest headroom: the summed
    * numerator is O(P·10¹³·n⁴) for unit-norm components, so DECIMAL(38)
    * carries it to ~10⁶ rows/label at P=8 — past that, move the
    * division per-dim with the quotient+remainder split (and accept
    * n ≈ 5·10⁶) or rescale vm to 10³ micro-units; non-ANSI Spark would
    * otherwise NULL where DuckDB HUGEINT errors.
    *
    * Scale: one partial+final (label, dim) rollup — |labels|·P cells —
    * then a labels²-sized pair join on that tiny frame. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(slice(col("embedding"), 1, P)))
      .selectExpr("label", "pos AS dim",
        "CAST(round(CAST(col AS DOUBLE) * 1000000) AS BIGINT) AS vm")
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum("vm").as("s"))
    val a = cells.selectExpr("label AS la", "dim", "n AS na", "s AS sa")
    val b = cells.selectExpr("label AS lb", "dim", "n AS nb", "s AS sb")
    a.join(b, Seq("dim")).filter(col("la") < col("lb"))
      .groupBy("la", "lb", "na", "nb")
      .agg(sum(expr(
        """(CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na)
          | * (CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na)
          |""".stripMargin)).as("num"))
      .selectExpr("la AS label_a", "lb AS label_b", "na AS n_a", "nb AS n_b",
        """CAST(num DIV (CAST(na AS DECIMAL(38,0)) * na * nb * nb * 1000000)
          | AS BIGINT) AS dist2_micro""".stripMargin)
      .orderBy("label_a", "label_b")
  }

  /** TSQR R factor checked through RᵀR = AᵀA (upper triangle). */
  def tsqrR(spark: SparkSession, dir: String): DataFrame = {
    val (_, r) = Decompositions.tsqr(embRows(spark, dir), P)
    val rtr = r.t * r
    val spark2 = spark
    import spark2.implicits._
    (for (i <- 0 until P; j <- i until P) yield
      (i, j, BigDecimal(rtr(i, j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("i", "j", "val").orderBy("i", "j")
  }

  /** Distributed SVD checked through its spectrum moments. */
  def svdMoments(spark: SparkSession, dir: String): DataFrame = {
    val (_, sv, _) = Decompositions.svd(embRows(spark, dir), P, P)
    val s2 = sv.toArray.map(s => s * s)
    def r(x: Double, d: Int) =
      BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    Seq(("sum_sq", r(s2.sum, 6)), ("sum_quad", r(s2.map(x => x * x).sum, 4)))
      .toDF("moment", "value").orderBy("moment")
  }

  /** Kronecker product of two data-derived tiles (A: rows 0-1, B: rows
    * 2-4, first 2 dims each) through the blocked cartesian kron. */
  def kron(spark: SparkSession, dir: String): DataFrame = {
    val first5 = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 2), x => x.cast("double")).as("v"))
      .orderBy("vec_id").collect()
      .map(r => r.getSeq[Double](1).toArray)
    val sc = spark.sparkContext
    val a = DsArray.fromBreeze(sc,
      new breeze.linalg.DenseMatrix(2, 2, Array(
        first5(0)(0), first5(1)(0), first5(0)(1), first5(1)(1))), 1, 2)
    val b = DsArray.fromBreeze(sc,
      new breeze.linalg.DenseMatrix(3, 2, Array(
        first5(2)(0), first5(3)(0), first5(4)(0),
        first5(2)(1), first5(3)(1), first5(4)(1))), 2, 1)
    val k = DsArray.kron(a, b).collect()
    val spark2 = spark
    import spark2.implicits._
    (for (i <- 0 until 6; j <- 0 until 4) yield
      (i, j, BigDecimal(k(i, j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("i", "j", "val").orderBy("i", "j")
  }

  /** Randomized (Halko sketch) SVD checked through the same spectrum
    * moments: with sketch width l = p the subspace is exact, so the
    * recovered spectrum must match the oracle's Gram-derived moments. */
  def randSvdMoments(spark: SparkSession, dir: String): DataFrame = {
    val (sv, _) = Decompositions.randomizedSvd(embRows(spark, dir), P, P,
      oversample = 0, powerIters = 1, seed = 42)
    val s2 = sv.toArray.map(s => s * s)
    def r(x: Double, d: Int) =
      BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    Seq(("sum_sq", r(s2.sum, 6)), ("sum_quad", r(s2.map(x => x * x).sum, 4)))
      .toDF("moment", "value").orderBy("moment")
  }

  /** Positional array surgery (ds-array __getitem__/delete/concat
    * semantics, SURVEY §2.3 + §7.3 "positional semantics" hard part):
    * D = A[10:40] minus row 5 of the slice, stacked with A[0:5]; checked
    * via per-column sums of D, D⊙D (hadamard) and D+D — all reproducible
    * in SQL because vec_id IS the row index. */
  def arrayOps(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 4), x => x.cast("double")).as("v"))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .map { case (i, v) => IndexedRow(i, Vectors.dense(v)) }
    val n = rows.count()
    val a = DsArray.fromIndexedRows(rows, n, 4, 100, 4)
    val d = a.sliceRows(10, 40).deleteRow(5).concatRows(a.sliceRows(0, 5))
    val sums = d.applyAlongAxis(0)(
      m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
    val sq = d.hadamard(d).applyAlongAxis(0)(
      m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
    val dbl = (d + d).applyAlongAxis(0)(
      m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    (0 until 4).map(i =>
      (i, r6(sums(0, i)), r6(sq(0, i)), r6(dbl(0, i))))
      .toDF("dim", "sum_v", "sum_sq", "sum_dbl").orderBy("dim")
  }

  /** Fancy indexing gate (reference __getitem__ row/col lists + 2-D
    * slices, array.py:124-160, 788-1046): emits the VALUES at each
    * output position of a row-list (with a duplicate) × col-list gather
    * — order-preservation is checked, not just membership — plus
    * per-column sums of a 2-D slice. */
  def fancyIndex(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 6), x => x.cast("double")).as("v"))
      .rdd.map(r => IndexedRow(r.getLong(0), Vectors.dense(r.getSeq[Double](1).toArray)))
    val n = rows.count()
    val a = DsArray.fromIndexedRows(rows, n, 6, 100, 3)
    val rIdx = Seq(30L, 10L, 20L, 10L, 40L)
    val cIdx = Seq(4, 0, 2)
    val d = a.selectRows(rIdx).selectCols(cIdx).collect() // 5×3
    val s = a.slice2D(20, 50, 1, 5)
    def colSums(x: DsArray) = x.applyAlongAxis(0)(
      m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
    val sums = colSums(s)
    val sq = colSums(s.hadamard(s))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    val fancyRows = (0 until 5).map(k =>
      ("fancy", k, r6(d(k, 0)), r6(d(k, 1)), r6(d(k, 2))))
    val sliceRows = (0 until 4).map(i =>
      ("slice", i, r6(sums(0, i)), r6(sq(0, i)), 30.0))
    (fancyRows ++ sliceRows).toDF("part", "pos", "c1", "c2", "c3")
      .orderBy("part", "pos")
  }

  /** Sparse gram gate: embeddings' first 8 dims hard-thresholded at
    * |x| > 0.15 (≈23% density) into COO → sparse-tile DsArray →
    * G = Aᵀ %*% A through BlockMatrix's sparse-aware blocked GEMM,
    * cross-checked against the O(nnz²)-per-row treeAggregate gramSparse
    * (both paths must agree before the oracle sees anything). */
  def sparseGram(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, P), x => x.cast("double")).as("v"))
      .rdd.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val entries = base.flatMap { case (i, v) =>
      v.iterator.zipWithIndex.collect {
        case (x, j) if math.abs(x) > 0.15 => (i, j.toLong, x)
      }
    }
    val n = base.map(_._1).max() + 1
    val a = DsArray.fromCOO(entries, n, P, 64, 4)
    val g = gram(a)
    val coo = base.map { case (_, v) =>
      val kept = v.iterator.zipWithIndex.filter { case (x, _) => math.abs(x) > 0.15 }.toArray
      (kept.map(_._2), kept.map(_._1))
    }
    val g2 = Decompositions.gramSparse(coo, P)
    require(breeze.linalg.max(breeze.numerics.abs(g - g2)) < 1e-9,
      "sparse GEMM and sparse treeAggregate gram disagree")
    val spark2 = spark
    import spark2.implicits._
    (for (i <- 0 until P; j <- 0 until P) yield
      (i, j, BigDecimal(g(i, j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("i", "j", "val").orderBy("i", "j")
  }

  /** Positional WRITE gate (reference __setitem__, array.py:162-204,
    * 719-748): element write at (7,1) and a partial column write on
    * col 2 (even vec_ids only — odd rows must keep their data), checked
    * through per-column sum/sum-of-squares, which pin every merged cell
    * to either the original data or the written value. Both writes
    * rebuild only the touched tiles (narrow map, no shuffle). */
  def setItem(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 100)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 4), x => x.cast("double")).as("v"))
      .rdd.map(r => IndexedRow(r.getLong(0), Vectors.dense(r.getSeq[Double](1).toArray)))
    val a = DsArray.fromIndexedRows(rows, 100, 4, 16, 2)
    val colVals = (0L until 100L by 2).map(i => i -> i * 0.01).toMap
    val b = a.setElement(7, 1, 3.25).setColumn(2, colVals)
    def colSums(x: DsArray) = x.applyAlongAxis(0)(
      m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
    val sums = colSums(b)
    val sq = colSums(b.hadamard(b))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    (0 until 4).map(i => (i, r6(sums(0, i)), r6(sq(0, i))))
      .toDF("dim", "sum_v", "sum_sq").orderBy("dim")
  }

  /** pad gate (reference dislib.data.util.pad, data/util/base.py:11-80):
    * bottom/right constant padding past the regular block size (the
    * reference's unsupported case), pinned by per-column sum /
    * sum-of-squares — original columns carry the data plus the pad
    * contribution, new columns are pure fill. */
  def padGate(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 60)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 3), x => x.cast("double")).as("v"))
      .rdd.map(r => IndexedRow(r.getLong(0), Vectors.dense(r.getSeq[Double](1).toArray)))
    val a = DsArray.fromIndexedRows(rows, 60, 3, 16, 2)
    val p = a.pad(4, 2, value = 1.5) // 64×5
    def colSums(x: DsArray) = x.applyAlongAxis(0)(
      m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
    val sums = colSums(p)
    val sq = colSums(p.hadamard(p))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    (0 until 5).map(i => (i, r6(sums(0, i)), r6(sq(0, i))))
      .toDF("dim", "sum_v", "sum_sq").orderBy("dim")
  }

  /** apply_along_axis gate (reference array.py:1320-1380 via
    * math/base.py apply_along_axis): axis 1 = per-row L2 norm of the
    * first 50 rows (row-order-pinning output, one value per row);
    * axis 0 = per-column max over the whole table (per-partition Breeze
    * reduce + treeReduce combine). */
  def applyAxis(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 6), x => x.cast("double")).as("v"))
      .rdd.map(r => IndexedRow(r.getLong(0), Vectors.dense(r.getSeq[Double](1).toArray)))
    val n = base.count()
    val a = DsArray.fromIndexedRows(base, n, 6, 100, 3)
    val rowNorms = a.sliceRows(0, 50).applyAlongAxis(1)(m =>
      breeze.linalg.DenseVector(breeze.linalg.norm(m.toDenseVector))).collect()
    val colMax = a.applyAlongAxis(0)(
      m => breeze.linalg.max(m(::, breeze.linalg.*)).t,
      (x, y) => breeze.linalg.max(x, y)).collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark2 = spark
    import spark2.implicits._
    ((0 until 50).map(i => ("row", i, r6(rowNorms(i, 0)))) ++
      (0 until 6).map(j => ("colmax", j, r6(colMax(0, j)))))
      .toDF("part", "pos", "val").orderBy("part", "pos")
  }

  val queries: Map[String, Q] = Map(
    "q_set_item" -> (setItem _),
    "q_apply_axis" -> (applyAxis _),
    "q_pad" -> (padGate _),
    "q_qr_full" -> (qrFull _),
    "q_cholesky" -> (choleskyGram _),
    "q_embedding_drift" -> (embeddingDrift _),
    "q_sparse_gram" -> (sparseGram _),
    "q_fancy_index" -> (fancyIndex _),
    "q_matmul_gram" -> (matmulGram _),
    "q_rechunk_gram" -> (rechunkGram _),
    "q_tsqr_r" -> (tsqrR _),
    "q_svd_moments" -> (svdMoments _),
    "q_randsvd_moments" -> (randSvdMoments _),
    "q_array_ops" -> (arrayOps _),
    "q_kron" -> (kron _))

  private val gramCte =
    s"""WITH e AS (SELECT list_transform(embedding[1:$P], x -> x::DOUBLE) AS v
       |    FROM embeddings),
       |idx AS (SELECT i, j FROM generate_series(1, $P) g(i)
       |    CROSS JOIN generate_series(1, $P) h(j)),
       |g AS (SELECT i, j, sum(v[i] * v[j]) AS gij
       |    FROM e CROSS JOIN idx GROUP BY i, j)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_set_item" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding[1:4], x -> x::DOUBLE) AS v
        |    FROM embeddings WHERE vec_id < 100),
        |m AS (SELECT vec_id, [v[1],
        |    CASE WHEN vec_id = 7 THEN 3.25 ELSE v[2] END,
        |    CASE WHEN vec_id % 2 = 0 THEN vec_id * 0.01 ELSE v[3] END,
        |    v[4]] AS w
        |  FROM e)
        |SELECT (i - 1)::INT AS dim, round(sum(w[i]), 6) AS sum_v,
        |  round(sum(w[i] * w[i]), 6) AS sum_sq
        |FROM m CROSS JOIN generate_series(1, 4) g(i)
        |GROUP BY i ORDER BY dim""".stripMargin,
    "q_pad" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding[1:3], x -> x::DOUBLE) AS v
        |    FROM embeddings WHERE vec_id < 60)
        |SELECT (i - 1)::INT AS dim,
        |  round(CASE WHEN i <= 3 THEN sum(v[i]) + 4 * 1.5 ELSE 64 * 1.5 END, 6) AS sum_v,
        |  round(CASE WHEN i <= 3 THEN sum(v[i] * v[i]) + 4 * 2.25 ELSE 64 * 2.25 END, 6) AS sum_sq
        |FROM e CROSS JOIN generate_series(1, 5) g(i)
        |GROUP BY i ORDER BY dim""".stripMargin,
    "q_apply_axis" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding[1:6], x -> x::DOUBLE) AS v
        |    FROM embeddings),
        |r AS (SELECT 'row' AS part, vec_id::INT AS pos,
        |    round(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS val
        |  FROM e WHERE vec_id < 50),
        |c AS (SELECT 'colmax' AS part, (i - 1)::INT AS pos,
        |    round(max(v[i]), 6) AS val
        |  FROM e CROSS JOIN generate_series(1, 6) g(i) GROUP BY i)
        |SELECT * FROM r UNION ALL SELECT * FROM c
        |ORDER BY part, pos""".stripMargin,
    "q_sparse_gram" ->
      s"""WITH e AS (SELECT list_transform(embedding[1:$P],
         |      x -> CASE WHEN abs(x::DOUBLE) > 0.15 THEN x::DOUBLE ELSE 0.0::DOUBLE END) AS v
         |    FROM embeddings),
         |idx AS (SELECT i, j FROM generate_series(1, $P) g(i)
         |    CROSS JOIN generate_series(1, $P) h(j))
         |SELECT i - 1 AS i, j - 1 AS j, round(sum(v[i] * v[j]), 6) AS val
         |FROM e CROSS JOIN idx GROUP BY i, j
         |ORDER BY i, j""".stripMargin,
    "q_fancy_index" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding[1:6], x -> x::DOUBLE) AS v
        |    FROM embeddings),
        |f(pos, id) AS (VALUES (0, 30), (1, 10), (2, 20), (3, 10), (4, 40)),
        |fancy AS (SELECT 'fancy' AS part, f.pos::INT AS pos,
        |    round(e.v[5], 6) AS c1, round(e.v[1], 6) AS c2, round(e.v[3], 6) AS c3
        |  FROM f JOIN e ON e.vec_id = f.id),
        |s AS (SELECT v FROM e WHERE vec_id BETWEEN 20 AND 49),
        |sl AS (SELECT 'slice' AS part, (i - 2)::INT AS pos,
        |    round(sum(v[i]), 6) AS c1, round(sum(v[i] * v[i]), 6) AS c2,
        |    count(*)::DOUBLE AS c3
        |  FROM s CROSS JOIN generate_series(2, 5) g(i) GROUP BY i)
        |SELECT * FROM fancy UNION ALL SELECT * FROM sl
        |ORDER BY part, pos""".stripMargin,
    "q_matmul_gram" ->
      s"""$gramCte
         |SELECT i - 1 AS i, j - 1 AS j, round(gij, 6) AS val FROM g
         |ORDER BY i, j""".stripMargin,
    "q_rechunk_gram" ->
      s"""$gramCte
         |SELECT i - 1 AS i, j - 1 AS j, round(gij, 6) AS val FROM g
         |ORDER BY i, j""".stripMargin,
    "q_tsqr_r" ->
      s"""$gramCte
         |SELECT i - 1 AS i, j - 1 AS j, round(gij, 6) AS val FROM g
         |WHERE i <= j ORDER BY i, j""".stripMargin,
    "q_qr_full" ->
      s"""WITH e AS (SELECT list_transform(embedding[1:$P], x -> x::DOUBLE) AS v
         |    FROM embeddings WHERE vec_id < $QrFullM),
         |idx AS (SELECT i, j FROM generate_series(1, $P) g(i)
         |    CROSS JOIN generate_series(1, $P) h(j)),
         |g AS (SELECT i, j, sum(v[i] * v[j]) AS gij
         |    FROM e CROSS JOIN idx GROUP BY i, j)
         |SELECT i - 1 AS i, j - 1 AS j, round(gij, 6) AS val FROM g
         |WHERE i <= j
         |UNION ALL SELECT -1, -1, 1.0::DOUBLE
         |ORDER BY i, j""".stripMargin,
    "q_embedding_drift" ->
      s"""WITH cells AS (SELECT label, dim, count(*)::BIGINT AS n,
         |    sum(vm)::BIGINT AS s
         |  FROM (SELECT label, i AS dim,
         |      CAST(round(embedding[i + 1]::DOUBLE * 1000000) AS BIGINT) AS vm
         |    FROM embeddings CROSS JOIN generate_series(0, ${P - 1}) g(i))
         |  GROUP BY label, dim)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  a.n AS n_a, b.n AS n_b,
         |  (sum((a.s::HUGEINT * b.n - b.s::HUGEINT * a.n)
         |     * (a.s::HUGEINT * b.n - b.s::HUGEINT * a.n))
         |   // (a.n::HUGEINT * a.n * b.n * b.n * 1000000))::BIGINT
         |    AS dist2_micro
         |FROM cells a JOIN cells b ON a.dim = b.dim AND a.label < b.label
         |GROUP BY a.label, b.label, a.n, b.n
         |ORDER BY label_a, label_b""".stripMargin,
    "q_cholesky" ->
      s"""$gramCte
         |SELECT i - 1 AS i, j - 1 AS j, round(gij, 6) AS val FROM g
         |WHERE i <= j
         |UNION ALL SELECT -1, -1, 1.0::DOUBLE
         |ORDER BY i, j""".stripMargin,
    "q_svd_moments" ->
      s"""$gramCte
         |SELECT 'sum_quad' AS moment, round(sum(gij * gij), 4) AS value FROM g
         |UNION ALL
         |SELECT 'sum_sq', round(sum(gij) FILTER (WHERE i = j), 6) FROM g
         |ORDER BY moment""".stripMargin,
    "q_randsvd_moments" ->
      s"""$gramCte
         |SELECT 'sum_quad' AS moment, round(sum(gij * gij), 4) AS value FROM g
         |UNION ALL
         |SELECT 'sum_sq', round(sum(gij) FILTER (WHERE i = j), 6) FROM g
         |ORDER BY moment""".stripMargin,
    "q_array_ops" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding[1:4], x -> x::DOUBLE) AS v
        |    FROM embeddings),
        |d AS (SELECT v FROM e
        |    WHERE (vec_id BETWEEN 10 AND 39 AND vec_id <> 15) OR vec_id < 5)
        |SELECT (i - 1)::INT AS dim, round(sum(v[i]), 6) AS sum_v,
        |  round(sum(v[i] * v[i]), 6) AS sum_sq,
        |  round(sum(v[i] + v[i]), 6) AS sum_dbl
        |FROM d CROSS JOIN generate_series(1, 4) g(i)
        |GROUP BY i ORDER BY dim""".stripMargin,
    "q_kron" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding[1:2], x -> x::DOUBLE) AS v
        |    FROM embeddings WHERE vec_id < 5),
        |idx AS (SELECT i, j FROM generate_series(0, 5) gi(i)
        |    CROSS JOIN generate_series(0, 3) gj(j))
        |SELECT i, j, round(a.v[(j // 2) + 1] * b.v[(j % 2) + 1], 6) AS val
        |FROM idx JOIN e a ON a.vec_id = (i // 3)
        |JOIN e b ON b.vec_id = (i % 3) + 2
        |ORDER BY i, j""".stripMargin)
}
