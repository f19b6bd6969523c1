package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sources / sinks (reference: dislib/data/io.py — SURVEY.md §2.1).
  *
  * dislib's loaders read files into block-partitioned arrays on the
  * driver loop; here every format is a distributed DataFrame source with
  * pushdown where the format supports it. Parquet is the native format
  * (replaces `.npy`); `.mdcrd` (AMBER trajectories) is intentionally
  * not ported (niche — SURVEY.md §7.4).
  */
object Sources {

  /** SVMLight/libsvm → (features: Vector, label: Double) DataFrame
    * (reference: load_svmlight_file, io.py:15-74; sparse preserved). */
  def loadSvmlight(spark: SparkSession, path: String, numFeatures: Int = -1): DataFrame = {
    val r = spark.read.format("libsvm")
    (if (numFeatures > 0) r.option("numFeatures", numFeatures) else r).load(path)
  }

  /** Parse a .npy header (format spec v1/v2): returns
    * (dims, fortranOrder, bytesPerElem, dataOffset). Supports
    * '<f8'/'<f4' — the dtypes dislib's loaders produce (io.py:137-182). */
  private[graft] def parseNpyDims(b: Array[Byte]): (Array[Int], Boolean, Int, Int) = {
    require(b.length >= 10 && b(0) == 0x93.toByte &&
      new String(b, 1, 5, "US-ASCII") == "NUMPY", "not an .npy file")
    val (headerLen, headerOff) =
      if (b(6) == 1) ((b(8) & 0xff) | ((b(9) & 0xff) << 8), 10)
      else (java.nio.ByteBuffer.wrap(b, 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt, 12)
    val header = new String(b, headerOff, headerLen, "US-ASCII")
    val descr = "'descr':\\s*'([^']+)'".r.findFirstMatchIn(header)
      .getOrElse(sys.error("npy: no descr")).group(1)
    require(descr == "<f8" || descr == "<f4", s"npy: unsupported dtype $descr")
    val fortran = "'fortran_order':\\s*(True|False)".r.findFirstMatchIn(header)
      .getOrElse(sys.error("npy: no fortran_order")).group(1) == "True"
    val dims = "'shape':\\s*\\(([^)]*)\\)".r.findFirstMatchIn(header)
      .getOrElse(sys.error("npy: no shape")).group(1)
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt)
    (dims, fortran, if (descr == "<f8") 8 else 4, headerOff + headerLen)
  }

  /** (rows, cols, fortranOrder, bytesPerElem, dataOffset) of a 1-D/2-D
    * .npy — the matrix-loader view. */
  private[sources] def parseNpyHeader(b: Array[Byte]): (Int, Int, Boolean, Int, Int) = {
    val (dims, fortran, w, off) = parseNpyDims(b)
    val (r, c) = dims match {
      case Array(n) => (n, 1)
      case Array(n, m) => (n, m)
      case _ => sys.error(s"npy: matrix loader needs 1-D/2-D, got ${dims.length}-D")
    }
    (r, c, fortran, w, off)
  }

  /** Decode any-rank .npy payload to C-order doubles (Fortran order
    * supported for ≤ 2-D, the shapes dislib stores). */
  private[graft] def parseNpyND(b: Array[Byte]): (Array[Int], Array[Double]) = {
    val (dims, fortran, w, off) = parseNpyDims(b)
    require(!fortran || dims.length <= 2, "npy: fortran_order only for <= 2-D")
    val total = dims.product
    val bb = java.nio.ByteBuffer.wrap(b, off, total * w)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](total)
    val r = if (dims.nonEmpty) dims(0) else 1
    val c = if (dims.length > 1) dims(1) else 1
    var t = 0
    while (t < total) {
      val v = if (w == 8) bb.getDouble else bb.getFloat.toDouble
      // storage order t → C-order position
      val pos = if (fortran) (t % r) * c + (t / r) else t
      out(pos) = v
      t += 1
    }
    (dims, out)
  }

  /** Decode the .npy payload to row-major doubles (matrix view). */
  private[sources] def parseNpy(b: Array[Byte]): (Int, Int, Array[Double]) = {
    val (r, c, _, _, _) = parseNpyHeader(b)
    val (_, out) = parseNpyND(b)
    (r, c, out)
  }

  /** `.npy` → DsArray (reference: load_npy_file, io.py:137-182; a
    * directory of `.npy` files vstacks in path order — load_npy_files,
    * io.py:361-404 — and `load_hstack_npy_files` composes as
    * loadNpy(a).concatCols(loadNpy(b))). Migration-path reader: files
    * parse in parallel via binaryFile (one task per file), a tiny
    * header-only pass fixes the global row offsets. */
  def loadNpy(spark: SparkSession, path: String,
      rowsPerBlock: Int, colsPerBlock: Int): graft.linalg.DsArray = {
    import org.apache.spark.mllib.linalg.distributed.IndexedRow
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.npy").load(path)
      .select(col("path"), col("content"))
    val meta = files.rdd
      .map(r => (r.getString(0), parseNpyHeader(r.getAs[Array[Byte]](1))))
      .collect().sortBy(_._1)
    require(meta.nonEmpty, s"no .npy files at $path")
    val nCols = meta.head._2._2
    require(meta.forall(_._2._2 == nCols), "npy: column counts differ across files")
    val offsets = meta.scanLeft(0L) { case (acc, (_, (r, _, _, _, _))) => acc + r }
    val nRows = offsets.last
    val offByPath = meta.map(_._1).zip(offsets.init).toMap
    val bc = spark.sparkContext.broadcast(offByPath)
    val rows = files.rdd.flatMap { r =>
      val (nr, nc, vals) = parseNpy(r.getAs[Array[Byte]](1))
      val off = bc.value(r.getString(0))
      Iterator.range(0, nr).map(i => IndexedRow(off + i,
        org.apache.spark.mllib.linalg.Vectors.dense(
          java.util.Arrays.copyOfRange(vals, i * nc, (i + 1) * nc))))
    }
    graft.linalg.DsArray.fromIndexedRows(rows, nRows, nCols,
      rowsPerBlock, colsPerBlock)
  }

  /** Zip entries of an `.npz` payload (NumPy savez/savez_compressed is
    * plain ZIP of `<key>.npy` members — both STORED and DEFLATED forms
    * read through ZipInputStream). */
  private[graft] def npzEntries(b: Array[Byte]): Seq[(String, Array[Byte])] = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(b))
    val out = Seq.newBuilder[(String, Array[Byte])]
    var e = zin.getNextEntry
    while (e != null) {
      if (e.getName.endsWith(".npy")) out += ((e.getName, zin.readAllBytes()))
      zin.closeEntry()
      e = zin.getNextEntry
    }
    zin.close()
    out.result()
  }

  /** `.npz` → DsArray: NumPy's zip container ingested with the exact
    * [[loadNpy]] semantics — member arrays vstack in (file, entry-name)
    * order, a header-only metadata pass fixes global row offsets, and
    * each `.npz` file parses in one task (the container is a single
    * sequential stream; PARALLELISM comes from many files, the same
    * shape as numpy's own savez sharding). Read-side interchange only —
    * [[saveNpy]] + [[saveNpz]] are the write path. */
  def loadNpz(spark: SparkSession, path: String,
      rowsPerBlock: Int, colsPerBlock: Int): graft.linalg.DsArray = {
    import org.apache.spark.mllib.linalg.distributed.IndexedRow
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.npz").load(path)
      .select(col("path"), col("content"))
    val meta = files.rdd.flatMap { r =>
      npzEntries(r.getAs[Array[Byte]](1)).map { case (n, b) =>
        ((r.getString(0), n), parseNpyHeader(b))
      }
    }.collect().sortBy(_._1)
    require(meta.nonEmpty, s"no .npy members in .npz files at $path")
    val nCols = meta.head._2._2
    require(meta.forall(_._2._2 == nCols), "npz: column counts differ across members")
    val offsets = meta.scanLeft(0L) { case (acc, (_, (r, _, _, _, _))) => acc + r }
    val nRows = offsets.last
    val offByKey = meta.map(_._1).zip(offsets.init).toMap
    val bc = spark.sparkContext.broadcast(offByKey)
    val rows = files.rdd.flatMap { r =>
      npzEntries(r.getAs[Array[Byte]](1)).iterator.flatMap { case (n, b) =>
        val (nr, nc, vals) = parseNpy(b)
        val off = bc.value((r.getString(0), n))
        Iterator.range(0, nr).map(i => IndexedRow(off + i,
          org.apache.spark.mllib.linalg.Vectors.dense(
            java.util.Arrays.copyOfRange(vals, i * nc, (i + 1) * nc))))
      }
    }
    graft.linalg.DsArray.fromIndexedRows(rows, nRows, nCols,
      rowsPerBlock, colsPerBlock)
  }

  /** Package a [[saveNpy]] strip directory into one `.npz` (driver-side
    * convenience for NumPy interchange — the distributed write IS the
    * strip directory; zipping is a sequential container concern, exactly
    * like numpy's own single-writer savez). STORED (no deflate): `.npy`
    * doubles rarely compress and STORED keeps the roundtrip byte-exact
    * and seekable. */
  def saveNpz(npyDir: String, npzPath: String): Unit = {
    val dir = java.nio.file.Paths.get(npyDir)
    val zout = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(npzPath)))
    zout.setMethod(java.util.zip.ZipOutputStream.STORED)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".npy")).sortBy(_.getFileName.toString)
      .foreach { p =>
        val bytes = java.nio.file.Files.readAllBytes(p)
        val e = new java.util.zip.ZipEntry(p.getFileName.toString)
        e.setMethod(java.util.zip.ZipEntry.STORED)
        e.setSize(bytes.length.toLong)
        e.setCompressedSize(bytes.length.toLong)
        val crc = new java.util.zip.CRC32
        crc.update(bytes)
        e.setCrc(crc.getValue)
        zout.putNextEntry(e)
        zout.write(bytes)
        zout.closeEntry()
      }
    zout.close()
  }

  /** AMBER `.mdcrd` trajectory → DsArray of snapshots (reference:
    * load_mdcrd_file, io.py:183-228 — title line, then 8-char fixed-width
    * floats, 10 per line; each snapshot = nAtoms·3 coordinates). A
    * trajectory is a single sequential text format, so the file parses
    * in one task (binaryFile) and the snapshots distribute afterwards —
    * the same driver-sequential-read shape as the reference's loader. */
  def loadMdcrd(spark: SparkSession, path: String, nAtoms: Int,
      rowsPerBlock: Int = 1024): graft.linalg.DsArray = {
    import org.apache.spark.mllib.linalg.distributed.IndexedRow
    val perSnap = nAtoms * 3
    val content = spark.read.format("binaryFile").load(path)
      .select(col("content")).head().getAs[Array[Byte]](0)
    val lines = new String(content, "US-ASCII").split("\n")
    val vals = lines.iterator.drop(1).flatMap { line =>
      // fixed-width %8.3f columns, 10 per line (last line may be short)
      line.grouped(8).map(_.trim).filter(_.nonEmpty).map(_.toDouble)
    }.toArray
    require(vals.length % perSnap == 0,
      s"mdcrd: ${vals.length} values not divisible by $nAtoms atoms × 3")
    val n = vals.length / perSnap
    val rows = spark.sparkContext.parallelize(
      (0 until n).map(i => IndexedRow(i,
        org.apache.spark.mllib.linalg.Vectors.dense(
          java.util.Arrays.copyOfRange(vals, i * perSnap, (i + 1) * perSnap)))))
    graft.linalg.DsArray.fromIndexedRows(rows, n, perSnap,
      rowsPerBlock, perSnap)
  }

  /** Delimited text → DataFrame (reference: load_txt_file, io.py:77-134;
    * `discardFirstRow` ≙ header, `dropColumns` ≙ index-column drop). */
  def loadText(spark: SparkSession, path: String, delimiter: String = ",",
      header: Boolean = false, dropColumns: Seq[String] = Nil): DataFrame = {
    val df = spark.read.option("sep", delimiter).option("header", header)
      .option("inferSchema", true).csv(path)
    dropColumns.foldLeft(df)((d, c) => d.drop(c))
  }

  def loadParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC columnar source/sink — same predicate-pushdown/column-pruning
    * contract as parquet, second interchange format for ingest from
    * Hive-era warehouses. */
  def loadOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def saveOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def loadJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Save as delimited text, one file per partition (reference: save_txt,
    * io.py:308-334 — one file per block; `mergeRows` ≙ coalesce(1)). */
  def saveText(df: DataFrame, path: String, mergeRows: Boolean = false): Unit =
    (if (mergeRows) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).csv(path)

  /** Native columnar sink (replaces save_npy_file, io.py:335-360). */
  def saveParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Encode one matrix as .npy v1 bytes: '<f8', C order. */
  private def npyBytes(rows: Int, cols: Int, vals: Array[Double]): Array[Byte] = {
    val dict = s"{'descr': '<f8', 'fortran_order': False, 'shape': ($rows, $cols), }"
    val pad = (64 - (10 + dict.length + 1) % 64) % 64
    val header = dict + (" " * pad) + "\n"
    val out = java.nio.ByteBuffer.allocate(10 + header.length + vals.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(0x93.toByte).put("NUMPY".getBytes("US-ASCII"))
      .put(1.toByte).put(0.toByte)
    out.putShort(header.length.toShort)
    out.put(header.getBytes("US-ASCII"))
    vals.foreach(out.putDouble)
    out.array()
  }

  /** Save a DsArray as a directory of `.npy` strips (reference:
    * save_npy_file, io.py:335-360 — merge_rows=True layout, one file
    * per horizontal block-row). Names zero-pad the strip index so
    * [[loadNpy]]'s alphanumeric vstack order reconstructs the array;
    * the roundtrip is bit-exact ('<f8' C order both ways). Each strip
    * is assembled and written by ONE task — per-task memory is one
    * strip, the same bound as the reference's per-strip collect. The
    * target must be a directory every executor can reach (local mode /
    * shared mount): NPY is a NumPy-interchange format, parquet remains
    * the native distributed sink. */
  def saveNpy(arr: graft.linalg.DsArray, dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val (rpb, cpb) = arr.blockSize
    val nRows = arr.rows
    require(arr.cols <= 100000000L, "saveNpy: row width over 100M doubles")
    val nCols = arr.cols.toInt
    val nStrips = ((nRows + rpb - 1) / rpb).toInt
    val target = dir
    arr.bm.blocks.map { case ((bi, bj), m) => (bi, (bj, m)) }
      .groupByKey(math.max(1, math.min(nStrips,
        arr.bm.blocks.getNumPartitions)))
      .foreach { case (bi, tiles) =>
        val stripRows = math.min(rpb.toLong, nRows - bi.toLong * rpb).toInt
        val strip = new Array[Double](stripRows * nCols)
        tiles.foreach { case (bj, m) =>
          val c0 = bj * cpb
          val vals = m.toArray // column-major, dense and sparse alike
          var j = 0
          while (j < m.numCols) {
            var i = 0
            while (i < m.numRows) {
              strip(i * nCols + c0 + j) = vals(j * m.numRows + i)
              i += 1
            }
            j += 1
          }
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(target, f"part-$bi%05d.npy"),
          npyBytes(stripRows, nCols, strip))
      }
  }

  /** Global seeded random row shuffle (reference: dislib/utils/base.py:
    * 11-126 shuffle — preserves x/y pairing because whole rows move).
    * One range-partitioned sort on a seeded pseudo-random key. */
  def shuffle(df: DataFrame, seed: Long): DataFrame =
    df.withColumn("__r", rand(seed)).orderBy("__r").drop("__r")

  /** Run `f` against a fresh scratch directory, pin its (small) result
    * (GateUtil.pinned), and remove the directory — exception-safe, so a
    * failed write can't strand a /tmp copy either. Shared by every gate
    * that needs a scratch warehouse. */
  private def withScratchDir(prefix: String)(f: String => DataFrame): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    try graft.GateUtil.pinned(_ => f(base))
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(base)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Schema-evolution read — the data-lake reality the fixed-schema
    * loaders skip: epoch 1 wrote (key, price), epoch 2 added a column;
    * `mergeSchema` must surface epoch-1 rows with NULL in the new
    * column, not fail or drop them. The gate splits orders by key
    * parity into two parquet epochs, reads the directory merged, and
    * accounts both populations (sums in exact integer cents — fp sum
    * order cannot blur a lost row). Oracle recomputes from the orders
    * table with the same parity split. */
  def schemaEvolutionQuery(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(spark, dir)
    withScratchDir("graft-se") { base =>
      saveParquet(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        s"$base/t/epoch=1")
      saveParquet(o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority")),
        s"$base/t/epoch=2")
      spark.read.option("mergeSchema", "true").parquet(s"$base/t")
        .groupBy(col("o_orderpriority").isNull.as("missing_col"))
        .agg(count(lit(1)).as("n_orders"),
          sum("cents").as("sum_cents"),
          countDistinct("o_orderpriority").as("n_priorities"))
        .orderBy("missing_col")
    }
  }

  /** Oracle: the same split recomputed from the orders table. */
  val schemaEvolutionOracle: String =
    """SELECT (o_orderkey % 2 = 0) AS missing_col, count(*) AS n_orders,
      |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
      |  count(DISTINCT CASE WHEN o_orderkey % 2 = 1
      |    THEN o_orderpriority END)::BIGINT AS n_priorities
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Gate query: bucketed co-located join (the 100 TB technique for
    * repeated fact↔fact joins: both sides bucketed+sorted on the join
    * key at write time, so the join runs with ZERO exchange — at scale
    * this converts an N-times-repeated shuffle into a one-time layout
    * cost). lineitem and orders are written bucketed by orderkey into a
    * scratch warehouse; the join plan has no Exchange on either side. */
  def bucketJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val (tl, to) = ("graft_li_bkt", "graft_ord_bkt")
    try {
      graft.Tables.lineitem(spark, dir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode(SaveMode.Overwrite)
        .option("path", s"$wh/li")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable(tl)
      graft.Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderpriority")
        .write.mode(SaveMode.Overwrite)
        .option("path", s"$wh/ord")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable(to)
      // revenue pre-scaled to millions: the raw sum is ~1e9·SF where
      // agg-order noise (~|x|·ε·√N) reaches the 4th decimal
      val joined = spark.table(tl)
        .join(spark.table(to), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) / 1e6, 4)
            .as("revenue_m"))
        .orderBy("o_orderpriority")
      val shuffles = joined.queryExecution.executedPlan.toString()
        .linesIterator.count(_.contains("Exchange hashpartitioning(l_orderkey"))
      require(shuffles == 0, "bucketed join must not exchange on the join key")
      graft.GateUtil.pinned(_ => joined)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tl")
      spark.sql(s"DROP TABLE IF EXISTS $to")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(wh)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  val bucketJoinOracle: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  round(sum(l_extendedprice * (1 - l_discount)) / 1e6, 4) AS revenue_m
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Oracle: every roundtrip stage must preserve exactly the source's
    * row count and value sum — all five stages equal one scan of the
    * filtered source. */
  val roundtripOracle: String =
    """WITH s AS (SELECT count(*) AS n_rows,
      |    round(sum(l_extendedprice), 2) AS sum_price
      |  FROM lineitem WHERE l_quantity <= 5)
      |SELECT t.stage, s.n_rows, s.sum_price
      |FROM s CROSS JOIN (VALUES ('csv'), ('orc'), ('parquet'), ('shuffled'), ('source')) t(stage)
      |ORDER BY t.stage""".stripMargin

  /** Gate query: write→read roundtrips through the text, parquet and
    * ORC sinks plus a seeded shuffle, verified by invariant sums. */
  def roundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .filter(col("l_quantity") <= 5)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    withScratchDir("graft-rt") { base =>
    saveParquet(li, s"$base/pq")
    saveText(li, s"$base/csv")
    saveOrc(li, s"$base/orc")
    val pq = loadParquet(spark, s"$base/pq")
    val csv = loadText(spark, s"$base/csv")
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val orc = loadOrc(spark, s"$base/orc")
    val sh = shuffle(pq, seed = 7)
    val spark2 = spark
    import spark2.implicits._
    // one fused agg per stage (count + sum in a single job)
    def stat(df: DataFrame): (Long, Double) = {
      val r = df.agg(count(lit(1)), round(sum("l_extendedprice"), 2)).head()
      (r.getLong(0), r.getDouble(1))
    }
    Seq("source" -> stat(li), "parquet" -> stat(pq),
      "csv" -> stat(csv), "orc" -> stat(orc), "shuffled" -> stat(sh))
      .map { case (s, (n, v)) => (s, n, v) }
      .toDF("stage", "n_rows", "sum_price").orderBy("stage")
    }
  }

  /** Gate query: the libsvm loader gated end-to-end. Embeddings' first
    * 6 dims are scaled to exact integer micro-units, rendered as SPARSE
    * libsvm lines (zero entries omitted — the sparse path is what the
    * format exists for), parsed back by [[loadSvmlight]], and reduced
    * to per-dim sums the oracle recomputes straight from parquet.
    * Integer payloads make the text roundtrip exact by construction. */
  def svmlightQuery(spark: SparkSession, dir: String): DataFrame = {
    val rows = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 80)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 6),
          x => round(x.cast("double") * 1000000).cast("long")).as("v"))
      .orderBy("vec_id").collect()
    val lines = rows.map { r =>
      val label = r.getLong(0) % 3
      val feats = r.getSeq[Long](1).zipWithIndex
        .filter(_._1 != 0L)
        .map { case (v, i) => s"${i + 1}:$v" }.mkString(" ")
      s"$label $feats".trim
    }
    withScratchDir("graft-svml") { base =>
      java.nio.file.Files.write(java.nio.file.Paths.get(base, "data.txt"),
        String.join("\n", lines: _*).getBytes)
      val arr = loadSvmlight(spark, base, numFeatures = 6)
        .select(col("label"),
          org.apache.spark.ml.functions.vector_to_array(col("features")).as("f"))
      val aggs = sum(col("label").cast("long")).as("lsum") +:
        (0 until 6).map(i =>
          sum(element_at(col("f"), i + 1).cast("long")).as(s"s$i"))
      val r = arr.agg(aggs.head, aggs.tail: _*).head()
      val spark2 = spark
      import spark2.implicits._
      ((-1, r.getLong(0)) +: (0 until 6).map(i => (i, r.getLong(i + 1))))
        .toDF("dim", "sum_scaled").orderBy("dim")
    }
  }

  /** Gate query: the NPY sink+source and the hstack composition gated
    * end-to-end — two DsArrays (embeddings dims 1-3 and 4-5) go out
    * through [[saveNpy]], come back through [[loadNpy]] (multi-file dir
    * vstack), hstack via concatCols (= load_hstack_npy_files), and
    * reduce to per-column sums the oracle recomputes from parquet. The
    * '<f8' roundtrip is bit-exact, so only the usual agg-order rounding
    * applies. */
  def npyHstackQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.mllib.linalg.distributed.IndexedRow
    def arr(lo: Int, len: Int) = graft.linalg.DsArray.fromIndexedRows(
      graft.Tables.embeddings(spark, dir).filter(col("vec_id") < 50)
        .select(col("vec_id"),
          transform(slice(col("embedding"), lo, len), x => x.cast("double")).as("v"))
        .rdd.map(r => IndexedRow(r.getLong(0),
          Vectors.dense(r.getSeq[Double](1).toArray))),
      50, len, 16, 2)
    withScratchDir("graft-npy") { base =>
      saveNpy(arr(1, 3), s"$base/a")
      saveNpy(arr(4, 2), s"$base/b")
      val h = loadNpy(spark, s"$base/a", 16, 2)
        .concatCols(loadNpy(spark, s"$base/b", 16, 2)) // 50×5
      val sums = h.applyAlongAxis(0)(
        m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
      val sq = h.hadamard(h).applyAlongAxis(0)(
        m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val spark2 = spark
      import spark2.implicits._
      (0 until 5).map(i => (i, r6(sums(0, i)), r6(sq(0, i))))
        .toDF("dim", "sum_v", "sum_sq").orderBy("dim")
    }
  }

  /** Gate query: the `.npz` container roundtrip gated end-to-end —
    * 40×4 doubles strip-saved, packaged into ONE .npz, re-ingested by
    * [[loadNpz]] (bit-exact '<f8'), reduced to per-dim sums; the oracle
    * recomputes from the source table. Strips of 16 rows mean member
    * arrays vstack across entry boundaries — the order-sensitive case. */
  def npzRoundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.mllib.linalg.distributed.IndexedRow
    val arr = graft.linalg.DsArray.fromIndexedRows(
      graft.Tables.embeddings(spark, dir).filter(col("vec_id") < 40)
        .select(col("vec_id"),
          transform(slice(col("embedding"), 6, 4), x => x.cast("double")).as("v"))
        .rdd.map(r => IndexedRow(r.getLong(0),
          Vectors.dense(r.getSeq[Double](1).toArray))),
      40, 4, 16, 2)
    withScratchDir("graft-npz") { base =>
      saveNpy(arr, s"$base/strips")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/z"))
      saveNpz(s"$base/strips", s"$base/z/data.npz")
      val h = loadNpz(spark, s"$base/z", 16, 2)
      val sums = h.applyAlongAxis(0)(
        m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
      val sq = h.hadamard(h).applyAlongAxis(0)(
        m => breeze.linalg.sum(m(::, breeze.linalg.*)).t, _ + _).collect()
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val spark2 = spark
      import spark2.implicits._
      (0 until 4).map(i => (i, r6(sums(0, i)), r6(sq(0, i))))
        .toDF("dim", "sum_v", "sum_sq").orderBy("dim")
    }
  }

  val npzRoundtripOracle: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding[6:9], x -> x::DOUBLE) AS v
      |  FROM embeddings WHERE vec_id < 40)
      |SELECT (i - 1)::INT AS dim, round(sum(v[i]), 6) AS sum_v,
      |  round(sum(v[i] * v[i]), 6) AS sum_sq
      |FROM e CROSS JOIN generate_series(1, 4) g(i)
      |GROUP BY i ORDER BY dim""".stripMargin

  val npyHstackOracle: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding[1:5], x -> x::DOUBLE) AS v
      |  FROM embeddings WHERE vec_id < 50)
      |SELECT (i - 1)::INT AS dim, round(sum(v[i]), 6) AS sum_v,
      |  round(sum(v[i] * v[i]), 6) AS sum_sq
      |FROM e CROSS JOIN generate_series(1, 5) g(i)
      |GROUP BY i ORDER BY dim""".stripMargin

  /** Gate query: the AMBER `.mdcrd` fixed-width parser gated end-to-end.
    * Embeddings' first 6 dims become 60 snapshots of a 2-atom
    * trajectory (%8.3f columns, 10 per line — so snapshot boundaries
    * fall mid-line, the format's awkward case), parsed back by
    * [[loadMdcrd]], and reduced to per-coordinate milli-unit integer
    * sums. Exactness: "d.ddd" parses to the nearest double, and DuckDB's
    * round(x*1000)/1000 is the identically-rounded IEEE value, so
    * re-scaling to integers after the parse is exact on both engines. */
  def mdcrdQuery(spark: SparkSession, dir: String): DataFrame = {
    val rows = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 60)
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 6),
          x => round(x.cast("double") * 1000).cast("long")).as("v"))
      .orderBy("vec_id").collect()
    val vals = rows.flatMap(_.getSeq[Long](1)).map(_ / 1000.0)
    val text = new StringBuilder("graft mdcrd gate\n")
    vals.grouped(10).foreach { g =>
      text.append(g.map(v => f"$v%8.3f").mkString).append('\n')
    }
    withScratchDir("graft-mdcrd") { base =>
      val p = java.nio.file.Paths.get(base, "traj.mdcrd")
      java.nio.file.Files.write(p, text.toString.getBytes("US-ASCII"))
      val a = loadMdcrd(spark, p.toString, nAtoms = 2) // 60 snapshots × 6
      val sums = a.applyAlongAxis(0)(
        m => breeze.linalg.sum(m(::, breeze.linalg.*)).t.map(x => math.rint(x * 1000)),
        _ + _).collect()
      val spark2 = spark
      import spark2.implicits._
      (0 until 6).map(i => (i, sums(0, i).toLong))
        .toDF("coord", "sum_milli").orderBy("coord")
    }
  }

  val mdcrdOracle: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding[1:6],
      |      x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS v
      |  FROM embeddings WHERE vec_id < 60)
      |SELECT (i - 1)::INT AS coord, sum(v[i])::BIGINT AS sum_milli
      |FROM e CROSS JOIN generate_series(1, 6) g(i)
      |GROUP BY i ORDER BY coord""".stripMargin

  val svmlightOracle: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding[1:6],
      |      x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) AS v
      |  FROM embeddings WHERE vec_id < 80)
      |SELECT (i - 1)::INT AS dim, sum(v[i])::BIGINT AS sum_scaled
      |FROM e CROSS JOIN generate_series(1, 6) g(i) GROUP BY i
      |UNION ALL
      |SELECT -1, sum(vec_id % 3)::BIGINT FROM e
      |ORDER BY dim""".stripMargin

  val PruneYear = 1995

  /** Hive-style partitioned layout + partition pruning: write orders
    * partitioned by order year, read back with a partition-key filter,
    * and aggregate per month. The pruning contract — a year filter must
    * touch ONLY that year's directory, turning a full-table scan into a
    * 1-partition read — is what makes time-partitioned 100 TB layouts
    * queryable; SourcesSpec asserts the physical plan carries the
    * filter in `PartitionFilters` (metadata-level pruning, zero data
    * files from other years opened). The scratch copy is removed after
    * the stats materialize, roundtrip-style. */
  def partitionPruneQuery(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.orders(spark, dir)
      .withColumn("o_year", year(to_date(col("o_orderdate"))))
    withScratchDir("graft-pp") { base =>
      o.write.mode(SaveMode.Overwrite).partitionBy("o_year")
        .parquet(s"$base/orders_by_year")
      prunedMonthlyAgg(spark.read.parquet(s"$base/orders_by_year"))
    }
  }

  /** The pruned read over any o_year-partitioned orders frame; factored
    * so the spec can assert PartitionFilters on the live plan. */
  private[graft] def prunedMonthlyAgg(partitioned: DataFrame): DataFrame =
    partitioned.filter(col("o_year") === PruneYear)
      .groupBy(month(to_date(col("o_orderdate"))).as("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy("m")

  /** Oracle: the same monthly aggregate from an explicit year filter. */
  val partitionPruneOracle: String =
    s"""SELECT month(CAST(o_orderdate AS DATE))::INT AS m,
       |  count(*) AS n_orders,
       |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
       |FROM orders WHERE year(CAST(o_orderdate AS DATE)) = $PruneYear
       |GROUP BY 1 ORDER BY m""".stripMargin
}
