package graft.linalg

import breeze.linalg.{DenseMatrix => BDM}
import org.apache.spark.SparkContext
import org.apache.spark.mllib.linalg.{DenseMatrix, Matrices, Matrix, SparseMatrix}
import org.apache.spark.mllib.linalg.distributed.{BlockMatrix, IndexedRow, IndexedRowMatrix}
import org.apache.spark.rdd.RDD

/** Dense block-partitioned 2-D array — the Spark-native ds-array
  * (reference: dislib/data/array.py:18-73; same tiled model as
  * `BlockMatrix`, which is why the facade is thin).
  *
  * Blocks are `rowsPerBlock × colsPerBlock` tiles in an RDD keyed by grid
  * position — identical to dislib's `_blocks` grid of futures, with the
  * Spark scheduler playing COMPSs' role. All bulk ops delegate to
  * BlockMatrix (shuffle-aware blocked GEMM, add, transpose) or map
  * per-block Breeze kernels — the "local NumPy kernel inside a task"
  * pattern of the reference (SURVEY.md §4).
  *
  * Scale: matmul shuffles each block O(grid) times (Spark's replicating
  * GEMM); choose block sizes ~a few thousand square so tiles are
  * BLAS-efficient but fit executor memory at 1000-executor scale.
  */
final class DsArray(val bm: BlockMatrix, val sparseTiles: Boolean = false) {
  def rows: Long = bm.numRows()
  def cols: Long = bm.numCols()
  def blockSize: (Int, Int) = (bm.rowsPerBlock, bm.colsPerBlock)

  // `sparseTiles` routes slicing through the O(nnz) COO path and is set
  // by the sparse loaders; a wrong hint can only change representation
  // (activeEntries walks dense tiles too), never values.
  def +(o: DsArray): DsArray =
    new DsArray(bm.add(o.bm), sparseTiles && o.sparseTiles)
  def -(o: DsArray): DsArray =
    new DsArray(bm.subtract(o.bm), sparseTiles && o.sparseTiles)

  /** Blocked GEMM (reference: array.py:92-122 __matmul__) — BlockMatrix
    * multiply emits dense product tiles, so the hint drops. */
  def %*%(o: DsArray): DsArray = new DsArray(bm.multiply(o.bm))

  def transpose: DsArray = new DsArray(bm.transpose, sparseTiles)

  /** The block-shape RDD MLlib's BlockMatrix caches the first time it
    * validates or multiplies and never frees — read off its private
    * field so the caller's GateUtil scope can own it. */
  private[graft] def shapeCache: Option[RDD[_]] = {
    val f = classOf[BlockMatrix].getDeclaredField("blockInfo")
    f.setAccessible(true)
    Option(f.get(bm).asInstanceOf[RDD[_]])
  }

  /** Per-block elementwise map (reference: array.py:206-407 scalar ops /
    * _apply_elementwise). Runs as one narrow stage — no shuffle.
    *
    * Sparse tiles STAY sparse when `f` preserves zero (f(0)=0: scale,
    * sqrt, pow — checked once on the driver), mapping only the stored
    * values — the reference's CSR blocks keep sparsity through scalar
    * ops the same way (array.py:41-50). A non-zero-preserving f (exp,
    * log, +s) mathematically fills the tile, so it densifies — INCLUDING
    * all-zero tiles that are simply absent from a sparse grid (they mean
    * zero, and f(0) ≠ 0 must apply to them too). */
  def mapBlocks(f: Double => Double): DsArray = {
    val preservesZero = f(0.0) == 0.0
    val rpb = bm.rowsPerBlock; val cpb = bm.colsPerBlock
    val (nR, nC) = (rows, cols)
    val source =
      if (preservesZero || !sparseTiles) bm.blocks
      else {
        // materialize the full grid: absent tiles become explicit zeros
        val grid = for {
          bi <- 0 until ((nR + rpb - 1) / rpb).toInt
          bj <- 0 until ((nC + cpb - 1) / cpb).toInt
        } yield (bi, bj)
        bm.blocks.sparkContext.parallelize(grid)
          .map(k => (k, ())).leftOuterJoin(bm.blocks.map { case (k, m) => (k, m) })
          .map { case ((bi, bj), (_, mOpt)) =>
            val r = math.min(rpb.toLong, nR - bi.toLong * rpb).toInt
            val c = math.min(cpb.toLong, nC - bj.toLong * cpb).toInt
            ((bi, bj), mOpt.getOrElse(Matrices.dense(r, c, new Array[Double](r * c))))
          }
      }
    val mapped = source.mapValues {
      case s: SparseMatrix if preservesZero =>
        new SparseMatrix(s.numRows, s.numCols, s.colPtrs, s.rowIndices,
          s.values.map(f), s.isTransposed): Matrix
      case m =>
        Matrices.dense(m.numRows, m.numCols, m.toArray.map(f)): Matrix
    }
    new DsArray(new BlockMatrix(mapped, rpb, cpb, nR, nC),
      sparseTiles && preservesZero)
  }

  def *(s: Double): DsArray = mapBlocks(_ * s)
  def +(s: Double): DsArray = mapBlocks(_ + s)
  // named elementwise ops of the reference API (array.py:1880-1956)
  def exp: DsArray = mapBlocks(math.exp)
  def log: DsArray = mapBlocks(math.log)
  def sqrt: DsArray = mapBlocks(math.sqrt)
  def **(e: Double): DsArray = mapBlocks(math.pow(_, e))
  def gammaln: DsArray =
    mapBlocks(org.apache.commons.math3.special.Gamma.logGamma)
  /** Complex conjugate (reference array.py:1219-1227). Tiles are real
    * float64 — as in numpy on a real dtype, conj is the identity; kept
    * so ported call sites typecheck unchanged. */
  def conj: DsArray = this

  /** Swap one tile for a replacement of identical shape (reference
    * replace_block, array.py:1302-1306) — a narrow map over the block
    * RDD; every other tile passes through by reference. */
  def replaceBlock(bi: Int, bj: Int, nb: BDM[Double]): DsArray = {
    // fail fast on out-of-grid coordinates — the per-block require below
    // only fires when a matching block exists
    val (nrb, ncb) = ((rows + bm.rowsPerBlock - 1) / bm.rowsPerBlock,
      (cols + bm.colsPerBlock - 1) / bm.colsPerBlock)
    require(bi >= 0 && bi < nrb && bj >= 0 && bj < ncb,
      s"block ($bi,$bj) outside ${nrb}x$ncb grid")
    val swapped = bm.blocks.map { case ((i, j), m) =>
      if (i == bi && j == bj) {
        require(m.numRows == nb.rows && m.numCols == nb.cols,
          s"replacement block must be ${m.numRows}x${m.numCols}")
        ((i, j), Matrices.dense(nb.rows, nb.cols, nb.toArray): Matrix)
      } else ((i, j), m)
    }
    new DsArray(new BlockMatrix(swapped, bm.rowsPerBlock, bm.colsPerBlock, rows, cols))
  }

  /** Change the block grid (reference: array.py:1228-1246 rechunk). */
  def rechunk(rowsPerBlock: Int, colsPerBlock: Int): DsArray =
    DsArray.fromIndexedRows(toIndexedRowMatrix.rows, rows, cols,
      rowsPerBlock, colsPerBlock)

  /** Elementwise product (reference array-×-array ops, array.py:206-407):
    * equi-join on block coordinates — same-grid operands join without a
    * rebuild, and a SPARSE side keeps the result sparse (the product's
    * support is inside the sparse side's support, so only its stored
    * entries are evaluated — never a densified tile). */
  def hadamard(o: DsArray): DsArray = {
    require(rows == o.rows && cols == o.cols, "shape mismatch")
    val aligned =
      if (o.blockSize == blockSize) o
      else o.rechunk(bm.rowsPerBlock, bm.colsPerBlock)
    val joined = bm.blocks.join(aligned.bm.blocks)
      .mapValues {
        case (a: SparseMatrix, b) =>
          SparseMatrix.fromCOO(a.numRows, a.numCols,
            DsArray.activeEntries(a)
              .map { case (i, j, v) => (i, j, v * b(i, j)) }
              .filter(_._3 != 0.0).toSeq): Matrix
        case (a, b: SparseMatrix) =>
          SparseMatrix.fromCOO(a.numRows, a.numCols,
            DsArray.activeEntries(b)
              .map { case (i, j, v) => (i, j, v * a(i, j)) }
              .filter(_._3 != 0.0).toSeq): Matrix
        case (a, b) =>
          val av = a.toArray; val bv = b.toArray
          Matrices.dense(a.numRows, a.numCols,
            Array.tabulate(av.length)(i => av(i) * bv(i))): Matrix
      }
    new DsArray(new BlockMatrix(joined, bm.rowsPerBlock, bm.colsPerBlock, rows, cols),
      sparseTiles || o.sparseTiles)
  }

  /** Point update A[i,j] = v (reference __setitem__ single-element set,
    * array.py:162-204). DataFrames are immutable, so this rebuilds ONLY
    * the block containing (i,j) — a narrow map over the block RDD; every
    * other tile is passed through by reference. */
  def setElement(i: Long, j: Long, v: Double): DsArray = {
    require(i >= 0 && i < rows && j >= 0 && j < cols, s"($i,$j) out of bounds")
    val (bi, bj) = ((i / bm.rowsPerBlock).toInt, (j / bm.colsPerBlock).toInt)
    val (li, lj) = ((i % bm.rowsPerBlock).toInt, (j % bm.colsPerBlock).toInt)
    val updated = bm.blocks.map {
      case ((r, c), m) if r == bi && c == bj =>
        val a = m.toArray.clone() // column-major
        a(lj * m.numRows + li) = v
        ((r, c), Matrices.dense(m.numRows, m.numCols, a): Matrix)
      case other => other
    }
    new DsArray(new BlockMatrix(updated, bm.rowsPerBlock, bm.colsPerBlock, rows, cols))
  }

  /** Whole-column write A[:, j] = values (reference __setitem__ column
    * set, array.py:719-748): touches only the column-stripe of blocks;
    * `values` is indexed by global row. */
  def setColumn(j: Long, values: Map[Long, Double]): DsArray = {
    require(j >= 0 && j < cols, s"column $j out of bounds")
    val bj = (j / bm.colsPerBlock).toInt
    val lj = (j % bm.colsPerBlock).toInt
    val rpb = bm.rowsPerBlock
    val bcast = bm.blocks.sparkContext.broadcast(values)
    val updated = bm.blocks.map {
      case ((r, c), m) if c == bj =>
        val a = m.toArray.clone()
        var li = 0
        while (li < m.numRows) {
          bcast.value.get(r.toLong * rpb + li).foreach { v =>
            a(lj * m.numRows + li) = v
          }
          li += 1
        }
        ((r, c), Matrices.dense(m.numRows, m.numCols, a): Matrix)
      case other => other
    }
    new DsArray(new BlockMatrix(updated, bm.rowsPerBlock, bm.colsPerBlock, rows, cols))
  }

  /** Global (i, j, v) nonzero entries — the COO view behind the
    * sparse-preserving slice paths. */
  private def globalEntries: RDD[(Long, Long, Double)] = {
    val rpb = bm.rowsPerBlock; val cpb = bm.colsPerBlock
    bm.blocks.flatMap { case ((bi, bj), m) =>
      val r0 = bi.toLong * rpb; val c0 = bj.toLong * cpb
      DsArray.activeEntries(m).map { case (i, j, v) => (r0 + i, c0 + j, v) }
    }
  }

  /** Row-range slice [from, until) (reference __getitem__ row slices,
    * array.py:124-160 — positional semantics via the row index).
    * Sparse arrays slice on the O(nnz) COO view and STAY sparse —
    * the reference's CSR blocks survive __getitem__ (array.py:41-50);
    * the dense path's IndexedRow round-trip would densify them. */
  def sliceRows(from: Long, until: Long): DsArray =
    if (sparseTiles) {
      val entries = globalEntries.flatMap { case (i, j, v) =>
        if (i >= from && i < until) Some((i - from, j, v)) else None
      }
      DsArray.fromCOO(entries, until - from, cols, bm.rowsPerBlock, bm.colsPerBlock)
    } else {
      val sliced = toIndexedRowMatrix.rows
        .filter(r => r.index >= from && r.index < until)
        .map(r => IndexedRow(r.index - from, r.vector))
      DsArray.fromIndexedRows(sliced, until - from, cols, bm.rowsPerBlock, bm.colsPerBlock)
    }

  /** Fancy row indexing — rows gathered in index order, duplicates
    * allowed (reference __getitem__ row lists, array.py:124-160,
    * 788-1046). The index list is user-provided and bounded, so it
    * broadcasts; the gather itself is one narrow flatMap + the block
    * rebuild. */
  def selectRows(indices: Seq[Long]): DsArray = {
    require(indices.forall(i => i >= 0 && i < rows), "row index out of bounds")
    val posByIdx = indices.zipWithIndex
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2.toLong)) }
    val bc = bm.blocks.sparkContext.broadcast(posByIdx)
    if (sparseTiles) {
      val entries = globalEntries.flatMap { case (i, j, v) =>
        bc.value.getOrElse(i, Nil).map(p => (p, j, v))
      }
      DsArray.fromCOO(entries, indices.length, cols,
        bm.rowsPerBlock, bm.colsPerBlock)
    } else {
      val picked = toIndexedRowMatrix.rows.flatMap { r =>
        bc.value.getOrElse(r.index, Nil).map(p => IndexedRow(p, r.vector))
      }
      DsArray.fromIndexedRows(picked, indices.length, cols,
        bm.rowsPerBlock, bm.colsPerBlock)
    }
  }

  /** Fancy column indexing — columns gathered in index order (a superset
    * of the reference, whose single-column getitem is
    * NotImplementedError, array.py:157-158). Narrow per-row gather. */
  def selectCols(indices: Seq[Int]): DsArray = {
    require(indices.forall(j => j >= 0 && j < cols), "col index out of bounds")
    val idx = indices.toArray
    val picked = toIndexedRowMatrix.rows.map { r =>
      val v = r.vector
      IndexedRow(r.index,
        org.apache.spark.mllib.linalg.Vectors.dense(idx.map(v(_))))
    }
    DsArray.fromIndexedRows(picked, rows, indices.length,
      bm.rowsPerBlock, bm.colsPerBlock)
  }

  /** 2-D slice [rowFrom,rowUntil) × [colFrom,colUntil) (reference 2-D
    * __getitem__ slices, array.py:124-160). */
  def slice2D(rowFrom: Long, rowUntil: Long,
      colFrom: Int, colUntil: Int): DsArray = {
    require(rowFrom >= 0 && rowUntil <= rows && colFrom >= 0 && colUntil <= cols
      && rowFrom <= rowUntil && colFrom <= colUntil, "slice out of bounds")
    if (sparseTiles) {
      val entries = globalEntries.flatMap { case (i, j, v) =>
        if (i >= rowFrom && i < rowUntil && j >= colFrom && j < colUntil)
          Some((i - rowFrom, j - colFrom, v))
        else None
      }
      DsArray.fromCOO(entries, rowUntil - rowFrom, colUntil - colFrom,
        bm.rowsPerBlock, bm.colsPerBlock)
    } else {
      val sliced = toIndexedRowMatrix.rows
        .filter(r => r.index >= rowFrom && r.index < rowUntil)
        .map(r => IndexedRow(r.index - rowFrom,
          org.apache.spark.mllib.linalg.Vectors.dense(
            java.util.Arrays.copyOfRange(r.vector.toArray, colFrom, colUntil))))
      DsArray.fromIndexedRows(sliced, rowUntil - rowFrom, colUntil - colFrom,
        bm.rowsPerBlock, bm.colsPerBlock)
    }
  }

  /** Drop a row by index, shifting the rest up (reference delete,
    * array.py:1307-1360). */
  def deleteRow(i: Long): DsArray = {
    val kept = toIndexedRowMatrix.rows.filter(_.index != i)
      .map(r => IndexedRow(if (r.index > i) r.index - 1 else r.index, r.vector))
    DsArray.fromIndexedRows(kept, rows - 1, cols, bm.rowsPerBlock, bm.colsPerBlock)
  }

  /** Vertical concat (reference concat_rows, array.py:2054-2228). */
  def concatRows(o: DsArray): DsArray = {
    require(cols == o.cols, "column count mismatch")
    val off = rows
    val all = toIndexedRowMatrix.rows
      .union(o.toIndexedRowMatrix.rows.map(r => IndexedRow(r.index + off, r.vector)))
    DsArray.fromIndexedRows(all, rows + o.rows, cols, bm.rowsPerBlock, bm.colsPerBlock)
  }

  /** Horizontal concat (reference concat_columns) — positional join of
    * row halves; one shuffle on the row index. */
  def concatCols(o: DsArray): DsArray = {
    require(rows == o.rows, "row count mismatch")
    val left = toIndexedRowMatrix.rows.map(r => (r.index, r.vector.toArray))
    val right = o.toIndexedRowMatrix.rows.map(r => (r.index, r.vector.toArray))
    val all = left.join(right).map { case (i, (a, b)) =>
      IndexedRow(i, org.apache.spark.mllib.linalg.Vectors.dense(a ++ b))
    }
    DsArray.fromIndexedRows(all, rows, cols + o.cols, bm.rowsPerBlock, bm.colsPerBlock)
  }

  /** Bottom/right constant padding (reference dislib.data.util.pad,
    * data/util/base.py:11-80). The reference cannot grow the block grid
    * (NotImplementedError past the regular block size); this version is
    * compositional — concat with constant-filled arrays — so it has no
    * such limit. Top/left padding is unimplemented in the reference and
    * intentionally not added here either. */
  def pad(padBottom: Int, padRight: Int, value: Double = 0.0): DsArray = {
    require(padBottom >= 0 && padRight >= 0, "pad sizes must be >= 0")
    require(cols <= Int.MaxValue && (padRight == 0 || rows + padBottom <= Int.MaxValue),
      "pad: filler-array dimensions exceed Int range")
    val sc = bm.blocks.sparkContext
    val (rpb, cpb) = blockSize
    val a1 = if (padBottom > 0)
      concatRows(DsArray.full(sc, padBottom, cols.toInt, rpb, cpb, value))
    else this
    if (padRight > 0)
      a1.concatCols(DsArray.full(sc, a1.rows.toInt, padRight, rpb, cpb, value))
    else a1
  }

  /** Drop the trailing n rows (reference remove_last_rows,
    * data/util/base.py:143-186). */
  def removeLastRows(n: Long): DsArray = sliceRows(0, rows - n)

  /** Drop the trailing n columns (reference remove_last_columns,
    * data/util/base.py:187-217). */
  def removeLastCols(n: Int): DsArray = slice2D(0, rows, 0, cols.toInt - n)

  /** apply_along_axis (reference array.py:1577-1649 — the generic UDF
    * surface): axis 0 reduces each column via `seq`/`comb` over
    * per-partition Breeze columns; axis 1 maps each row to a scalar.
    * Returns a 1×cols (axis 0) or rows×1 (axis 1) DsArray. */
  def applyAlongAxis(axis: Int)(rowFn: BDM[Double] => breeze.linalg.DenseVector[Double],
      comb: (breeze.linalg.DenseVector[Double], breeze.linalg.DenseVector[Double]) => breeze.linalg.DenseVector[Double] = null): DsArray = {
    import breeze.linalg.DenseVector
    axis match {
      case 1 =>
        val out = toIndexedRowMatrix.rows.map { r =>
          val m = new BDM(1, r.vector.size, r.vector.toArray)
          IndexedRow(r.index, org.apache.spark.mllib.linalg.Vectors.dense(rowFn(m).toArray))
        }
        val w = out.first().vector.size
        DsArray.fromIndexedRows(out, rows, w, bm.rowsPerBlock, math.max(w, 1))
      case 0 =>
        require(comb != null, "axis 0 needs a combiner")
        val partials = toIndexedRowMatrix.rows.mapPartitions { it =>
          val data = it.toArray
          if (data.isEmpty) Iterator.empty
          else {
            val p = data.head.vector.size
            val m = new BDM(p, data.length, data.flatMap(_.vector.toArray)).t
            Iterator(rowFn(m.toDenseMatrix))
          }
        }
        val res: DenseVector[Double] = partials.treeReduce(comb, depth = 2)
        DsArray.fromBreeze(bm.blocks.sparkContext,
          new BDM(1, res.length, res.toArray), 1, bm.colsPerBlock)
      case _ => throw new IllegalArgumentException(s"axis $axis")
    }
  }

  def toIndexedRowMatrix: IndexedRowMatrix = bm.toIndexedRowMatrix()

  /** Driver-side materialization (reference: array.py:1263-1287 collect). */
  def collect(): BDM[Double] = {
    val local = bm.toLocalMatrix()
    new BDM(local.numRows, local.numCols, local.toArray)
  }

  def cache(): DsArray = { bm.cache(); this }
}

object DsArray {
  /** Active (i, j, v) entries of a tile without densifying — CSC walk
    * for sparse tiles (CSR when the transposed flag is set), full scan
    * skipping zeros for dense ones. */
  private[linalg] def activeEntries(m: Matrix): Iterator[(Int, Int, Double)] =
    m match {
      case s: SparseMatrix =>
        for {
          c <- Iterator.range(0, s.colPtrs.length - 1)
          p <- Iterator.range(s.colPtrs(c), s.colPtrs(c + 1))
        } yield
          if (s.isTransposed) (c, s.rowIndices(p), s.values(p))
          else (s.rowIndices(p), c, s.values(p))
      case d =>
        for {
          j <- Iterator.range(0, d.numCols)
          i <- Iterator.range(0, d.numRows)
          if d(i, j) != 0.0
        } yield (i, j, d(i, j))
    }

  /** Build from an RDD of (rowIndex, values) — the loader surface. */
  def fromIndexedRows(rdd: RDD[IndexedRow], nRows: Long, nCols: Long,
      rowsPerBlock: Int, colsPerBlock: Int): DsArray =
    new DsArray(new IndexedRowMatrix(rdd, nRows, nCols.toInt)
      .toBlockMatrix(rowsPerBlock, colsPerBlock))

  /** Local Breeze matrix → DsArray (reference: array.py:1361-1412). */
  def fromBreeze(sc: SparkContext, m: BDM[Double],
      rowsPerBlock: Int, colsPerBlock: Int): DsArray = {
    val rows = (0 until m.rows).map(i =>
      IndexedRow(i, org.apache.spark.mllib.linalg.Vectors.dense(m(i, ::).t.toArray)))
    fromIndexedRows(sc.parallelize(rows), m.rows, m.cols, rowsPerBlock, colsPerBlock)
  }

  /** COO entries → SPARSE-tile DsArray (reference: dislib's ds-array is
    * dense-or-CSR throughout, array.py:41-50; CSVM/ALS bench on sparse
    * ijcnn1/Netflix). Tiles are CSC `SparseMatrix` blocks; empty tiles
    * are simply absent from the grid (BlockMatrix treats missing blocks
    * as zero), so storage is O(nnz). BlockMatrix add/multiply/transpose
    * and toLocalMatrix are sparse-aware; mapBlocks keeps sparsity for
    * zero-preserving fns, hadamard evaluates only the sparse side's
    * support, and row slicing round-trips through sparse vectors —
    * sparse in, sparse out (reference array.py:41-50). Setters densify
    * the single tile they touch. */
  def fromCOO(entries: RDD[(Long, Long, Double)], nRows: Long, nCols: Long,
      rowsPerBlock: Int, colsPerBlock: Int): DsArray = {
    val rpb = rowsPerBlock; val cpb = colsPerBlock
    val blocks = entries.map { case (i, j, v) =>
      (((i / rpb).toInt, (j / cpb).toInt), ((i % rpb).toInt, (j % cpb).toInt, v))
    }.groupByKey().map { case ((bi, bj), es) =>
      val r = math.min(rpb.toLong, nRows - bi.toLong * rpb).toInt
      val c = math.min(cpb.toLong, nCols - bj.toLong * cpb).toInt
      ((bi, bj), SparseMatrix.fromCOO(r, c, es): Matrix)
    }
    new DsArray(new BlockMatrix(blocks, rpb, cpb, nRows, nCols),
      sparseTiles = true)
  }

  /** libsvm/SVMLight load → sparse DsArray of the feature matrix (the
    * reference's load_svmlight_file(..., store_sparse=True) path,
    * io.py:15-74). Input: `Sources.loadSvmlight` output (features:
    * ml Vector, label). Row ids are the file order (zipWithIndex). */
  def fromLibsvmDf(df: org.apache.spark.sql.DataFrame,
      rowsPerBlock: Int, colsPerBlock: Int): DsArray = {
    val vecs = df.select("features").rdd
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0)).zipWithIndex()
    val n = vecs.count()
    val p = df.select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    val entries = vecs.flatMap {
      case (s: org.apache.spark.ml.linalg.SparseVector, i) =>
        s.indices.zip(s.values).iterator.map { case (j, x) => (i, j.toLong, x) }
      case (d, i) =>
        d.toArray.iterator.zipWithIndex.collect {
          case (x, j) if x != 0.0 => (i, j.toLong, x)
        }
    }
    fromCOO(entries, n, p, rowsPerBlock, colsPerBlock)
  }

  /** Seeded uniform random array (reference: array.py:1413-1436) —
    * deterministic per (seed, blockIndex), generated distributedly. */
  def random(sc: SparkContext, nRows: Int, nCols: Int,
      rowsPerBlock: Int, colsPerBlock: Int, seed: Long): DsArray = {
    val grid = for {
      bi <- 0 until (nRows + rowsPerBlock - 1) / rowsPerBlock
      bj <- 0 until (nCols + colsPerBlock - 1) / colsPerBlock
    } yield (bi, bj)
    val blocks = sc.parallelize(grid).map { case (bi, bj) =>
      val r = math.min(rowsPerBlock, nRows - bi * rowsPerBlock)
      val c = math.min(colsPerBlock, nCols - bj * colsPerBlock)
      val rng = new java.util.Random(seed ^ (bi.toLong << 32) ^ bj.toLong)
      ((bi, bj), Matrices.dense(r, c, Array.fill(r * c)(rng.nextDouble())): Matrix)
    }
    new DsArray(new BlockMatrix(blocks, rowsPerBlock, colsPerBlock, nRows, nCols))
  }

  /** Identity (reference: array.py:1437-1461) — diagonal tiles only are
    * nonzero; generated per-block with no data movement. */
  def eye(sc: SparkContext, n: Int, blockSize: Int): DsArray =
    eye(sc, n, n, blockSize)

  /** Rectangular eye(n, m) (reference: array.py:1462-1511): with square
    * tiles the global diagonal (i,i) only touches bi==bj blocks, so the
    * rectangular case is the same diagonal-tile fill over an n×m grid. */
  def eye(sc: SparkContext, n: Int, m: Int, blockSize: Int): DsArray =
    full(sc, n, m, blockSize, blockSize, 0.0).mapBlocksIndexed { (bi, bj, mat) =>
      if (bi != bj) mat
      else {
        val a = mat.toArray.clone()
        val rows = mat.numRows
        var i = 0
        while (i < math.min(mat.numRows, mat.numCols)) { a(i * rows + i) = 1.0; i += 1 }
        Matrices.dense(mat.numRows, mat.numCols, a)
      }
    }

  def zeros(sc: SparkContext, nRows: Int, nCols: Int,
      rowsPerBlock: Int, colsPerBlock: Int): DsArray =
    full(sc, nRows, nCols, rowsPerBlock, colsPerBlock, 0.0)

  /** Constant-filled array (reference: array.py:1512-1576). */
  def full(sc: SparkContext, nRows: Int, nCols: Int,
      rowsPerBlock: Int, colsPerBlock: Int, value: Double): DsArray = {
    val grid = for {
      bi <- 0 until (nRows + rowsPerBlock - 1) / rowsPerBlock
      bj <- 0 until (nCols + colsPerBlock - 1) / colsPerBlock
    } yield (bi, bj)
    val blocks = sc.parallelize(grid).map { case (bi, bj) =>
      val r = math.min(rowsPerBlock, nRows - bi * rowsPerBlock)
      val c = math.min(colsPerBlock, nCols - bj * colsPerBlock)
      ((bi, bj), Matrices.dense(r, c, Array.fill(r * c)(value)): Matrix)
    }
    new DsArray(new BlockMatrix(blocks, rowsPerBlock, colsPerBlock, nRows, nCols))
  }

  /** Kronecker product (reference: dislib/math/base.py:15-92) — cartesian
    * of block pairs; each A-element × B-row becomes a row SEGMENT keyed
    * by its destination tile, and combineByKey assembles tiles directly.
    * No whole output row is ever materialized (a row is a.cols × b.cols
    * wide — an OOM object for wide operands), and the result tile size
    * is capped independently of the operand grids, so executor memory
    * per task is bounded at any operand shape. Zero A-elements are
    * skipped (kron sparsity). */
  def kron(a: DsArray, b: DsArray): DsArray = {
    val (abr, abc) = a.blockSize
    val (bbr, bbc) = b.blockSize
    val bR = b.rows; val bC = b.cols
    val nR = a.rows * bR; val nC = a.cols * bC
    val rpb = math.min(math.min(abr.toLong * bbr, 2048L), nR).toInt
    val cpb = math.min(math.min(abc.toLong * bbc, 2048L), nC).toInt
    type Seg = (Int, Int, Array[Double]) // (localRow, localColStart, values)
    val segs = a.bm.blocks.cartesian(b.bm.blocks).flatMap {
      case (((ai, aj), am), ((bi, bj), bm0)) =>
        val amRows = am.numRows; val amCols = am.numCols
        val bbRows = bm0.numRows; val bbCols = bm0.numCols
        val av = am.toArray; val bv = bm0.toArray // column-major
        for {
          i1 <- Iterator.range(0, amRows)
          j1 <- Iterator.range(0, amCols)
          s = av(j1 * amRows + i1)
          if s != 0.0
          i2 <- Iterator.range(0, bbRows)
          gRow = (ai.toLong * abr + i1) * bR + bi.toLong * bbr + i2
          gColBase = (aj.toLong * abc + j1) * bC + bj.toLong * bbc
          seg <- {
            // b-row scaled by s, split at result-tile column boundaries
            val ti = (gRow / rpb).toInt; val li = (gRow % rpb).toInt
            val pieces = scala.collection.mutable.ListBuffer.empty[((Int, Int), Seg)]
            var j2 = 0
            while (j2 < bbCols) {
              val gCol = gColBase + j2
              val tj = (gCol / cpb).toInt; val lj = (gCol % cpb).toInt
              val runLen = math.min(bbCols - j2, cpb - lj)
              val vals = new Array[Double](runLen)
              var t = 0
              while (t < runLen) { vals(t) = s * bv((j2 + t) * bbRows + i2); t += 1 }
              pieces += (((ti, tj), (li, lj, vals)))
              j2 += runLen
            }
            pieces.iterator
          }
        } yield seg
    }
    // tiles are allocated once per key on the reduce side at full
    // (rpb × cpb) stride; ragged edge tiles are trimmed afterwards
    def write(arr: Array[Double], seg: Seg): Array[Double] = {
      val (li, lj, vals) = seg
      var t = 0
      while (t < vals.length) { arr((lj + t) * rpb + li) = vals(t); t += 1 }
      arr
    }
    val tiles = segs.combineByKey[Array[Double]](
      (seg: Seg) => write(new Array[Double](rpb * cpb), seg),
      (arr: Array[Double], seg: Seg) => write(arr, seg),
      (x: Array[Double], y: Array[Double]) => {
        var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x
      }
    ).map { case ((ti, tj), arr) =>
      val tRows = math.min(rpb.toLong, nR - ti.toLong * rpb).toInt
      val tCols = math.min(cpb.toLong, nC - tj.toLong * cpb).toInt
      val out =
        if (tRows == rpb && tCols == cpb) arr
        else {
          val o = new Array[Double](tRows * tCols)
          var j = 0
          while (j < tCols) {
            System.arraycopy(arr, j * rpb, o, j * tRows, tRows); j += 1
          }
          o
        }
      ((ti, tj), Matrices.dense(tRows, tCols, out): Matrix)
    }
    new DsArray(new BlockMatrix(tiles, rpb, cpb, nR, nC))
  }

  implicit final class RichDsArray(private val a: DsArray) extends AnyVal {
    def mapBlocksIndexed(f: (Int, Int, Matrix) => Matrix): DsArray = {
      val mapped = a.bm.blocks.map { case ((bi, bj), m) => ((bi, bj), f(bi, bj, m)) }
      new DsArray(new BlockMatrix(mapped, a.bm.rowsPerBlock, a.bm.colsPerBlock,
        a.rows, a.cols))
    }
  }
}
