package graft.linalg

import breeze.linalg.{qr => bqr, svd => bsvd, DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.mllib.linalg.{DenseMatrix, Matrices, Vectors}
import org.apache.spark.mllib.linalg.distributed.{IndexedRow, IndexedRowMatrix, RowMatrix}
import org.apache.spark.rdd.RDD

/** Distributed decompositions (reference: SURVEY.md §2.8 —
  * qr/base.py, tsqr/base.py, math/base.py svd, lanczos, randomsvd).
  *
  * Design: tall-skinny inputs (n ≫ p, the practical case for the
  * reference's QR/SVD users) via communication-avoiding TSQR —
  * per-partition local QR, then a tree reduction of R factors
  * (`treeReduce`, the exact analog of dislib's pairwise R-merge tree,
  * tsqr/base.py:88-200). Q is reconstructed block-wise as A·R⁻¹ when
  * requested. Wide SVD rides RowMatrix.computeSVD (ARPACK Lanczos — the
  * same algorithm family as dislib's lanczos_svd).
  *
  * Scale: TSQR moves only p×p R factors between executors (p ≤ a few
  * hundred), never row data — the 100 TB plan is one scan + log(parts)
  * tiny reductions.
  */
object Decompositions {

  /** Per-partition R factors tree-merged: R of the stacked [R1; R2] QR. */
  private def tsqrR(rows: RDD[Array[Double]], p: Int): BDM[Double] = {
    // DLAMCH race guard inside each closure that calls LAPACK: a task
    // may make its executor JVM's first (concurrent) LAPACK call
    val partR = rows.mapPartitions { it =>
      LapackInit.forced
      val data = it.toArray
      if (data.isEmpty) Iterator.empty
      else {
        val m = new BDM(p, data.length, data.flatten).t // rows × p
        Iterator(bqr.reduced(m.toDenseMatrix).r)
      }
    }
    partR.treeReduce({ (r1, r2) =>
      LapackInit.forced
      bqr.reduced(BDM.vertcat(r1, r2)).r
    }, depth = 3)
  }

  /** Economic QR of a tall-skinny matrix given as an RDD of dense rows.
    * Returns (Q as indexed rows, R p×p) with R upper-triangular and
    * positive diagonal (deterministic sign convention). */
  def tsqr(rows: RDD[(Long, Array[Double])], p: Int): (RDD[(Long, Array[Double])], BDM[Double]) = {
    val r0 = tsqrR(rows.map(_._2), p)
    // sign-normalize: flip rows of R with negative diagonal
    val signs = BDV.tabulate(p)(i => if (r0(i, i) < 0) -1.0 else 1.0)
    val r = BDM.tabulate(p, p)((i, j) => r0(i, j) * signs(i))
    val rInv = breeze.linalg.inv(r)
    val rInvB = rows.sparkContext.broadcast(rInv)
    val q = rows.mapValues { v =>
      val x = new BDM(1, p, v) * rInvB.value
      x.toArray
    }
    (q, r)
  }

  /** Blocked FULL-mode QR (reference: dislib/decomposition/qr/base.py:
    * 104-209, mode='full' — the one previously-deferred algorithm):
    * A (m×n, m ≥ n, dense row ids 0..m-1) = Q (m×m orthogonal) ·
    * [R; 0] with R (n×n) upper triangular.
    *
    * Spark-first formulation: panel-blocked classical Gram-Schmidt over
    * the augmented matrix [A | G] (G = deterministic seeded Gaussian
    * completion columns, full rank a.s.), where each w-wide panel is
    * internally orthogonalized by TSQR (tall-skinny — only w×w R
    * factors move between executors) and then projected out of the
    * trailing columns row-locally (S = Qpᵀ·T via one treeAggregate,
    * broadcast back). Q accumulates panel bases by co-partitioned row
    * join; no m×m local ever exists on one task.
    *
    * Scale caveat (documented, matches the reference's practical use):
    * materializing full Q is inherently O(m²) output; this path targets
    * m within a few orders of n. For m ≫ n use `tsqr` (economic Q) —
    * the reference's own guidance. */
  def fullQr(rows: RDD[(Long, Array[Double])], n: Int, panelW: Int = 32,
      seed: Long = 1234567L): (RDD[(Long, Array[Double])], BDM[Double]) = {
    val sc = rows.sparkContext
    val m = rows.count().toInt
    require(m >= n, s"fullQr needs m >= n, got $m × $n")
    val r = BDM.zeros[Double](n, n)
    // augmented trailing matrix: A columns then seeded Gaussian completion
    var trail: RDD[(Long, Array[Double])] = rows.map { case (i, v) =>
      val rng = new java.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L))
      (i, v ++ Array.fill(m - n)(rng.nextGaussian()))
    }.cache()
    var qacc: RDD[(Long, Array[Double])] =
      rows.mapValues(_ => Array.empty[Double]).cache()
    var c0 = 0
    while (c0 < m) {
      val width = m - c0
      val w = math.min(panelW, width)
      val panel = trail.mapValues(v => java.util.Arrays.copyOfRange(v, 0, w))
      val (qp0, rp) = tsqr(panel, w)
      val qp = qp0.cache()
      // R diagonal block (only panels inside A's columns contribute)
      for (t <- 0 until w; j <- 0 until w
           if c0 + t < n && c0 + j < n) r(c0 + t, c0 + j) = rp(t, j)
      val joined = trail.join(qp).cache()
      if (width > w) {
        // S = Qpᵀ · T[:, w:] — w×(width-w), one treeAggregate
        val s = joined.treeAggregate(BDM.zeros[Double](w, width - w))(
          seqOp = { case (acc, (_, (tv, qv))) =>
            var t = 0
            while (t < w) {
              val q = qv(t)
              var c = 0
              while (c < width - w) { acc(t, c) += q * tv(w + c); c += 1 }
              t += 1
            }
            acc
          }, combOp = _ + _, depth = 2)
        // R block row: trailing coefficients that land inside A's columns
        for (t <- 0 until w; c <- 0 until width - w
             if c0 + t < n && c0 + w + c < n) r(c0 + t, c0 + w + c) = s(t, c)
        val sB = sc.broadcast(s)
        val trailNew = joined.mapValues { case (tv, qv) =>
          val out = new Array[Double](width - w)
          var c = 0
          while (c < width - w) {
            var acc = tv(w + c)
            var t = 0
            while (t < w) { acc -= qv(t) * sB.value(t, c); t += 1 }
            out(c) = acc
            c += 1
          }
          out
        }.cache()
        trailNew.count()
        trail.unpersist(false)
        trail = trailNew
      }
      val qaccNew = qacc.join(qp).mapValues { case (q0, qv) => q0 ++ qv }.cache()
      qaccNew.count()
      qacc.unpersist(false); qp.unpersist(false); joined.unpersist(false)
      qacc = qaccNew
      c0 += w
    }
    trail.unpersist(false)
    (qacc, r)
  }

  /** Selected Q columns of the economic (reduced) QR — the reference's
    * `reduced_inverse` mode with `indexes` (tsqr/base.py:11-741): there
    * the factor tree is re-walked end-to-beginning so unrequested Q
    * columns are never materialized. The Spark-first equivalent of that
    * saving: Q[:, idx] = A · R⁻¹[:, idx] — identical one-scan shape to
    * reduced tsqr, but the broadcast shrinks to p×|idx| and each row
    * task does |idx| dot products instead of p. Uniqueness: with the
    * positive-diagonal sign convention the economic Q of a full-rank A
    * is unique, so column selection commutes with reconstruction.
    * Returns (selected Q columns as indexed rows, full R p×p). */
  def tsqrQColumns(rows: RDD[(Long, Array[Double])], p: Int,
      indexes: Seq[Int]): (RDD[(Long, Array[Double])], BDM[Double]) = {
    require(indexes.nonEmpty && indexes.forall(i => i >= 0 && i < p),
      s"indexes must be within [0, $p)")
    val r0 = tsqrR(rows.map(_._2), p)
    val signs = BDV.tabulate(p)(i => if (r0(i, i) < 0) -1.0 else 1.0)
    val r = BDM.tabulate(p, p)((i, j) => r0(i, j) * signs(i))
    val rInv = breeze.linalg.inv(r)
    val sel = BDM.tabulate(p, indexes.length)((i, c) => rInv(i, indexes(c)))
    val selB = rows.sparkContext.broadcast(sel)
    val q = rows.mapValues(v => (new BDM(1, p, v) * selB.value).toArray)
    (q, r)
  }

  /** Selected Q columns of the COMPLETE (m×m) factorization — the
    * reference's `complete_inverse` mode with `indexes`. Columns j < n
    * coincide with the economic Q (unique under the shared sign
    * convention) and take the cheap A·R⁻¹ path; any column j ≥ n spans
    * the orthogonal complement, which only the blocked full QR
    * materializes — then it's a row-local gather. Returns (selected Q
    * columns as indexed rows, R n×n). */
  def fullQrColumns(rows: RDD[(Long, Array[Double])], n: Int,
      indexes: Seq[Int], panelW: Int = 32): (RDD[(Long, Array[Double])], BDM[Double]) = {
    require(indexes.nonEmpty && indexes.forall(_ >= 0), "indexes must be >= 0")
    if (indexes.max < n) tsqrQColumns(rows, n, indexes)
    else {
      val (q, r) = fullQr(rows, n, panelW)
      val idx = indexes.toArray
      (q.mapValues(v => idx.map(v(_))), r)
    }
  }

  /** `r_complete` mode (tsqr/base.py:11-741): the m×n R of the full
    * factorization — the reduced n×n R stacked over an (m−n)×n zero
    * block — emitted distributed (indexed rows), reusing the caller's
    * dense 0..m-1 row ids. One R tree-reduce + one map; no row data
    * moves. */
  def tsqrRComplete(rows: RDD[(Long, Array[Double])], p: Int): RDD[(Long, Array[Double])] = {
    val r0 = tsqrR(rows.map(_._2), p)
    val signs = BDV.tabulate(p)(i => if (r0(i, i) < 0) -1.0 else 1.0)
    val r = BDM.tabulate(p, p)((i, j) => r0(i, j) * signs(i))
    val rB = rows.sparkContext.broadcast(r)
    rows.map { case (i, _) =>
      (i, if (i < p) Array.tabulate(p)(j => rB.value(i.toInt, j))
          else new Array[Double](p))
    }
  }

  /** Truncated SVD via RowMatrix.computeSVD (ARPACK — reference
    * lanczos/base.py:314-455 maps here; same iterative Krylov family). */
  def svd(rows: RDD[(Long, Array[Double])], p: Int, k: Int):
      (RDD[(Long, Array[Double])], BDV[Double], BDM[Double]) = {
    val rm = new RowMatrix(rows.map { case (_, v) => Vectors.dense(v) })
    val s = rm.computeSVD(k, computeU = false)
    val v = new BDM(p, s.V.numCols, s.V.toArray)
    val sv = BDV(s.s.toArray)
    // U = A V S^-1 (stable for non-tiny singular values)
    val vB = rows.sparkContext.broadcast(v)
    val svB = rows.sparkContext.broadcast(sv)
    val u = rows.mapValues { a =>
      val proj = new BDM(1, p, a) * vB.value
      (0 until k).map(j => proj(0, j) / svB.value(j)).toArray
    }
    (u, sv, v)
  }

  /** Randomized SVD (Halko sketch — reference randomsvd/base.py:118-333):
    * Y = (A·Aᵀ)^q A·Ω (Gaussian p×(k+over), q power iterations for
    * flat-spectrum accuracy), Q = tsqr(Y), B = Qᵀ·A (small), local SVD of
    * B; singular vectors lifted back. 2q+2 scans total; every shuffle
    * payload is ≤ p×l doubles. */
  def randomizedSvd(rows: RDD[(Long, Array[Double])], p: Int, k: Int,
      oversample: Int = 8, powerIters: Int = 2, seed: Long = 42): (BDV[Double], BDM[Double]) = {
    val l = math.min(p, k + oversample)
    val rng = new java.util.Random(seed)
    val omega = BDM.fill(p, l)(rng.nextGaussian())
    val sc = rows.sparkContext
    val oB = sc.broadcast(omega)
    var y = rows.mapValues(v => (new BDM(1, p, v) * oB.value).toArray)
    for (_ <- 0 until powerIters) {
      // Z = Aᵀ·Y (p×l, treeAggregate of outer products), Y ← A·Z
      val z = rows.zip(y).map { case ((_, a), (_, yi)) => (a, yi) }
        .treeAggregate(BDM.zeros[Double](p, l))(
          seqOp = { case (acc, (a, yi)) =>
            var i = 0
            while (i < p) {
              var j = 0
              while (j < l) { acc(i, j) += a(i) * yi(j); j += 1 }
              i += 1
            }
            acc
          }, combOp = _ + _, depth = 2)
      // orthonormalize Z locally to keep the power iteration stable
      val zq = bqr.reduced(z).q
      val zB = sc.broadcast(zq)
      y = rows.mapValues(v => (new BDM(1, p, v) * zB.value).toArray)
    }
    val (q, _) = tsqr(y, l)
    // B = Qᵀ A : l×p, accumulated as sum of outer(q_i, a_i).
    // zip (not join): q is a mapValues chain over rows, so partitioning
    // and per-partition order are identical — zero shuffle.
    val joined = q.zip(rows).map { case ((_, qi), (_, ai)) => (qi, ai) }
    val b = joined.treeAggregate(BDM.zeros[Double](l, p))(
      seqOp = { case (acc, (qi, ai)) =>
        var i = 0
        while (i < l) {
          var j = 0
          while (j < p) { acc(i, j) += qi(i) * ai(j); j += 1 }
          i += 1
        }
        acc
      },
      combOp = _ + _, depth = 2)
    val s = bsvd.reduced(b)
    (s.singularValues(0 until k), s.Vt(0 until k, ::).t)
  }

  /** Full Gramian Xᵀ X via treeAggregate (reference: the partial-gram
    * pattern of linear/base.py:274-328 and pca/base.py:316-373). */
  def gram(rows: RDD[Array[Double]], p: Int): BDM[Double] =
    rows.treeAggregate(BDM.zeros[Double](p, p))(
      seqOp = { (acc, v) =>
        var i = 0
        while (i < p) {
          var j = 0
          while (j <= i) { acc(i, j) += v(i) * v(j); j += 1 }
          i += 1
        }
        acc
      },
      combOp = _ + _, depth = 2) match {
      case m =>
        // mirror lower triangle
        var i = 0
        while (i < p) { var j = i + 1; while (j < p) { m(i, j) = m(j, i); j += 1 }; i += 1 }
        m
    }

  /** Sparse Gramian Xᵀ X from COO rows (reference: dislib's CSR arrays —
    * CSVM/ALS bench on sparse ijcnn1/Netflix, mn5/tests/csvm.py:18-26).
    * Per-row cost is nnz², not p² — the point of sparse storage; the
    * accumulator stays a dense p×p (p is feature count, small next to
    * rows). */
  def gramSparse(rows: RDD[(Array[Int], Array[Double])], p: Int): BDM[Double] =
    rows.treeAggregate(BDM.zeros[Double](p, p))(
      seqOp = { case (acc, (idx, vals)) =>
        var a = 0
        while (a < idx.length) {
          var b = 0
          while (b <= a) {
            acc(idx(a), idx(b)) += vals(a) * vals(b)
            b += 1
          }
          a += 1
        }
        acc
      },
      combOp = _ + _, depth = 2) match {
      case m =>
        var i = 0
        while (i < p) { var j = i + 1; while (j < p) { m(i, j) = m(j, i); j += 1 }; i += 1 }
        m
    }
}
