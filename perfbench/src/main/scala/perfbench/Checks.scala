package perfbench

import scala.collection.mutable

import org.apache.spark.rdd.RDD

/** Output checks, written independently of graft's own kernels. */
object Checks {
  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Sum over `xs` of the squared distance to the nearest center. */
  def inertia(xs: Array[Array[Double]], centers: Array[Array[Double]]): Double =
    xs.map(x => centers.map(sqDist(x, _)).min).sum

  /** Lower Cholesky factor, or None when `a` is not positive definite. */
  def cholesky(a: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val n = a.length
    val l = Array.ofDim[Double](n, n)
    var ok = true
    for (j <- 0 until n if ok) {
      val d = a(j)(j) - (0 until j).map(k => l(j)(k) * l(j)(k)).sum
      if (!(d > 0)) ok = false
      else {
        l(j)(j) = math.sqrt(d)
        for (i <- j + 1 until n)
          l(i)(j) = (a(i)(j) - (0 until j).map(k => l(i)(k) * l(j)(k)).sum) / l(j)(j)
      }
    }
    if (ok) Some(l) else None
  }

  /** Weights sum to 1; covariances are finite, symmetric and SPD. */
  def gmmParams(weights: Array[Double], covs: Array[Array[Array[Double]]]): Option[String] =
    if (math.abs(weights.sum - 1.0) > 1e-9) Some(s"weights sum to ${weights.sum}")
    else covs.zipWithIndex.collectFirst {
      case (c, i) if !c.forall(_.forall(java.lang.Double.isFinite)) => s"covariance $i not finite"
      case (c, i) if asymmetry(c) > 1e-9 => s"covariance $i not symmetric"
      case (c, i) if cholesky(c).isEmpty => s"covariance $i not positive definite"
    }

  /** Largest |a(r)(s) − a(s)(r)| relative to the largest |entry|. */
  private def asymmetry(a: Array[Array[Double]]): Double = {
    val scale = a.map(_.map(math.abs).max).max
    a.indices.map(r => a.indices.map(s => math.abs(a(r)(s) - a(s)(r))).max).max / scale
  }

  /** Mean log-likelihood of `xs` under a full-covariance Gaussian mixture. */
  def gmmLogLik(xs: Array[Array[Double]], weights: Array[Double],
      means: Array[Array[Double]], covs: Array[Array[Array[Double]]]): Double = {
    val p = means.head.length
    val comps = covs.indices.map { c =>
      val l = cholesky(covs(c)).getOrElse(return Double.NaN)
      val logDet = 2 * (0 until p).map(i => math.log(l(i)(i))).sum
      (math.log(weights(c)) - 0.5 * (p * math.log(2 * math.Pi) + logDet), l, means(c))
    }
    val total = xs.map { x =>
      val terms = comps.map { case (base, l, mu) =>
        // forward substitution: z = L^-1 (x - mu)
        val z = new Array[Double](p)
        var i = 0; var q = 0.0
        while (i < p) {
          var s = x(i) - mu(i); var k = 0
          while (k < i) { s -= l(i)(k) * z(k); k += 1 }
          z(i) = s / l(i)(i); q += z(i) * z(i); i += 1
        }
        base - 0.5 * q
      }
      val m = terms.max
      m + math.log(terms.map(t => math.exp(t - m)).sum)
    }.sum
    total / xs.length
  }

  /** AᵀA of a row-distributed matrix, row-major p×p. */
  def gram(rows: RDD[Array[Double]], p: Int): Array[Double] =
    rows.treeAggregate(new Array[Double](p * p))(
      (g, x) => {
        var i = 0
        while (i < p) { var j = 0; while (j < p) { g(i * p + j) += x(i) * x(j); j += 1 }; i += 1 }
        g
      },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })

  /** None when ‖got − want‖ ≤ tol·‖want‖ (Euclidean over all entries). */
  def relDiff(got: Array[Double], want: Array[Double], tol: Double, what: String): Option[String] = {
    val d = math.sqrt(got.zip(want).map { case (g, w) => (g - w) * (g - w) }.sum)
    val n = math.sqrt(want.map(w => w * w).sum)
    if (d <= tol * n) None else Some(f"$what: relative difference ${d / n}%.3e > $tol%.0e")
  }

  /** Number of connected components among the endpoints of the edges. */
  def unionFindComponents(src: Array[Long], dst: Array[Long]): Int = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    src.indices.foreach { i =>
      val (a, b) = (find(src(i)), find(dst(i)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    parent.keys.count(k => find(k) == k)
  }

  /** Both ends of every edge carry one label, no label exceeds its node id,
    * every node is labelled, and the label count matches union-find. */
  def components(src: Array[Long], dst: Array[Long], labels: Map[Long, Long],
      want: Int): Option[String] = {
    val bad = src.indices.find(i => !labels.contains(src(i)) || !labels.contains(dst(i)) ||
      labels(src(i)) != labels(dst(i)))
    val nodes = (src.iterator ++ dst.iterator).toSet
    if (bad.isDefined) Some(s"edge ${src(bad.get)}-${dst(bad.get)} spans two labels")
    else if (labels.exists { case (id, l) => l > id }) Some("a label exceeds its node id")
    else if (labels.size != nodes.size) Some(s"${labels.size} labelled nodes, want ${nodes.size}")
    else if (labels.values.toSet.size != want)
      Some(s"${labels.values.toSet.size} components, union-find finds $want")
    else None
  }
}
