package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import breeze.linalg.{DenseMatrix => BDM}
import org.apache.spark.SparkContext
import org.apache.spark.mllib.linalg.Matrices
import org.apache.spark.mllib.linalg.distributed.BlockMatrix
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.linalg.{Decompositions, DsArray}
import graft.ml.{GmmGraft, KMeansGraft}
import graft.operators.Components

/** The outcome of one op's output check, made outside the timed call.
  * `shape` holds the sizes run.py's analytic flop formulas read. */
final case class Verdict(error: Option[String], shape: Map[String, Int] = Map.empty)

/** One timed public graft call, named by its op and attributed to a scope.
  * `call` is the whole timed region; `verify` checks its result. */
final case class Op(name: String, scope: String, call: () => AnyRef, verify: AnyRef => Verdict)

/** A workload builds its inputs in `setup` (repeatable after `release`)
  * and exposes the op list one pass runs, in order. */
trait Workload {
  def setup(): Unit
  def release(): Unit
  def ops: Seq[Op]
  /** Oracle SQL of the gates this workload runs, for the DuckDB check. */
  def oracles: Map[String, String] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, dataDir: String,
      outDir: String, gateList: Seq[String]): Workload = name match {
    case "dsarray_ml" => new DsArrayMl(spark, seed)
    case "graph_gates" => new GraphGates(spark, seed, dataDir, outDir, gateList)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Scope of a gate: the SparkEntry module map it comes from. */
  def gateGroup(name: String): String = {
    import graft.operators._
    if (Temporal.queries.contains(name) || Events.queries.contains(name)) "gates.temporal"
    else if (TextAnalysis.queries.contains(name) || Dedup.queries.contains(name) ||
      Similarity.queries.contains(name)) "gates.text"
    else if (Graph.queries.contains(name)) "gates.graph"
    else if (graft.ml.MlQueries.queries.contains(name) ||
      graft.linalg.LinalgQueries.queries.contains(name)) "gates.ml"
    else if (graft.streaming.StreamingGates.queries.contains(name)) "gates.streaming"
    else "gates.relational"
  }

  /** Seeded dense rows: points scattered around `centers` (row ids 0..n-1). */
  def blobRows(sc: SparkContext, n: Int, centers: Array[Array[Double]], sigma: Double,
      parts: Int, seed: Long): RDD[(Long, Array[Double])] =
    sc.parallelize(0 until parts, parts).flatMap { p =>
      val rng = new java.util.Random(seed * 1000003L + p)
      (n.toLong * p / parts until n.toLong * (p + 1) / parts).iterator.map { i =>
        val c = centers(rng.nextInt(centers.length))
        (i, Array.tabulate(c.length)(j => c(j) + sigma * rng.nextGaussian()))
      }
    }

  def randomMatrix(rows: Int, cols: Int, rng: java.util.Random): Array[Array[Double]] =
    Array.fill(rows, cols)(rng.nextDouble())

  /** Sorted row strings, hashed: equal for equal result multisets. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Gate calls: the call collects the gate's rows; the check requires
  * every call to return the same rows as the first, whose rows are written
  * out for run.py to compare with the gate's DuckDB oracle answer. */
final class GateCalls(spark: SparkSession, dataDir: String, outDir: String) {
  private val firstDigest = mutable.HashMap.empty[String, String]

  def op(name: String, opName: String, scope: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(opName, scope,
      () => { val df = fn(spark, dataDir); (df.schema, df.collect()) },
      { case (schema: org.apache.spark.sql.types.StructType, rows: Array[Row] @unchecked) =>
        val d = Workloads.digest(rows)
        firstDigest.get(name) match {
          case None =>
            firstDigest(name) = d
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/gates/$name")
            Verdict(None)
          case Some(first) =>
            Verdict(if (first == d) None else Some(s"$name: rows differ from the first call"))
        }
      })
  }

  def oracles(names: Seq[String]): Map[String, String] =
    names.map(n => n -> SparkEntry.oracleSql(n)).toMap
}

/** dislib's performance matrix at 4-core scale: BLAS-bound estimator fits
  * and ds-array kernels over seeded synthetic data persisted in setup. */
final class DsArrayMl(spark: SparkSession, seed: Long) extends Workload {
  import DsArrayMl._
  private val sc = spark.sparkContext
  private val parts = sc.defaultParallelism
  private var kmDf: DataFrame = _
  private var gmmRows: RDD[(Long, Array[Double])] = _
  private var qrRows: RDD[(Long, Array[Double])] = _
  private var mmA: DsArray = _
  private var mmB: DsArray = _
  private val rng0 = new java.util.Random(seed)
  private val kmCenters = Workloads.randomMatrix(KmK, KmD, rng0)
  private val kmInit = kmCenters.map(_.map(_ + 0.05 * rng0.nextGaussian()))
  private val gmmCenters = Workloads.randomMatrix(GmmK, GmmP, rng0).map(_.map(_ * 4))
  private val gmmInitMeans = gmmCenters.map(_.map(_ + 0.5 * rng0.nextGaussian()))
  private val gmmInitWeights = Array.fill(GmmK)(1.0 / GmmK)
  private val gmmInitCovs =
    Array.fill(GmmK)(Array.tabulate(GmmP, GmmP)((i, j) => if (i == j) 4.0 else 0.0))
  private val samples = mutable.HashMap.empty[String, Array[Array[Double]]]
  private var gram: Array[Double] = _

  def setup(): Unit = {
    kmDf = spark.createDataFrame(
      Workloads.blobRows(sc, KmN, kmCenters, 0.1, parts, seed + 1).map { case (i, v) => Row(i, v) },
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    kmDf.count()
    gmmRows = Workloads.blobRows(sc, GmmN, gmmCenters, 1.0, parts, seed + 2)
      .persist(StorageLevel.MEMORY_AND_DISK)
    gmmRows.count()
    val qrCenters = Array(Array.fill(QrP)(0.0))
    qrRows = Workloads.blobRows(sc, QrM, qrCenters, 1.0, parts, seed + 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    qrRows.count()
    mmA = randomDsArray(seed + 4); mmB = randomDsArray(seed + 5)
  }

  private def randomDsArray(s: Long): DsArray = {
    val grid = for (bi <- 0 until MmN / MmBlock; bj <- 0 until MmN / MmBlock) yield (bi, bj)
    val blocks = sc.parallelize(grid, grid.length).map { case (bi, bj) =>
      ((bi, bj), Matrices.dense(MmBlock, MmBlock, tile(s, bi, bj)))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    new DsArray(new BlockMatrix(blocks, MmBlock, MmBlock, MmN, MmN))
  }

  def release(): Unit = {
    kmDf.unpersist(true); gmmRows.unpersist(true); qrRows.unpersist(true)
    mmA.bm.blocks.unpersist(true); mmB.bm.blocks.unpersist(true)
  }

  private def sample(name: String, rows: => Array[Array[Double]]) =
    samples.getOrElseUpdate(name, rows)

  def ops: Seq[Op] = Seq(
    Op("kmeans_fit", "kmeans_fit",
      () => KMeansGraft.fit(kmDf, "v", "id", k = KmK, maxIter = KmIters,
        init = KMeansGraft.Init.Given(kmInit), tol = 0.0, blasAssign = true),
      { case m: KMeansGraft.Model =>
        val xs = sample("km", kmDf.select("v").limit(SampleRows).collect()
          .map(_.getSeq[Double](0).toArray))
        val (before, after) = (Checks.inertia(xs, kmInit), Checks.inertia(xs, m.centers))
        val err =
          if (!m.centers.forall(_.forall(java.lang.Double.isFinite))) Some("non-finite center")
          else if (!(after <= before)) Some(s"inertia rose from $before to $after")
          else None
        Verdict(err, Map("n" -> KmN, "k" -> KmK, "d" -> KmD, "iters" -> m.iterations))
      }),
    Op("gmm_fit", "gmm_fit",
      () => GmmGraft.fit(gmmRows, GmmK, GmmGraft.Full, maxIter = GmmIters, tol = 0.0,
        init = GmmGraft.GmmInit.Given(gmmInitWeights, gmmInitMeans, gmmInitCovs),
        blasFull = true),
      { case m: GmmGraft.Model =>
        val xs = sample("gmm", gmmRows.map(_._2).take(SampleRows))
        val before = Checks.gmmLogLik(xs, gmmInitWeights, gmmInitMeans, gmmInitCovs)
        val covs = m.covs.map(c => Array.tabulate(GmmP, GmmP)((i, j) => c(i, j)))
        val err = Checks.gmmParams(m.weights, covs).orElse {
          val after = Checks.gmmLogLik(xs, m.weights, m.means.map(_.toArray), covs)
          if (after.isNaN || after.isInfinite) Some("non-finite log-likelihood")
          else if (after < before) Some(s"log-likelihood fell from $before to $after")
          else None
        }
        Verdict(err, Map("n" -> GmmN, "k" -> GmmK, "d" -> GmmP, "iters" -> m.iterations))
      }),
    Op("tsqr", "tsqr",
      () => {
        val (q, r) = Decompositions.tsqr(qrRows, QrP)
        q.count() // materialize Q, not only the R reduction tree
        r
      },
      { case r: BDM[Double] @unchecked =>
        if (gram == null) gram = Checks.gram(qrRows.map(_._2), QrP)
        val rtr = Array.tabulate(QrP * QrP) { ij =>
          val (i, j) = (ij / QrP, ij % QrP)
          (0 until QrP).map(l => r(l, i) * r(l, j)).sum
        }
        Verdict(Checks.relDiff(rtr, gram, 1e-8, "R^T R vs A^T A"), Map("m" -> QrM, "n" -> QrP))
      }),
    Op("matmul", "matmul",
      () => {
        val picks = matmulPicks(seed)
        (mmA %*% mmB).bm.blocks.flatMap { case ((bi, bj), blk) =>
          picks.filter { case (i, j) => i / MmBlock == bi && j / MmBlock == bj }
            .map { case (i, j) => ((i, j), blk(i % MmBlock, j % MmBlock)) }
        }.collect()
      },
      { case got: Array[((Int, Int), Double)] @unchecked =>
        val want = matmulPicks(seed).map { case (i, j) =>
          (0 until MmN).map(l => entry(seed + 4, i, l) * entry(seed + 5, l, j)).sum
        }
        val have = got.toMap
        val err =
          if (have.size != want.length) Some(s"${have.size} of ${want.length} sampled entries")
          else Checks.relDiff(matmulPicks(seed).map(have), want, 1e-9, "sampled entries")
        Verdict(err, Map("m" -> MmN, "k" -> MmN, "n" -> MmN))
      }))
}

object DsArrayMl {
  val KmN = 80000; val KmD = 100; val KmK = 100; val KmIters = 5
  val GmmN = 30000; val GmmP = 50; val GmmK = 8; val GmmIters = 3
  val QrM = 150000; val QrP = 32
  val MmN = 1500; val MmBlock = 500
  val SampleRows = 4000

  /** One seeded MmBlock² tile of a random matrix, column-major. */
  def tile(seed: Long, bi: Int, bj: Int): Array[Double] = {
    val rng = new java.util.Random(seed * 7919L + bi * 131L + bj)
    Array.fill(MmBlock * MmBlock)(rng.nextDouble())
  }

  private val tiles = mutable.HashMap.empty[(Long, Int, Int), Array[Double]]

  /** Entry (i, j) of the matrix [[tile]] builds, recomputed on the driver. */
  def entry(seed: Long, i: Int, j: Int): Double =
    tiles.getOrElseUpdate((seed, i / MmBlock, j / MmBlock), tile(seed, i / MmBlock, j / MmBlock))(
      (j % MmBlock) * MmBlock + i % MmBlock)

  def matmulPicks(seed: Long): Array[(Int, Int)] = {
    val rng = new java.util.Random(seed + 5)
    Array.fill(16)((rng.nextInt(MmN), rng.nextInt(MmN))).distinct
  }
}

/** Many short Spark jobs: a frozen, stratified sample of oracle gates over
  * tiny tables, plus two iterative shuffle-and-checkpoint loops, connected
  * components on a low-diameter random graph in Components' distributed
  * regime and the k-core peel gate. The seed draws the graph and the
  * tables and shuffles the op order; passes repeat in one session. */
final class GraphGates(spark: SparkSession, seed: Long, dataDir: String, outDir: String,
    gateList: Seq[String]) extends Workload {
  import GraphGates._
  private val sc = spark.sparkContext
  private val gates = new GateCalls(spark, dataDir, outDir)
  private var src: Array[Long] = _
  private var dst: Array[Long] = _
  private var edges: DataFrame = _
  private var components = -1

  def setup(): Unit = {
    graft.Tables.registerAll(spark, dataDir)
    val rng = new java.util.Random(seed)
    src = Array.fill(Edges)(rng.nextInt(Nodes).toLong)
    dst = Array.fill(Edges)(rng.nextInt(Nodes).toLong)
    edges = spark.createDataFrame(sc.parallelize(src.zip(dst).toSeq, sc.defaultParallelism))
      .toDF("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
  }

  def release(): Unit = edges.unpersist(true)

  override def oracles: Map[String, String] = gates.oracles("q_kcore" +: gateList)

  // maxDriverEdges = 0 selects the distributed regime at this graph size
  private val cc = Op("cc", "cc", () => Components.connected(edges, maxDriverEdges = 0L),
    { case out: DataFrame @unchecked =>
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.unpersist(false) // the caller's duty under Components' cache contract
      if (components < 0) components = Checks.unionFindComponents(src, dst)
      Verdict(Checks.components(src, dst, labels, components))
    })

  private val order: Seq[Op] = {
    val all = new java.util.ArrayList[Op](java.util.Arrays.asList(
      (cc +: gates.op("q_kcore", "kcore", "kcore") +:
        gateList.map(n => gates.op(n, n, Workloads.gateGroup(n)))): _*))
    java.util.Collections.shuffle(all, new java.util.Random(seed))
    scala.jdk.CollectionConverters.ListHasAsScala(all).asScala.toSeq
  }

  def ops: Seq[Op] = order
}

object GraphGates {
  val Nodes = 4000; val Edges = 16000
}
