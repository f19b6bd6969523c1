package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** One run of one workload: speed probes, session start, setup (repeated),
  * then passes over the op list until the time budget is spent. A single
  * driver thread makes every call, so the loop is closed with one client.
  * Writes the raw record to `<outDir>/raw.json` for run.py.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <cpus> <dataDir> <outDir> <gatesFile> */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpusS, dataDir, outDir, gatesFile) = args
    val (seed, seconds, trace, cpus) = (seedS.toLong, secondsS.toDouble, traceS == "1", cpusS.toInt)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val probeStart = System.nanoTime()
    val stamp = Probes.run(cpus)
    val probeS = (System.nanoTime() - probeStart) / 1e9

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.graphx.pregel.checkpointInterval", "25")
      .config(graft.EngineConf.tuned())
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(s"$outDir/checkpoints")
    val sessionReadyMs = System.currentTimeMillis()

    val gateList = Files.readAllLines(Paths.get(gatesFile)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    val wl = Workloads(workload, spark, seed, dataDir, outDir, gateList)
    val setupS = (1 to SetupRepeats).map { i =>
      if (i > 1) wl.release()
      val t = System.nanoTime(); wl.setup(); (System.nanoTime() - t) / 1e9
    }
    System.err.println(s"[perfbench] setup ${setupS.mkString(" ")} s")
    val inputRdds = sc.getPersistentRDDs.keySet

    val tracer = new Tracer
    var attached = false
    def attach(on: Boolean): Unit = if (on != attached) {
      PerfbenchBridge.drainListenerBus(sc)
      if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      else { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
      attached = on
    }
    val (epoch0, nano0) = (System.currentTimeMillis(), System.nanoTime())
    def epochMs(n: Long): Double = epoch0 + (n - nano0) / 1e6
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // one cold pass, then steady passes until `seconds` of them have run
    // and at least two (traced runs: two traced around an untraced one).
    // The floor keeps the JIT warm-up each median spans alike across runs.
    val minSteady = if (trace) 3 else 2
    var steadyStart = Long.MaxValue
    var p = 0
    while (p <= minSteady || System.nanoTime() - steadyStart < seconds * 1e9) {
      // traced run: the cold pass and odd steady passes carry the listeners;
      // even steady passes run without them to measure tracing overhead
      val traced = trace && (p == 0 || p % 2 == 1)
      attach(traced)
      val gc0 = gcMs
      val ops = wl.ops.zipWithIndex.map { case (op, j) =>
        val span = s"p$p.o$j"
        val before = sc.getPersistentRDDs.keySet
        val base = if (traced) tracer.resetPeak() else 0L
        sc.setLocalProperty(Tracer.SpanProperty, span)
        val t0 = System.nanoTime()
        val result = Try(op.call())
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanProperty, s"check:$span")
        val verdict = result match {
          case Success(r) => Try(op.verify(r)) match {
            case Success(v) => v
            case Failure(e) => Verdict(Some(s"check threw $e"))
          }
          case Failure(e) => Verdict(Some(s"call threw $e"))
        }
        sc.setLocalProperty(Tracer.SpanProperty, null)
        System.err.println(f"[perfbench] pass $p ${op.name} ${(t1 - t0) / 1e9}%.3f s" +
          verdict.error.map(e => s" FAILED: $e").getOrElse(""))
        if (traced) PerfbenchBridge.drainListenerBus(sc)
        Map("name" -> op.name, "scope" -> op.scope, "span" -> span,
          "start_ms" -> epochMs(t0), "end_ms" -> epochMs(t1), "seconds" -> (t1 - t0) / 1e9,
          "error" -> verdict.error, "shape" -> verdict.shape,
          "blocks_left" -> (sc.getPersistentRDDs.keySet -- before).size,
          "storage_peak_bytes" -> (if (traced) tracer.peak - base else 0L))
      }
      passes += Map("index" -> p, "traced" -> traced, "ops" -> ops,
        "driver_gc_ms" -> (gcMs - gc0))
      if (p == 0) steadyStart = System.nanoTime()
      p += 1
    }
    attach(false)

    val residue = sc.getRDDStorageInfo.filter(r => !inputRdds(r.id))
    System.gc()
    val heapUsed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "stamp" -> (stamp ++ Map(
        "cpus" -> cpus,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "scala_version" -> scala.util.Properties.versionNumberString)),
      "setup" -> Map("jvm_start_ms" -> jvmStartMs, "probe_s" -> probeS,
        "session_ready_ms" -> sessionReadyMs, "input_setup_s" -> setupS),
      "passes" -> passes,
      "trace_events" -> (if (trace) tracer.record else Map.empty),
      "residue" -> Map("rdds" -> residue.length,
        "bytes" -> residue.map(r => r.memSize + r.diskSize).sum),
      "heap_used_mb_after" -> heapUsed / 1048576.0,
      "oracles" -> wl.oracles)
    Files.writeString(Paths.get(s"$outDir/raw.json"), Json.write(record))
    sc.setLogLevel("OFF")
    spark.stop()
  }
}

/** Machine-speed stamps taken before the session starts. Recorded only:
  * nothing waits on, retimes or discards a run because of them. */
object Probes {
  private val SpinSteps = 20000000

  /** Fixed scalar work: a 64-bit LCG folded into a floating-point sum. */
  private def spin(): Double = {
    var x = 1L; var acc = 0.0; var i = 0
    while (i < SpinSteps) { x = x * 6364136223846793005L + 1442695040888963407L; acc += (x >>> 11) * 1e-18; i += 1 }
    acc
  }

  private def mstepsPerS(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { spin(); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    threads * SpinSteps / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  /** Median of five single-thread 384³ dgemm timings, in GFLOP/s. */
  private def dgemmGflops(): Double = {
    val n = 384
    val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
    val rng = new java.util.Random(1)
    val (a, b, c) = (Array.fill(n * n)(rng.nextDouble()), Array.fill(n * n)(rng.nextDouble()),
      new Array[Double](n * n))
    val rates = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      blas.dgemm("N", "N", n, n, n, 1.0, a, n, b, n, 0.0, c, n)
      2.0 * n * n * n / ((System.nanoTime() - t0) / 1e9) / 1e9
    }.sorted
    rates(2)
  }

  def run(cpus: Int): Map[String, Any] = Map(
    "loadavg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
    "speed_1t_msteps_s" -> mstepsPerS(1),
    "speed_nt_msteps_s" -> mstepsPerS(cpus),
    "blas_peak_gflops" -> dgemmGflops(),
    "blas_impl" -> dev.ludovic.netlib.blas.BLAS.getInstance().getClass.getSimpleName)
}
