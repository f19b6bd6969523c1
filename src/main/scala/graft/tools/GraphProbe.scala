package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-pass cost decomposition for the iterative-graph 10× ratios
  * (judge r13 ask #4): the sf1/sf0.1 wall ratios of the graph family sit
  * at 2.1–2.9 even at idle. This probe splits each scale's wall into
  *
  *   - t_pairs: the distinct (s, c) pair-frame derivation
  *     (lineitem ⋈ orders + distinct — data-sized, SHARED by every graph
  *     gate, nothing to do with the iteration loop);
  *   - t_setup: edge expansion + degree + cache build (1 iteration run
  *     minus one marginal pass);
  *   - t_pass: marginal cost per PageRank pass
  *     ((t_iters(3) − t_iters(1)) / 2) — the ranks-only join + contrib
  *     aggregate whose scaling is the thing the ratio is supposed to
  *     measure.
  *
  * If t_pass scales ~linearly with the corpus while t_setup/t_pairs
  * carry fixed scheduling overhead that dominates the SMALL scale, a
  * 2–3× wall ratio at a 10× data step is amortization arithmetic, not a
  * scaling defect. Writes GRAPH_PASS_COST.json in the launch cwd.
  */
object GraphProbe {
  def main(args: Array[String]): Unit = {
    val sf01 = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sf1 = if (args.length > 1) args(1) else "/tmp/graft_sf1_derived"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def pairs(dir: String): DataFrame =
      graft.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(graft.Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast("long").as("s"),
          col("o_custkey").cast("long").as("c"))
        .distinct()
    val sb = new StringBuilder
    // warmup JIT/page cache on the small scale once
    pairs(sf01).write.format("noop").mode("overwrite").save()
    Seq("sf0.1" -> sf01, "sf1" -> sf1).foreach { case (tag, dir) => graft.GateUtil.scoped { probe =>
      val tPairs = t(pairs(dir).write.format("noop").mode("overwrite").save())
      val p = probe.checkpoint(pairs(dir)) // fixed input for the loop timings
      val nPairs = p.count()
      def run(iters: Int): Unit = graft.GateUtil.scoped { implicit s =>
        graft.operators.Graph.pageRankPairs(p, topK = 20, iters = iters)
          .write.format("noop").mode("overwrite").save()
      }
      run(3) // per-scale warmup: JIT + page cache, discarded
      val t1 = Seq(t(run(1)), t(run(1))).min
      val t3 = Seq(t(run(3)), t(run(3))).min
      val tPass = (t3 - t1) / 2.0
      val tSetup = t1 - tPass
      val line = s"""{"corpus":"$tag","n_pairs":$nPairs,""" +
        s""""t_pairs":${math.round(tPairs * 100) / 100.0},""" +
        s""""t_iters1":${math.round(t1 * 100) / 100.0},""" +
        s""""t_iters3":${math.round(t3 * 100) / 100.0},""" +
        s""""t_pass_marginal":${math.round(tPass * 100) / 100.0},""" +
        s""""t_setup":${math.round(tSetup * 100) / 100.0}}"""
      println(s"[graphprobe] $line")
      sb.append(line).append("\n")
    }}
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."), "GRAPH_PASS_COST.json"), sb.toString)
    spark.stop()
  }
}
