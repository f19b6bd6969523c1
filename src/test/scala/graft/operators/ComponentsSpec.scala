package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The distributed CC regime (Components.connectedDfJump) against the
  * driver union-find oracle — the regimes must be result-identical so
  * the maxDriverEdges switch is invisible (same contract the
  * union-find/GraphX pair honored; r14 makes the DF path the large
  * default). */
class ComponentsSpec extends SparkSpec {

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dfjump CC equals union-find on a random multigraph") {
    val spark2 = spark
    import spark2.implicits._
    // hash-built Erdős–Rényi-ish graph incl. self-loops and duplicate
    // edges (both regimes must tolerate them)
    val e = spark.range(3000).select(
      pmod(xxhash64(col("id")), lit(700L)).as("src"),
      pmod(xxhash64(col("id") + 3000L), lit(700L)).as("dst"))
    val uf = labels(Components.connected(e, maxDriverEdges = Long.MaxValue))
    val dj = labels(Components.connectedDfJump(e))
    assert(dj == uf, s"dfjump != union-find on ${uf.size} nodes")
  }

  test("dfjump CC converges in O(log n) rounds on a 100k-node chain") {
    val spark2 = spark
    import spark2.implicits._
    // a 100k-diameter path: O(diameter) message passing needs 100k
    // rounds; the pointer jump must close it in a handful (the 64-round
    // require inside connectedDfJump is the assertion — hitting it
    // throws)
    val n = 100000L
    val chain = spark.range(n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val got = Components.connectedDfJump(chain)
    assert(got.count() == n)
    assert(got.agg(max("comp")).head().getLong(0) == 0L,
      "every chain node must label to the min id 0")
    got.unpersist(false)
  }

  test("auto regime routes a deep graph to dfjump when the Pregel budget trips") {
    val spark2 = spark
    import spark2.implicits._
    // a 300-diameter chain through connected() with the driver path
    // disabled: the auto budget (3·⌈log₂(2m)⌉+8 ≈ 38 supersteps) cuts
    // Pregel mid-propagation, the edge-grain convergence check sees
    // labels spanning edges, and the pointer-jump regime reruns CC —
    // label equality with the union-find oracle proves the reroute
    // returned the CORRECT answer, not the truncated one
    val n = 300L
    val chain = spark.range(n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val got = Components.connected(chain, maxDriverEdges = 0L)
    assert(got.count() == n)
    assert(got.agg(max("comp")).head().getLong(0) == 0L,
      "every chain node must label to the min id 0 after the dfjump reroute")
    got.unpersist(false)
  }

  test("auto regime keeps the converged Pregel result on a shallow graph") {
    val spark2 = spark
    import spark2.implicits._
    // a star (diameter 2) converges far inside any budget: the check
    // join must pass and the Pregel labels come back unchanged
    val e = spark.range(1, 50).select(lit(0L).as("src"), col("id").as("dst"))
    val got = labels(Components.connectedAuto(e, nEdges = 49L))
    assert(got == (0L until 50L).map(_ -> 0L).toMap, s"got $got")
  }

  test("dfjump CC returns empty cleanly on an empty edge frame") {
    val spark2 = spark
    import spark2.implicits._
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = Components.connectedDfJump(e)
    assert(got.count() == 0L)
    got.unpersist(false)
  }

  test("dfjump CC labels multiple components to their own minima") {
    val spark2 = spark
    import spark2.implicits._
    val e = Seq((5L, 9L), (9L, 7L), (20L, 30L), (30L, 25L), (40L, 40L))
      .toDF("src", "dst")
    val got = labels(Components.connectedDfJump(e))
    assert(got == Map(5L -> 5L, 9L -> 5L, 7L -> 5L,
      20L -> 20L, 30L -> 20L, 25L -> 20L, 40L -> 40L),
      s"got $got (self-loop-only node 40 is its own singleton component)")
  }

  test("deep permuted chains through the auto regime equal union-find") {
    val spark2 = spark
    import spark2.implicits._
    // 4 chains of 250 nodes with seeded-permuted ids: the Pregel budget
    // trips and dfjump reruns CC. Each round's checkpoint leaf used to
    // inherit the product of its join inputs' size estimates, which
    // compounded until planning a round took tens of seconds; the
    // Scope's measured leaf size keeps every round cheap.
    val perm = new scala.util.Random(1L).shuffle((0L until 1000L).toVector)
    val e = (0 until 4).flatMap { c =>
      (0 until 249).map(i => (perm(c * 250 + i), perm(c * 250 + i + 1)))
    }.toDF("src", "dst")
    val uf = labels(Components.connected(e))
    val got = Components.connected(e, maxDriverEdges = 0L)
    assert(labels(got) == uf, "auto regime must equal union-find")
    assert(uf.values.toSet.size == 4)
    got.unpersist(false)
  }
}
