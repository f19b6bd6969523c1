package graft

import org.apache.spark.sql.{DataFrame, GraftStorageBridge}
import org.apache.spark.sql.functions._

/** GateUtil.Scope: exact ownership of the blocks it creates, and the
  * size estimate it gives each checkpoint leaf. */
class GateUtilSpec extends SparkSpec {

  // one round of a pointer-jump style self-join: the non-CBO join
  // estimate is the product of the two inputs' estimates
  private def jump(p: DataFrame): DataFrame =
    p.as("a").join(p.as("b"), col("a.lbl") === col("b.id"))
      .select(col("a.id").as("id"), col("b.lbl").as("lbl"))

  private def leafEstimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  private def stored(df: DataFrame): Long =
    GraftStorageBridge.leafRdds(df).map(GraftStorageBridge.storedBytes).sum

  test("checkpoint leaves carry their stored size; raw localCheckpoint compounds") {
    val base = spark.range(2000).select(col("id"), (col("id") % 100).as("lbl"))
    val before = sc.getPersistentRDDs.keySet
    val scopedRatio = GateUtil.scoped { s =>
      var p = s.checkpoint(base)
      for (_ <- 1 to 5) p = s.checkpoint(jump(p))
      leafEstimate(p).toDouble / stored(p)
    }
    assert(scopedRatio >= 0.25 && scopedRatio <= 4.0,
      s"scoped leaf estimate / stored bytes = $scopedRatio")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty, "the scope frees all six leaves")

    var raw = base.localCheckpoint(true)
    val rawLeaves = scala.collection.mutable.ArrayBuffer(raw)
    for (_ <- 1 to 5) { raw = jump(raw).localCheckpoint(true); rawLeaves += raw }
    val rawRatio = leafEstimate(raw).toDouble / stored(raw)
    rawLeaves.foreach(GraftStorageBridge.leafRdds(_).foreach(_.unpersist(false)))
    assert(rawRatio > 1e6, s"raw localCheckpoint estimate should compound, ratio $rawRatio")
  }

  test("free drops one round's blocks now; the scope frees the rest on exit") {
    val before = sc.getPersistentRDDs.keySet
    val plansBefore = GraftStorageBridge.cachedPlans(spark)
    GateUtil.scoped { s =>
      val a = s.checkpoint(spark.range(100).toDF("id"))
      val b = s.persist(spark.range(50).toDF("id"))
      b.count()
      val c = s.checkpoint(a.filter(col("id") > 10))
      s.free(a)
      val live = sc.getPersistentRDDs.keySet -- before
      assert(!live.exists(GraftStorageBridge.leafRdds(a).map(_.id).contains),
        "free(a) must unpersist a's checkpoint")
      assert(live.contains(GraftStorageBridge.leafRdds(c).head.id))
      intercept[IllegalArgumentException](s.free(c.select("id")))
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(GraftStorageBridge.cachedPlans(spark) == plansBefore)
  }

  test("free of a frame cached over a checkpoint leaves the checkpoint readable") {
    GateUtil.scoped { s =>
      val base = s.checkpoint(spark.range(200).toDF("id"))
      val top = s.persist(base.select((col("id") * 2).as("v")))
      assert(top.count() == 200L)
      s.free(top)
      assert(base.agg(sum("id")).head().getLong(0) == 19900L,
        "the checkpoint `top` read from must survive free(top)")
      assert(GraftStorageBridge.storedBytes(GraftStorageBridge.leafRdds(base).head) > 0L)
    }
  }

  test("pinned returns the report as a local relation and frees everything") {
    val before = sc.getPersistentRDDs.keySet
    val out = GateUtil.pinned { s =>
      val e = s.persist(spark.range(1000).select((col("id") % 7).as("k")))
      s.checkpoint(e.groupBy("k").count()).orderBy("k")
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(out.collect().map(_.getLong(1)).sum == 1000L)
  }
}
