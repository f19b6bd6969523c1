package graft

import org.apache.spark.sql.GraftStorageBridge

/** Storage-leak gate: sweep EVERY SparkEntry.queries entry at sf0.001,
  * collect its result, and prove the gate left the session as it found
  * it — no persistent RDD (checkpoint or cache blocks) and no cache
  * manager entry. GateUtil.Scope is the only owner of intermediates, so
  * a leftover here is a materialization outside a scope. */
class LeakSpec extends SparkSpec {

  private def residue(): Seq[String] =
    sc.getPersistentRDDs.values.toSeq.sortBy(_.id).map(r =>
      s"rdd ${r.id} (${Option(r.name).getOrElse(r.toString).linesIterator.next().take(120)})") ++
      (GraftStorageBridge.cachedPlans(spark) match {
        case 0 => Nil
        case n => Seq(s"$n cached plan(s)")
      })

  private def clear(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("no gate leaves a persistent RDD or a cached plan behind") {
    val dir = "/root/testdata/sf0.001"
    clear() // earlier suites share this session
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val failed = try { fn(spark, dir).collect(); Nil }
        catch { case e: Throwable => Seq(s"failed: ${e.getMessage}") }
      val left = failed ++ residue()
      clear() // attribute each leftover to the gate that made it
      if (left.isEmpty) None else Some(s"$name: ${left.mkString("; ")}")
    }
    assert(leaks.isEmpty, s"${leaks.size} gate(s) left storage behind:\n" +
      leaks.mkString("\n"))
  }
}
