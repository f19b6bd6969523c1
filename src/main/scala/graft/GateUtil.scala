package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftStorageBridge}
import org.apache.spark.storage.StorageLevel

/** The one owner of materialized intermediates.
  *
  * A [[GateUtil.Scope]] hands out frames and records, per frame, the
  * blocks behind it: `checkpoint` runs an eager local checkpoint and
  * records the exact RDD it created (read off the new leaf, never a
  * registry diff); `persist` caches a frame at MEMORY_AND_DISK; `own`
  * adopts a frame or RDD someone else cached. `free(x)` drops the blocks
  * recorded for `x` — exactly a frame (or RDD) this scope handed out, not
  * anything `x` merely reads from — and the scope frees everything still
  * recorded when its block exits, normally or by exception.
  *
  * A checkpoint leaf's size estimate is its stored bytes, not the
  * estimate copied from its source plan — for a join the product of its
  * inputs', which compounds round after round.
  *
  * Who owns what: a gate entry point runs in [[pinned]] (its bounded
  * report is collected before the scope frees); a library core that its
  * caller reads lazily takes the caller's `implicit s: Scope`; a call
  * whose result is as large as its data (e.g.
  * [[graft.operators.Components.connected]]) runs its own [[scoped]]
  * block and returns a cached frame that the caller unpersists or hands
  * to its own scope's `own`. */
object GateUtil {

  final class Scope private[GateUtil] () {
    // handed-out frame or RDD -> how to drop its blocks (identity keys)
    private val held = mutable.ArrayBuffer.empty[(AnyRef, () => Unit)]

    private def hold[T <: AnyRef](x: T)(drop: () => Unit): T = { held += (x -> drop); x }

    def checkpoint(df: DataFrame): DataFrame = {
      val leaf = df.localCheckpoint(true)
      val rdd = GraftStorageBridge.leafRdds(leaf).head
      hold(GraftStorageBridge.withSize(leaf, math.max(1L, GraftStorageBridge.storedBytes(rdd))))(
        () => rdd.unpersist(false))
    }

    def persist[T](ds: Dataset[T]): Dataset[T] = own(ds.persist(StorageLevel.MEMORY_AND_DISK))

    def own[T](ds: Dataset[T]): Dataset[T] = hold(ds)(() => ds.unpersist(false))

    def own[T](rdd: RDD[T]): RDD[T] = hold(rdd)(() => rdd.unpersist(false))

    def free(x: AnyRef): Unit = {
      val i = held.indexWhere(_._1 eq x)
      require(i >= 0, "free: not a frame this scope handed out")
      held.remove(i)._2()
    }

    private[GateUtil] def close(): Unit = {
      held.foreach(_._2())
      held.clear()
    }
  }

  /** Runs `body` in a fresh scope, freed when `body` returns or throws. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.close()
  }

  /** A gate entry point: collects `body`'s report (bounded by
    * construction — every gate emits a census, top-k or grain-bounded
    * result) and returns it as a local relation once the scope has freed
    * everything, so no block outlives its query to tax the next one. */
  def pinned(body: Scope => DataFrame): DataFrame = scoped { s =>
    val out = body(s)
    out.sparkSession.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
  }
}
