package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.storage.RDDBlockId

/** Bridge into the package-private pieces graft.GateUtil.Scope needs. */
object GraftStorageBridge {
  /** The RDDs `df` reads directly (its LogicalRDD / ExternalRDD leaves). */
  def leafRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.logical.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
      case l: ExternalRDD[_] => l.rdd
    }

  /** Memory + disk bytes all block managers hold for `rdd`. */
  def storedBytes(rdd: RDD[_]): Long =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator.flatMap(_.rddBlocks.collect {
      case (RDDBlockId(id, _), s) if id == rdd.id => s.memSize + s.diskSize
    }).sum

  /** `leaf` (a single-LogicalRDD frame) with `bytes` as its size estimate. */
  def withSize(leaf: DataFrame, bytes: Long): DataFrame = leaf.queryExecution.logical match {
    case l: LogicalRDD =>
      val session = leaf.sparkSession.asInstanceOf[classic.SparkSession]
      classic.Dataset.ofRows(session, LogicalRDD(l.output, l.rdd, l.outputPartitioning,
        l.outputOrdering, l.isStreaming)(session, Some(Statistics(BigInt(bytes))),
        Some(l.constraints)))
  }

  /** Plans registered in the session's cache manager. */
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
