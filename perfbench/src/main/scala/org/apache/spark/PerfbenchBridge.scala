package org.apache.spark

/** Reaches the one package-private Spark hook the traced run needs:
  * waiting until the listener bus has delivered every queued event, so
  * an op's jobs, stages and block updates are all recorded before the
  * next op starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
