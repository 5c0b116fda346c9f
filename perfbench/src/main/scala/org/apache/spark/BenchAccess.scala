package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so per-op counters are
  * complete before the next op starts. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
