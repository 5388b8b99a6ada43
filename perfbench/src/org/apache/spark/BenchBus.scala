package org.apache.spark

/** Listener-bus barrier for the benchmark's engine counters: Spark
  * delivers task and stage events asynchronously, so a counter snapshot
  * taken right after an action can miss that action's last events.
  * `waitUntilEmpty` is `private[spark]`, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
