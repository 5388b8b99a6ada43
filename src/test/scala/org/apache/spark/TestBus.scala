package org.apache.spark

/** Listener-bus barrier for tests that count engine events: Spark
  * delivers job, stage and task events asynchronously, so a listener read
  * right after an action can miss that action's last events.
  * `waitUntilEmpty` is `private[spark]`, hence this one-line bridge.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
