package org.apache.spark

/** Access shim (this file lives in `org.apache.spark` for `private[spark]`
  * access, nothing else): the listener bus delivers events asynchronously,
  * so stage metrics must be drained before spans are attributed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
