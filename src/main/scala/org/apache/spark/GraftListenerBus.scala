package org.apache.spark

/** Deterministic listener-bus drain for `graft.Bench`'s per-row probe.
  * The bus delivers events asynchronously and its drain is
  * `private[spark]`; the probe calls this after a pass so every event the
  * pass caused is counted before the counters are read. It lives in the
  * `org.apache.spark` package only to reach that accessor.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
