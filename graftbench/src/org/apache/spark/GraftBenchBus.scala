package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it
  * so every event an op caused is delivered before the op's counters are
  * read.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
