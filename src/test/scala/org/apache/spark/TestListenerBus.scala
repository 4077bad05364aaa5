package org.apache.spark

/** Test-only bridge to the listener bus's drain, which Spark keeps
  * package-private: a spec that counts jobs with a SparkListener reads
  * its count only after every event is delivered.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
