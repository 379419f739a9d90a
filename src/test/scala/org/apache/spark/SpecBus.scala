package org.apache.spark

/** Drains Spark's listener bus so every event of the work just finished
  * has reached the spec's listeners before they are read. The bus is
  * private to the `org.apache.spark` package. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
