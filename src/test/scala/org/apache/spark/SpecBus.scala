package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

/** The listener bus for specs: `waitUntilEmpty` is package-private,
  * hence this file's package. */
object SpecBus {

  /** Run `body` with `listener` attached; every event of `body` (and
    * none from before it) reaches the listener before this returns. */
  def listening[T](sc: SparkContext, listener: SparkListenerInterface)(
      body: => T): T = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try body
    finally {
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
  }
}
