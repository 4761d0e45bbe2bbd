package org.apache.spark

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Test-side view of the context's listener bus, which Spark keeps
  * private[spark].
  */
object ListenerBusProbe {
  /** How many streaming-query listener buses the context's bus carries:
    * each session's query manager adds one when it is first built.
    */
  def streamingListenerBuses(sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
