package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** Two reads of scheduler state that Spark keeps `private[spark]`: the
  * benchmark needs them to count jobs without a listener (untraced passes)
  * and to see every listener event of a pass before it reads the totals. */
object PerfbenchBridge {

  /** Jobs submitted so far in this SparkContext. Each job, including a
    * zero-partition one, takes the next id, so the difference over a pass
    * is the pass's job count. */
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.nextJobId.get()

  /** Block until the listener bus has delivered every posted event. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
