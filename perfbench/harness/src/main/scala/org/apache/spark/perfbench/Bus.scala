package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`. The harness
  * drains the bus after each query so that every listener event of
  * that query (jobs, stages, tasks, micro-batch progress) has been
  * delivered before the next query starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `StageInfo.shuffleDepId` is `private[spark]` too: a stage that
    * writes shuffle output is an exchange. */
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
