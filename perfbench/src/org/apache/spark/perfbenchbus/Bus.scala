package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** The two private[spark] members the benchmark reads, which is why this
  * file lives under org.apache.spark. */
object Bus {
  /** Blocks until the listener bus is empty: a snapshot taken right after an
    * action then sees every task-end and job-end event that action posted. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage is a result stage (it writes no shuffle output). */
  def isResultStage(s: org.apache.spark.scheduler.StageInfo): Boolean = s.shuffleDepId.isEmpty
}
