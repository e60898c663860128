package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two package-private Spark members the benchmark's tracing needs. */
object BenchSparkAccess {
  /** Waits until the listener bus has delivered every queued event, so the
    * stage records of a traced run are complete before they are written. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (a map stage), not a result. */
  def isShuffleMap(i: StageInfo): Boolean = i.shuffleDepId.isDefined
}
