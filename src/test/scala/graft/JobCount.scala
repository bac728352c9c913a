package org.apache.spark {
  /** The listener bus is `private[spark]`: drained from here so a job
    * count reads every job-start event of the body it measured. */
  object JobCountBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a body launches, counted under a job group of its own:
  * the listener counts only that group's jobs, so jobs another suite
  * leaves running cannot leak in. */
object JobCount {

  def of(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = "job-count-" + java.util.UUID.randomUUID()
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    org.apache.spark.JobCountBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.JobCountBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}

}
