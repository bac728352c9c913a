package graft

import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.util.QueryExecutionListener

/** The whole-stage generated Java of every action a call runs, in
  * execution order. Eager operators (checkpointed results) leave their
  * producing plans off the returned frame, so the ACTUAL executed plans
  * are captured with a QueryExecutionListener while the call runs. Two
  * calls whose sequences are equal hit Spark's codegen cache (keyed on
  * the source text) for every stage of the second call. */
object GeneratedCode {

  def of(spark: SparkSession)(call: => Any): Seq[String] =
    plans(spark)(call).flatMap(p => codegenStringSeq(p).map(_._2))

  /** The executed plans of every action `call` runs, in execution order. */
  def plans(spark: SparkSession)(call: => Any): Seq[SparkPlan] = {
    val captured = new CopyOnWriteArrayList[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        captured.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = s"codegen_sentinel_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    def isSentinel(p: SparkPlan) = p.output.exists(_.name == marker)
    // a late end event of an earlier action (the listener bus is async)
    // must not land in this call's plans: drain before registering, as
    // JobCount does
    org.apache.spark.JobCountBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      call
      // listener delivery is async but in posting order: once the
      // sentinel action arrives, every action of `call` has arrived
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!captured.asScala.exists(isSentinel) && System.nanoTime() < deadline)
        Thread.sleep(50)
      require(captured.asScala.exists(isSentinel), "listener never delivered the sentinel")
    } finally spark.listenerManager.unregister(listener)
    captured.asScala.toSeq.filterNot(isSentinel)
  }
}
