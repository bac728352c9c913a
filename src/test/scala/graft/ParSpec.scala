package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Par

class ParSpec extends AnyFunSuite {

  test("a nested Par.three inside Par.three runs inline and finishes") {
    // three outer branches fill the three-thread pool; inner calls that
    // queued behind them and parked in Await would never finish
    def inner(base: Int) = Par.three(
      (base + 1, Thread.currentThread().getName),
      (base + 2, Thread.currentThread().getName),
      (base + 3, Thread.currentThread().getName))
    val outer = Future(Par.three(inner(0), inner(10), inner(20)))(ExecutionContext.global)
    val (a, b, c) = Await.result(outer, 60.seconds)
    Seq(a, b, c).zip(Seq(0, 10, 20)).foreach { case ((x, y, z), base) =>
      assert(Seq(x, y, z).map(_._1) === Seq(base + 1, base + 2, base + 3))
      // inline: all three inner branches ran on the one outer branch's thread
      assert(Seq(x, y, z).map(_._2).distinct.size === 1)
      assert(x._2.startsWith("graft-par-"))
    }
  }

  test("a failed branch rethrows only after its siblings settled, nested or not") {
    def run(): Unit = {
      val sibling = new AtomicBoolean(false)
      val e = intercept[IllegalStateException](Par.both(
        throw new IllegalStateException("boom"),
        { Thread.sleep(200); sibling.set(true) }))
      assert(e.getMessage === "boom")
      assert(sibling.get, "the failure surfaced before its sibling finished")
    }
    run()
    Par.both(run(), ())
  }

  test("a job started in a Par branch carries the caller's job group, description, interrupt flag and tags") {
    val spark = SparkTestSession.spark
    val sc = spark.sparkContext
    // the pool's threads exist before the caller sets its group: a
    // thread created after would inherit the group at its creation
    Par.three((), (), ())
    val group = "par-caller-" + java.util.UUID.randomUUID()
    val started = new ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == "par caller")
          started.add(e.properties)
    }
    org.apache.spark.JobCountBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "par caller", interruptOnCancel = true)
    sc.addJobTag("par-tag")
    val counts =
      try Par.both(spark.range(10).count(), spark.range(5).count())
      finally {
        sc.removeJobTag("par-tag")
        sc.clearJobGroup()
        org.apache.spark.JobCountBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(counts === ((10L, 5L)))
    import scala.jdk.CollectionConverters._
    val props = started.asScala.toSeq
    // each branch's count launches at least one job
    assert(props.size >= 2, s"${props.size} jobs ran under the caller's description")
    props.foreach { p =>
      assert(p.getProperty("spark.jobGroup.id") === group)
      assert(p.getProperty("spark.job.interruptOnCancel") === "true")
      assert(p.getProperty("spark.job.tags").split(",").contains("par-tag"))
    }
    // a later caller without a group or tags: its branches see none,
    // though the pool threads just ran under the group above
    assert(Par.both(sc.getLocalProperty("spark.jobGroup.id"),
      sc.getLocalProperty("spark.job.tags")) === ((null, null)))
  }
}
