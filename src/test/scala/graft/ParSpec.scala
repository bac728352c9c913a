package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

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
}
