package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Run INDEPENDENT Spark actions from driver threads so the scheduler
  * overlaps their jobs (optimization guide §2.6): actions are only
  * sequential because driver code calls them sequentially. Two
  * component writes of one composite-index build (separate MergeTable
  * directories, no data dependency) are the canonical case — the
  * second write's tasks back-fill the executor slots the first's task
  * tail leaves idle, and its driver-side planning/footer/manifest IO
  * overlaps the first's running job instead of extending the wall.
  *
  * FIFO scheduling (the default) gives the earlier-submitted job its
  * resources first — exactly the back-fill behaviour wanted here.
  *
  * Failure: EVERY branch is joined before anything propagates — the
  * first failure (in argument order) then rethrows its cause. Joining
  * first matters more than failing fast here: callers free the
  * localCheckpoint'd inputs in their `finally` blocks, and a sibling
  * still in flight when that free runs would see its blocks vanish
  * mid-scan (lineage is truncated — no recompute), or worse, commit to
  * a live component table while the caller is already retrying —
  * a second concurrent writer against a single-writer table. A failed
  * sibling's own partial output is unpublished (MergeTable batch dirs
  * / composite staging), so it is vacuum-reclaimable, never visible.
  *
  * Nesting: a call made FROM a pool thread (a composite write inside a
  * branch) runs its branches inline, in argument order, on that thread.
  * Parking a pool thread in `Await` on work queued behind it would
  * deadlock once every pool thread did so — a `three` inside a `three`
  * fills the pool with waiters. The outer call already overlaps the
  * jobs; the inner one keeps the same join-all-then-rethrow contract.
  *
  * Job properties: a branch on the pool runs under the CALLER's job
  * group, description, interrupt flag and job tags, and the pool
  * thread gets its own values back afterwards. Spark keeps these per
  * thread, and a pool thread would otherwise carry whatever the thread
  * that caused its creation held — a job group set by the caller
  * (cancellation, job accounting) would silently miss every job a
  * branch launches.
  */
object Par {
  // DEDICATED bounded pool, not ExecutionContext.global: every branch
  // here BLOCKS in a Spark action (collect/commit/write), and the
  // global pool's parallelism is sized to CPU count on the assumption
  // of non-blocking work — a composite build landing inside a Par
  // branch (nested Par, or a future caller fanning wider) could park
  // every global thread in Await and starve unrelated library users
  // of the same process-wide pool. Three threads is the guide §2.6
  // sizing ("2-3 jobs in flight is plenty"): enough to back-fill a
  // task tail, not enough to make concurrent jobs fight for executor
  // slots. Daemon + named so the pool never blocks JVM exit and shows
  // up legibly in driver thread dumps. Submission order is FIFO per
  // call site (both/three submit in argument order), preserving the
  // earlier-job-first back-fill behaviour.
  private final class PoolThread(r: Runnable, name: String) extends Thread(r, name)

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    3,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new PoolThread(r, s"graft-par-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(pool)

  /** The Spark local properties a branch inherits from its caller. */
  private val JobProperties = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags")

  /** `f` on a pool thread under the job properties `caller` held on
    * the calling thread; the pool thread's own values are restored
    * after. */
  private def underCaller(
      sc: Option[org.apache.spark.SparkContext], caller: Seq[String])(f: () => Any): Any =
    sc.fold(f()) { c =>
      def set(values: Seq[String]): Unit =
        JobProperties.zip(values).foreach { case (k, v) => c.setLocalProperty(k, v) }
      val own = JobProperties.map(c.getLocalProperty)
      set(caller)
      try f() finally set(own)
    }

  /** Every branch settled (inline or on the pool), THEN the first
    * failure in argument order rethrows. */
  private def joinAll(branches: Seq[() => Any]): Seq[Any] = {
    val results =
      if (Thread.currentThread().isInstanceOf[PoolThread]) branches.map(f => Try(f()))
      else {
        val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
          .map(_.sparkContext)
        val caller = sc.fold(Seq.empty[String])(c => JobProperties.map(c.getLocalProperty))
        branches.map(f => Future(underCaller(sc, caller)(f)))
          .map(f => Await.ready(f, Duration.Inf).value.get)
      }
    results.collectFirst { case scala.util.Failure(e) => throw e }
    results.map(_.get)
  }

  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = joinAll(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def three[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = joinAll(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
