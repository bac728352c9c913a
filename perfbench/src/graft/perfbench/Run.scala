package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile, as `statistics.quantiles(method="inclusive")`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  /** The highest of p99.9/p99/p90/p75/p50 with at least ten samples
    * above it; the median when there are fewer than twenty samples. */
  def tail(xs: Seq[Double]): Double =
    Seq(0.999, 0.99, 0.9, 0.75).find(p => xs.size * (1 - p) >= 10)
      .fold(median(xs))(quantile(xs, _))
}

/** Process-wide counters read at the edges of the measured window. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  /** Heap still used after five full collections 200 ms apart: the
    * floor, so blocks the ContextCleaner releases asynchronously after a
    * collection are left out. */
  def liveHeapMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
  def dirBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
}

/** One closed-loop client: times each op, counts checks, and keeps the
  * harness's own work (checks, measurements) out of the window. */
final class Client(val trace: Tracer) {
  val latMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  var items = 0L
  private var req = 0L
  private var pausedNs = 0L
  private var pausedCpuNs = 0L
  var windowS = 0.0
  var windowItems = 0L
  var windowCpuMs = 0.0
  var windowGcMs = 0.0

  /** Run one op: time it, then check it (outside the op's time). A
    * throwing op or a rejected result counts as failed. */
  def op[T](kind: String, n: Long)(body: => T)(check: T => Checks.Verdict): Unit = {
    req += 1
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(trace(kind, req)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    latMs.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
    items += n
    val verdict = res match {
      case Right(r) => paused(try check(r) catch { case NonFatal(e) => Some(s"check threw $e") })
      case Left(e) => Some(s"op threw $e")
    }
    verdict.foreach { why =>
      failed += 1
      System.err.println(s"FAILED $kind #$req: $why")
      res.left.foreach(_.printStackTrace())
    }
  }

  /** Harness work inside the window that a user would not do. */
  def paused[T](body: => T): T = {
    val t0 = System.nanoTime(); val c0 = Jvm.cpuNs
    try body finally {
      pausedNs += System.nanoTime() - t0; pausedCpuNs += Jvm.cpuNs - c0
    }
  }

  /** Whole cycles of `cycle` ops, so every run sees the same mix of op
    * kinds: at least `MinCycles`, then ending on the cycle boundary
    * nearest to `seconds` of unpaused wall time (another cycle starts only
    * while the window would end closer to `seconds` with it than without
    * it). The minimum keeps a slow stretch of the host from leaving a run
    * with one or two samples of a kind. */
  def window(seconds: Double, cycle: Int)(next: () => Unit): Unit = {
    val startNs = System.nanoTime()
    val startCpu = Jvm.cpuNs
    val startGc = Jvm.gcMs
    def elapsedNs = System.nanoTime() - startNs - pausedNs
    var cycles = 0
    while (cycles < Client.MinCycles || elapsedNs + elapsedNs / cycles / 2 < seconds * 1e9) {
      (0 until cycle).foreach(_ => next())
      cycles += 1
    }
    windowS = elapsedNs / 1e9
    windowItems = items
    windowCpuMs = (Jvm.cpuNs - startCpu - pausedCpuNs) / 1e6
    windowGcMs = (Jvm.gcMs - startGc).toDouble
  }

  def opP50(kinds: Seq[String]): Double =
    Stats.geomean(kinds.map(k => Stats.median(latMs.getOrElse(k, Seq(Double.NaN)).toSeq)))
}

object Client {
  val MinCycles = 3
}

/** What a workload gives the runner. Inputs are generated and written
  * in `prepare`, before any set-up is timed. */
trait Workload {
  def name: String
  /** Every op kind, and the ones whose medians make `op_p50_ms`. */
  def kinds: Seq[String]
  def headline: Seq[String]
  /** Ops in one cycle of the workload's op mix. */
  def cycle: Int
  def prepare(spark: SparkSession): Unit
  /** The program's set-up calls and the warm-up ops. */
  def setup(spark: SparkSession, round: Int, c: Client): Unit
  def teardown(): Unit = ()
  /** Called as the measured window opens. */
  def onWindow(): Unit = ()
  /** Issue the next op. */
  def next(c: Client): Unit
  /** Ops that run once, after the window: checked, and reported per
    * layer, but outside the window's numbers. */
  def afterWindow(c: Client): Unit = ()
  def storedBytesPerRow: Double
  /** SHA-256 of the generated inputs. */
  def digest: String
  /** Direct per-layer calls of the traced run, after the window. */
  def probe(c: Client): Unit
  /** Per-layer metrics of this workload, from the trace. */
  def layerMetrics(c: Client, work: Map[Int, SpanWork]): Map[String, Double]
}

object Workload {
  def spansOf(c: Client, work: Map[Int, SpanWork], name: String): Seq[SpanWork] =
    c.trace.spans.filter(_.name == name).map(s => work(s.id)).toSeq
  def medianOf(ws: Seq[SpanWork])(f: SpanWork => Double): Double =
    if (ws.isEmpty) 0.0 else Stats.median(ws.map(f))
}
