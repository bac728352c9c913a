package graft.perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** The harness's result line: the run's counts and every metric value it
  * measured, by name. `run.py` picks the metrics `BENCHMARK.json`
  * declares and attaches their units. */
object Result {
  def json(correct: Boolean, attempted: Long, failed: Long, values: Map[String, Double]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    values.toSeq.sortBy(_._1).map { case (n, v) => s""""$n": ${num(v)}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "values": {""",
        ", ", "}}")
  }
}

object Main {
  /** The first set-up runs on a cold JVM; `setup_s` is the median of the
    * ones after it. Two rounds are what fits the run-time budget. */
  val SetupRounds = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = a.getOrElse("mode", "run") match {
      case "digest" =>
        println(generate(a("workload"), a("seed").toLong, Paths.get(".")).digest); 0
      case "selftest" =>
        val cases = SelfTest.cases
        cases.foreach { case (n, good, bad) =>
          println(s"$n accepts_good=${good.isEmpty} rejects_bad=${bad.isDefined}") }
        if (cases.forall { case (_, good, bad) => good.isEmpty && bad.isDefined }) 0 else 1
      case "run" => run(a("workload"), a("seed").toLong, a("seconds").toDouble,
        a("trace") == "1", Paths.get(a("work")))
    }
    sys.exit(code)
  }

  def generate(workload: String, seed: Long, dir: Path): Workload = workload match {
    case "serve" => new Serve(ServeGen(seed, 500), dir)
    case "ingest" => new Ingest(IngestGen(seed, 12), dir)
  }

  private def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean, work: Path): Int = {
    val wl = generate(workload, seed, work.resolve(workload))
    var spark = session(work)
    wl.prepare(spark)
    val rec = new Recorder
    val warm = new Client(new Tracer(traced))
    val setupS = (0 until SetupRounds).map { round =>
      wl.teardown()
      stop(spark)
      val t0 = System.nanoTime()
      spark = session(work)
      if (traced) {
        rec.nextContext()
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
      }
      wl.setup(spark, round, warm)
      (System.nanoTime() - t0) / 1e9
    }
    require(warm.failed == 0, s"${warm.failed} warm-up ops failed")

    val c = new Client(new Tracer(traced))
    wl.onWindow()
    c.window(seconds, wl.cycle)(() => wl.next(c))
    wl.afterWindow(c)
    val heapMb = if (traced) 0.0 else Jvm.liveHeapMb
    val e2e = Map(
      "setup_s" -> Stats.median(setupS.tail),
      "op_p50_ms" -> c.opP50(wl.headline),
      "items_per_s" -> c.windowItems / c.windowS,
      "cpu_ms_per_item" -> c.windowCpuMs / c.windowItems,
      "heap_live_mb" -> heapMb,
      "stored_bytes_per_row" -> wl.storedBytesPerRow)
    System.out.println("samples: " + wl.kinds.map(k => c.latMs.get(k).fold(s"$k=0")(l =>
      f"$k=${l.size} (p50 ${Stats.median(l.toSeq)}%.1f ms)")).mkString(" ") +
      f" window_s=${c.windowS}%.2f setup_s=${setupS.map(x => f"$x%.3f").mkString(",")}")

    val values =
      if (!traced) e2e
      else {
        wl.probe(c)
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val spanWork = SpanWork.of(c.trace.spans.toSeq, rec)
        SpanWork.dump(work.resolve("setup-trace.jsonl"), warm.trace.spans.toSeq, rec)
        SpanWork.dump(work.resolve("trace.jsonl"), c.trace.spans.toSeq, rec)
        layerMetrics(wl, c, spanWork) ++ Map(
          "trace.setup_s" -> e2e("setup_s"), "trace.op_p50_ms" -> e2e("op_p50_ms"),
          "trace.items_per_s" -> e2e("items_per_s"))
      }
    wl.teardown()
    stop(spark)
    System.out.println(Result.json(c.failed == 0, c.attempted, c.failed, values))
    if (c.failed == 0) 0 else 1
  }

  private def layerMetrics(wl: Workload, c: Client, work: Map[Int, SpanWork]): Map[String, Double] = {
    import Workload._
    val perKind = wl.kinds.flatMap { k =>
      val ws = spansOf(c, work, k)
      val lat = c.latMs.getOrElse(k, Seq.empty[Double]).toSeq
      Seq(
        s"spark.jobs.$k" -> medianOf(ws)(_.jobs.toDouble),
        s"spark.tasks.$k" -> medianOf(ws)(_.tasks.toDouble),
        s"spark.job_ms.$k" -> medianOf(ws)(_.jobMs),
        s"spark.driver_gap_ms.$k" -> medianOf(ws)(_.gapMs),
        s"spark.shuffle_bytes.$k" -> medianOf(ws)(_.shuffleBytes.toDouble),
        s"spark.input_bytes.$k" -> medianOf(ws)(_.inputBytes.toDouble),
        s"spark.plan_ms.$k" -> medianOf(ws)(_.planMs),
        s"ops.samples.$k" -> lat.size.toDouble) ++
        (if (lat.isEmpty) Nil
         else Seq(s"ops.p50_ms.$k" -> Stats.median(lat), s"ops.tail_ms.$k" -> Stats.tail(lat)))
    }
    perKind.toMap ++ wl.layerMetrics(c, work) ++ Map(
      s"spark.gc_ms.${wl.name}" -> c.windowGcMs,
      s"spark.cpu_util.${wl.name}" -> c.windowCpuMs / (c.windowS * 1000.0))
  }
}
