package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.JobRequest
import graft.streaming.{JobProcessor, RateEvent, StreamingRateLimiter}
import graft.util.Sessions

/** Sustained-load measurement for the streaming pipelines — the
  * operators whose correctness the DuckDB oracle cannot express
  * (T1/T2/T3/D5 are spec-pinned) get their SCALE evidence here instead:
  * throughput in rows/s through real micro-batches, state size from the
  * engine's own progress metrics, and exactly-once accounting at the
  * sink.
  *
  *  1. **Job pipeline** ([[JobProcessor.run]]): 1M requests (10%
  *     watermark-window duplicates) through dedup → broadcast context
  *     join → completion → idempotent parquet sink, fed as 10
  *     micro-batches of 100k. Reported: end-to-end rows/s, dedup-state
  *     rows (from `stateOperators`), and the sink's exact row count
  *     (= unique requests; the 10% re-sends must all die in the dedup).
  *  2. **Rate limiter** ([[StreamingRateLimiter]]): 1M events over 10k
  *     identifiers with one hot key carrying ~30% of traffic (the
  *     adversarial shape for per-key state), max 5 per 60 s window.
  *     Reported: rows/s through `flatMapGroupsWithState` and the
  *     allow/deny split on the hot key vs the long tail.
  *
  * MemoryStream is the source (as in StreamingSpec) — the measurement
  * is the ENGINE's stateful path, not a network. `expireIdleState` is
  * false for the limiter: on Spark 4.1.2, processing-time timeouts keep
  * `processAllAvailable()` from observing quiescence (the
  * StreamingRateLimiter scaladoc documents the caveat); eviction still
  * runs inline per event.
  * Run manually: `sbt "runMain graft.StreamingScaleDemo"`. */
object StreamingScaleDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // rounded DOWN to a multiple of batches×10 so the duplicate math
    // (every 10th re-sends) and the sink-exactness assert stay aligned
    // for any STREAM_REQUESTS value
    val nReq =
      sys.env.getOrElse("STREAM_REQUESTS", "1000000").toInt / 100 * 100
    val batches = 10
    val perBatch = nReq / batches
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString

    // ---- 1. job pipeline: dedup → context join → completion → sink ----
    // 10% duplicates: every 10th request re-sends the previous id 1 s
    // later (inside the 5-min dedup window, so it MUST be dropped)
    def mkBatch(b: Int): Seq[JobRequest] = {
      val t0 = 100000L + b.toLong * perBatch
      (0 until perBatch).map { i =>
        val dup = i % 10 == 9
        val id = b.toLong * perBatch + (if (dup) i - 1 else i)
        JobRequest(s"r$id", s"j${id % 1000}", s"query text $id",
          java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(t0 + i, if (dup) 1000 else 0)))
      }
    }
    val rag = spark.range(1000).select(
      concat(lit("j"), col("id")).as("document_id"),
      lit("job").as("document_type"),
      concat(lit("context for job "), col("id")).as("context"))
      .localCheckpoint(true)
    val input = MemoryStream[JobRequest]
    val q = JobProcessor.run(spark, input.toDF(), rag,
      JobProcessor.EchoCompleter, s"$base/responses", s"$base/ckpt")
    val t0 = System.nanoTime()
    // verification runs AFTER the try succeeds — in a finally it would
    // mask a streaming failure with a secondary missing-path error
    try {
      (0 until batches).foreach { b =>
        input.addData(mkBatch(b))
        q.processAllAvailable()
      }
    } finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val state = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    val written = spark.read.parquet(s"$base/responses")
    val rows = written.count()
    val uniq = written.select("request_id").distinct().count()
    val expectUnique = nReq - nReq / 10
    println(f"job pipeline: $nReq%d requests in $secs%.1f s = " +
      f"${nReq / secs}%.0f rows/s; dedupState=$state%d sink=$rows%d " +
      f"unique=$uniq%d (expected $expectUnique%d)")
    assert(rows == expectUnique, s"sink rows $rows != $expectUnique")
    assert(uniq == rows, "sink must hold exactly one row per request_id")

    // ---- 2. rate limiter: hot key + 10k-key tail --------------------------
    val nEvents = nReq
    val hot = "hot-key"
    def rateBatch(b: Int): Seq[RateEvent] = {
      val t0 = b.toLong * perBatch * 10L
      (0 until perBatch).map { i =>
        val id = if (i % 10 < 3) hot else s"id${(b * perBatch + i) % 10000}"
        RateEvent(id, t0 + i * 10L) // 100 events/s arrival overall
      }
    }
    val rinput = MemoryStream[RateEvent]
    val decisions = StreamingRateLimiter(
      rinput.toDS(), maxRequests = 5, windowMillis = 60000L,
      expireIdleState = false)
    val rq = decisions.writeStream.format("parquet")
      .option("path", s"$base/decisions")
      .option("checkpointLocation", s"$base/rckpt")
      .outputMode("append").start()
    val r0 = System.nanoTime()
    try {
      (0 until batches).foreach { b =>
        rinput.addData(rateBatch(b))
        rq.processAllAvailable()
      }
    } finally rq.stop()
    val rsecs = (System.nanoTime() - r0) / 1e9
    val dec = spark.read.parquet(s"$base/decisions")
    val total = dec.count()
    val hotAgg = dec.filter(col("id") === hot)
      .agg(count(lit(1)), sum(when(col("allowed"), 1L).otherwise(0L))).head()
    val tailDenied = dec.filter(col("id") =!= hot && !col("allowed")).count()
    println(f"rate limiter: $total%d decisions in $rsecs%.1f s = " +
      f"${total / rsecs}%.0f rows/s; hot key: ${hotAgg.getLong(0)}%d events " +
      f"${hotAgg.getLong(1)}%d allowed; tail denied=$tailDenied%d")
    assert(total == nEvents.toLong, s"decisions $total != $nEvents")
    // the hot key floods its 60s windows: almost everything denied
    assert(hotAgg.getLong(1) < hotAgg.getLong(0) / 10,
      "hot key must be mostly denied")
    spark.stop()
  }
}
