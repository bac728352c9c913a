package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.model.JobRequest
import graft.streaming._
import graft.util.Sessions

/** Streaming throughput validation: pushes 1M events through the
  * watermarked dedup and the exact stateful rate limiter, measuring
  * end-to-end rows/s in micro-batch mode. Run manually:
  * `sbt "runMain graft.StreamScaleDemo"`.
  *
  * State stays bounded by design: dedup state dies past the watermark,
  * limiter state holds at most `maxRequests` timestamps per key.
  */
object StreamScaleDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val n = sys.env.getOrElse("STREAM_EVENTS", "1000000").toInt
    val keys = 10000
    def ts(s: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1000000 + s))

    // ---- watermarked dedup: 20% duplicate request ids -------------------
    locally {
      val input = MemoryStream[JobRequest]
      val deduped = StreamingOps.dedupWithinWindow(input.toDF(), "request_id", "ts")
      val q = deduped.writeStream.format("noop")
        .outputMode(OutputMode.Append).start()
      val batch = (0 until n).map { i =>
        val id = if (i % 5 == 4) s"r${i - 1}" else s"r$i" // every 5th is a dup
        JobRequest(id, s"j${i % keys}", s"q$i", ts(i / 100))
      }
      val t0 = System.nanoTime()
      batch.grouped(200000).foreach(g => input.addData(g))
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"dedup: $n events in $sec%.1f s = ${n / sec}%.0f events/s")
      q.stop()
    }

    // ---- MinHash near-dup suppression: 20% re-ingested docs -------------
    locally {
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val out = StreamingOps.nearDupDrop(
        input.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
        window = "10 minutes")
      val q = out.writeStream.format("noop")
        .outputMode(OutputMode.Append).start()
      val nDocs = n / 10 // docs are heavier than events; keep runtime sane
      val batch = (0 until nDocs).map { i =>
        val base = if (i % 5 == 4) i - 1 else i // every 5th re-ingests
        (i.toLong, s"document body w${base % 97} about topic t${base} with " +
          s"shared phrasing and a tail marker m$base n$base o$base", ts(i / 100))
      }
      val t0 = System.nanoTime()
      batch.grouped(100000).foreach(g => input.addData(g))
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"near-dup drop: $nDocs docs in $sec%.1f s = ${nDocs / sec}%.0f docs/s")
      q.stop()
    }

    // ---- exact sliding-window rate limiter ------------------------------
    locally {
      val input = MemoryStream[RateEvent]
      val decisions = StreamingRateLimiter(
        input.toDS(), maxRequests = 40, windowMillis = 60000,
        expireIdleState = false)
      val q = decisions.writeStream.format("noop")
        .outputMode(OutputMode.Append).start()
      val batch = (0 until n).map { i =>
        RateEvent(s"u${i % keys}", 1000000000L + (i / 100).toLong * 250)
      }
      val t0 = System.nanoTime()
      batch.grouped(200000).foreach(g => input.addData(g))
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"rate limiter: $n events in $sec%.1f s = ${n / sec}%.0f events/s")
      q.stop()
    }

    spark.stop()
  }
}
