package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.MergeTable

/** The bloom story's STREAMING number: a sustained keyed-merge stream —
  * the exact micro-batch operation `JobProcessor.runToMergeTable`
  * commits per trigger ([[graft.streaming.JobProcessor.mergeResponsesBatch]])
  * — against a ≥40M-row response table, bloomed on `request_id` (how
  * the JobProcessor inits it) vs an unbloomed control, on a COLD page
  * cache. BloomLookupScaleDemo measured the row-group skip and the
  * point-lookup wall; this demo measures what the skip buys the
  * steady-state INGEST path, where every micro-batch must first
  * discover which files hold its replayed request_ids.
  *
  * Cold cache is the regime that matters: a 100 TB table's key column
  * does not live in page cache, so each micro-batch's touched-file
  * discovery either reads the key column of every row group (min/max
  * stats are useless on a uuid-shaped domain) or consults the bloom
  * bitsets and opens only candidate groups. The demo drops the kernel
  * page cache before every timed merge (requires root —
  * `/proc/sys/vm/drop_caches`; without the permission it records
  * warm-cache numbers and says so).
  *
  * Run manually: `sbt "runMain graft.StreamMergeBloomDemo"`
  * (STREAM_BLOOM_ROWS overrides the 40M default; idle host — timing).
  */
object StreamMergeBloomDemo {

  private def dropCaches(): Boolean =
    try {
      new ProcessBuilder("sh", "-c", "sync; echo 1 > /proc/sys/vm/drop_caches")
        .start().waitFor() == 0
    } catch { case _: Exception => false }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.util.Timing.time

    val n = sys.env.getOrElse("STREAM_BLOOM_ROWS", "40000000").toLong
    require(n >= 1000000, s"STREAM_BLOOM_ROWS too small to mean anything (got $n)")
    val files = 16
    // several row groups per file so skipping has sub-file granularity
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.block.size", 8 * 1024 * 1024)
    val base = java.nio.file.Files
      .createTempDirectory("stream_bloom").toString
    val bloomPath = s"$base/with_bloom"
    val plainPath = s"$base/no_bloom"
    val cold = dropCaches()
    if (!cold) println("WARNING: cannot drop page cache (not root?) — " +
      "the numbers below are WARM-cache and understate the bloom win")

    // the JobProcessor response-table shape (request_id, job_id,
    // user_query, ai_response, ts), request_id a sha256 domain
    def responseRows(ids: DataFrame): DataFrame = ids
      .withColumn("request_id", sha2(concat(lit("req "),
        col("id").cast("string")), 256))
      .withColumn("job_id", pmod(col("id"), lit(1000L)).cast("string"))
      .withColumn("user_query", md5(col("id").cast("string")))
      .withColumn("ai_response", concat(md5(col("id").cast("string")),
        md5(concat(lit("x"), col("id").cast("string"))),
        md5(concat(lit("y"), col("id").cast("string")))))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("id") % 86400))
      .drop("id")

    val seed = responseRows(spark.range(n).repartition(files).toDF())
    time(f"init WITH bloom (request_id) $n%,d rows") {
      MergeTable.init(spark, bloomPath, seed, bloomKeys = Seq("request_id"))
    }
    time("init WITHOUT bloom (control, same data/layout)") {
      MergeTable.init(spark, plainPath, seed)
    }

    // micro-batch shapes. INSERT-ONLY is the request table's steady
    // state (request_ids are new by construction; replays are the
    // exception): discovery finds no hit file, so the merge wall IS
    // discovery + one small insert write — where the bloom's row-group
    // skip shows directly. REPLAY batches (10 redelivered ids spread
    // over the table + 10 new — the at-least-once crash-redelivery
    // case) hit ~10 of the 16 files, so their wall is rewrite-dominated
    // on both tables; the discovery-only attribution isolates the skip.
    def insertBatch(round: Int): DataFrame =
      responseRows(spark.range(n + round * 20L, n + round * 20L + 20).toDF())
    def replayBatch(round: Int): DataFrame = {
      val replayed = spark.range(1, 11)
        .select((col("id") * (n / 11) + round).as("id"))
      val fresh = spark.range(2 * n + round * 10L, 2 * n + round * 10L + 10).toDF()
      responseRows(replayed.unionByName(fresh))
    }

    // cold discovery-only attribution: the touched-file scan a merge
    // runs first (exact key list pushed as one In predicate). One
    // UNTIMED pass first so the timed one measures IO, not first-use
    // JVM warmup (codegen, reader class init — measured ~2 s of it
    // landing on whichever table ran first and inverting the ratio);
    // the cache drop AFTER the warm pass makes the timed pass cold.
    def coldDiscovery(dir: String, batch: DataFrame): Double = {
      val snap = MergeTable.snapshot(spark, dir)
      val u = batch.localCheckpoint(true)
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.sources.KeySet.Frame(u, Seq("request_id"), 20)
          .discoveryFrame(MergeTable.relationFor(spark, snap.entries)).collect()
        (System.nanoTime() - t0) / 1e9
      }
      try { once(); dropCaches(); once() }
      finally graft.util.Checkpoints.free(u)
    }

    def stream(dir: String, label: String, rounds: Int,
        batch: Int => DataFrame): Seq[Double] =
      (1 to rounds).map { r =>
        val b = batch(r)
        dropCaches()
        val t0 = System.nanoTime()
        graft.streaming.JobProcessor.mergeResponsesBatch(spark, b, dir)
        val w = (System.nanoTime() - t0) / 1e9
        println(f"  $label round $r%2d: merge wall $w%6.3f s")
        // reclaim superseded files between rounds (exclusive maintenance
        // — no concurrent writer here): without it a replay-heavy stream
        // accumulates ~4.5 GB of superseded files PER ROUND and the
        // demo's disk bill is the table size times the round count
        MergeTable.vacuum(spark, dir, retainMillis = 0)
        w
      }
    def stats(w: Seq[Double]): (Double, Double) = (w.sum, w.sorted.apply(w.size / 2))

    println("phase 1 — INSERT-ONLY stream (the request table's steady state): " +
      "6 micro-batches of 20 new request_ids, cache dropped before every merge")
    val ib = stream(bloomPath, "bloom/insert", 6, insertBatch)
    val ip = stream(plainPath, "plain/insert", 6, r => insertBatch(r + 100))
    val (isb, imedB) = stats(ib); val (isp, imedP) = stats(ip)
    println(f"insert-only: bloom total $isb%6.2f s median $imedB%6.3f s | " +
      f"plain total $isp%6.2f s median $imedP%6.3f s | " +
      f"wall ${isp / isb}%.2fx, median ${imedP / imedB}%.2fx" +
      (if (cold) " (cold cache)" else " (WARM cache)"))

    val db = coldDiscovery(bloomPath, insertBatch(999))
    val dp = coldDiscovery(plainPath, insertBatch(999))
    println(f"cold discovery only (20-key In probe, JVM warm): bloom $db%6.3f s " +
      f"vs plain $dp%6.3f s (${dp / db}%.1fx)")

    println("phase 2 — REPLAY stream (crash redelivery): 3 micro-batches of " +
      "10 replayed + 10 new ids; wall is rewrite-dominated by design")
    val rb = stream(bloomPath, "bloom/replay", 3, replayBatch)
    val rp = stream(plainPath, "plain/replay", 3, r => replayBatch(r + 100))
    val (rsb, rmedB) = stats(rb); val (rsp, rmedP) = stats(rp)
    println(f"replay: bloom total $rsb%6.2f s median $rmedB%6.3f s | " +
      f"plain total $rsp%6.2f s median $rmedP%6.3f s | " +
      f"wall ${rsp / rsb}%.2fx, median ${rmedP / rmedB}%.2fx")

    // both tables must have absorbed their streams exactly
    val cb = MergeTable.read(spark, bloomPath).count()
    val cp = MergeTable.read(spark, plainPath).count()
    require(cb == cp && cb == n + 6 * 20L + 3 * 10L,
      s"tables diverged after the stream: $cb vs $cp (expect ${n + 150})")

    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(base))
    spark.stop()
  }
}
