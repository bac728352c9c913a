package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.model.JobRequest
import graft.streaming.{JobProcessor, RateEvent, StreamingOps, StreamingRateLimiter}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Event times offset from epoch 0: dropDuplicatesWithinWatermark
    * treats rows at/below the INITIAL watermark (epoch 0) as late data
    * and silently drops them — epoch-0 test timestamps are a trap. */
  private def ts(s: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(100000 + s))

  test("streaming dedup drops repeated request ids within the watermark window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[JobRequest]
    val deduped = StreamingOps.dedupWithinWindow(input.toDF(), "request_id", "ts")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        JobRequest("r1", "j1", "q1", ts(0)),
        JobRequest("r2", "j1", "q2", ts(10)),
        JobRequest("r1", "j1", "q1-dup", ts(20)))  // dup within window
      q.processAllAvailable()
      input.addData(JobRequest("r1", "j1", "q1-dup2", ts(30))) // still within window
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("request_id").as[String].collect().sorted
      assert(got.toSeq === Seq("r1", "r2"))
    } finally q.stop()
  }

  test("streaming CDC changelog: last-op-wins, stragglers ignored, tombstones hold") {
    import graft.streaming.{CdcOp, StreamingCdc}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcOp]
    val q = StreamingCdc.changelog(input.toDS())
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        CdcOp("a", 1, "U", "a1"), CdcOp("a", 2, "U", "a2"), // same batch: a2 wins
        CdcOp("b", 1, "U", "b1"))
      q.processAllAvailable()
      input.addData(
        CdcOp("a", 1, "U", "a1-late"),  // straggler: ignored, no emission
        CdcOp("b", 3, "D", "gone"))     // delete wins
      q.processAllAvailable()
      input.addData(CdcOp("b", 2, "U", "b2-late")) // below tombstone seq: ignored
      q.processAllAvailable()
      val changes = spark.table("cdc_out")
        .select("key", "seq", "op", "payload")
        .as[(String, Long, String, String)].collect().toSet
      assert(changes === Set(
        ("a", 2L, "U", "a2"), ("b", 1L, "U", "b1"), ("b", 3L, "D", "gone")))
    } finally q.stop()
  }

  test("streaming CDC survives null-payload deletes racing on one seq") {
    // deletes carry no row image (payload = null); an equal-seq tie that
    // reaches the payload comparison must not NPE the stream, and the
    // null payload loses the tie deterministically
    import graft.streaming.{CdcOp, StreamingCdc}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcOp]
    val q = StreamingCdc.changelog(input.toDS())
      .writeStream.format("memory").queryName("cdc_null_out")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        CdcOp("k", 5, "D", null), CdcOp("k", 5, "D", null), // retried delete
        CdcOp("m", 7, "U", "m7"), CdcOp("m", 7, "U", null)) // null loses tie
      q.processAllAvailable()
      val changes = spark.table("cdc_null_out")
        .select("key", "seq", "op", "payload")
        .as[(String, Long, String, String)].collect().toSet
      assert(changes === Set(("k", 5L, "D", null), ("m", 7L, "U", "m7")))
    } finally q.stop()
  }

  test("streaming nearDupDrop suppresses re-ingested near-identical docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.nearDupDrop(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
      window = "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    try {
      val doc = "the quick brown fox jumps over the lazy dog again and again"
      input.addData(
        (1L, doc, ts(0)),
        (2L, doc, ts(30)),                       // exact re-ingest: dropped
        (3L, "completely different content about spark shuffles and joins", ts(60)))
      q.processAllAvailable()
      input.addData((4L, doc, ts(90)))           // still within window: dropped
      q.processAllAvailable()
      val got = spark.table("neardup_out").select("doc_id").as[Long].collect().sorted
      assert(got.toSeq === Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming nearDupDrop passes every null-text doc through (no shared-sentinel drop)") {
    // hashing null text yields one shared key (xxhash64 of null = seed):
    // distinct null-text docs must NOT dedup against each other
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Option[String], java.sql.Timestamp)]
    val out = StreamingOps.nearDupDrop(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
      window = "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_null_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (1L, None, ts(0)),
        (2L, None, ts(30)),                      // distinct doc, also null text
        (3L, Some("real content present here"), ts(60)))
      q.processAllAvailable()
      val got = spark.table("neardup_null_out").select("doc_id").as[Long].collect().sorted
      assert(got.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming sessionStats: session_window closes sessions past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = StreamingOps.sessionStats(
      input.toDF().toDF("user", "ts"), "user", "ts",
      gap = "10 minutes", watermark = "5 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // u1: two events 2 min apart (one session); u2: one event
      input.addData(("u1", ts(0)), ("u1", ts(120)), ("u2", ts(60)))
      q.processAllAvailable()
      // advance the watermark far past the sessions' ends to close them
      input.addData(("u3", ts(7200)))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user", "n_events").as[(String, Long)].collect().toSet
      assert(got === Set(("u1", 2L), ("u2", 1L)))
    } finally q.stop()
  }

  test("stateful rate limiter: exact sliding window, denied requests not recorded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RateEvent]
    // expireIdleState=false: ProcessingTimeTimeout hangs processAllAvailable (see StreamingOps doc)
    val decisions = StreamingRateLimiter(input.toDS(), maxRequests = 2, windowMillis = 60000,
      expireIdleState = false)
    val q = decisions.writeStream.format("memory").queryName("rate_out")
      .outputMode(OutputMode.Append).start()
    try {
      // u: t=0 allow, t=1 allow, t=2 deny (2 in window), t=70s allow (t=0,1 evicted,
      // and the denied t=2 was never recorded — the reference's allow-only append)
      input.addData(RateEvent("u", 0), RateEvent("u", 1000), RateEvent("u", 2000),
        RateEvent("u", 70000))
      q.processAllAvailable()
      val got = spark.table("rate_out").as[graft.streaming.RateDecision]
        .collect().sortBy(_.tsMillis)
      assert(got.map(_.allowed).toSeq === Seq(true, true, false, true))
      assert(got.map(_.windowCount).toSeq === Seq(1, 2, 3, 1))
    } finally q.stop()
  }

  test("vector fallback: requests without direct context get kNN top-1 from the KB") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.search.HashEmbedder(16)
    val rag = Seq(("j1", "job", "direct ctx")).toDF("document_id", "document_type", "context")
    val kb = emb.embedColumn(
      Seq("tuning shuffle partitions", "vector search recall").toDF("content"),
      "content", "embedding")
    val input = MemoryStream[JobRequest]
    val out = java.nio.file.Files.createTempDirectory("jobv_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("jobv_ckpt").toString
    val q = graft.streaming.JobProcessor.runWithVectorFallback(
      spark, input.toDF(), rag, kb, emb, JobProcessor.EchoCompleter, out, ckpt)
    try {
      input.addData(
        JobRequest("r1", "j1", "has direct context", ts(0)),
        JobRequest("r2", "j2", "tuning shuffle partitions", ts(1))) // exact KB text
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("request_id", "ai_response").as[(String, String)].collect().toMap
      assert(got("r1").contains("ctx=direct ctx"))
      // self-embedding match: top-1 context is the identical KB document
      assert(got("r2").contains("ctx=tuning shuffle partitions"))
    } finally q.stop()
  }

  test("job processor end-to-end: dedup → context join → completion → sink") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[JobRequest]
    val rag = Seq(("j1", "job", "context for j1"), ("j9", "other", "wrong type"))
      .toDF("document_id", "document_type", "context")
    val out = java.nio.file.Files.createTempDirectory("job_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("job_ckpt").toString
    var batches = 0L
    val q = JobProcessor.run(spark, input.toDF(), rag, JobProcessor.EchoCompleter,
      out, ckpt, onBatch = (_, n) => batches += n)
    try {
      input.addData(
        JobRequest("r1", "j1", "how do I fix this", ts(0)),
        JobRequest("r1", "j1", "how do I fix this", ts(5)), // dup
        JobRequest("r2", "j2", "no context job", ts(10)))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
      assert(got.count() === 2)
      val j1 = got.filter($"job_id" === "j1").select("ai_response").as[String].head()
      assert(j1.contains("[echo] how do I fix this | ctx=context for j1"))
      val j2 = got.filter($"job_id" === "j2").select("ai_response").as[String].head()
      assert(j2.contains("ctx=")) // empty context coalesced
      assert(batches === 2)
    } finally q.stop()
  }

  test("stream → keyed MERGE storage: forced batch replay converges to exactly-once row state") {
    // the reference's continuous upsert loop (job processor → keyed
    // ON CONFLICT DO UPDATE store), with a crash injected between the
    // storage merge and the checkpoint commit: foreachBatch replays the
    // batch, and the keyed MERGE must REPLACE the rows it already wrote,
    // not append duplicates. File source (not MemoryStream): replay
    // across a query restart needs a replayable source.
    import graft.sources.MergeTable
    val srcDir = java.nio.file.Files.createTempDirectory("mrg_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mrg_ckpt").toString
    val table = java.nio.file.Files.createTempDirectory("mrg_root").toString + "/tbl"
    val rag = Seq(("j1", "job", "context for j1"))
      .toDF("document_id", "document_type", "context")
    var fileNo = 0
    def dropFile(rows: Seq[JobRequest]): Unit = {
      fileNo += 1
      val stage = java.nio.file.Files.createTempDirectory("mrg_stage").toString
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, s"data-$fileNo.parquet"))
    }
    val stream = spark.readStream
      .schema(Seq(JobRequest("x", "x", "x", ts(0))).toDF().schema)
      .parquet(srcDir)
    def runOnce(): Unit = {
      val q = JobProcessor.runToMergeTable(
        spark, stream, rag, JobProcessor.EchoCompleter, table, ckpt)
      try q.processAllAvailable() finally q.stop()
    }

    dropFile(Seq(
      JobRequest("r1", "j1", "first question", ts(0)),
      JobRequest("r2", "j2", "second question", ts(5))))
    runOnce()
    assert(MergeTable.read(spark, table).count() === 2)
    val v1 = MergeTable.snapshot(spark, table).version

    // crash injection: drop the newest commit marker; on restart the
    // last batch re-executes (at-least-once delivery made visible)
    val newest = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(newest.delete())
    // the local checksum FS keeps a .N.crc sidecar; remove it as well or
    // the replayed commit's rename fails on the stale checksum
    val crc = new java.io.File(newest.getParentFile, s".${newest.getName}.crc")
    if (crc.exists()) assert(crc.delete())

    dropFile(Seq(JobRequest("r3", "j1", "third question", ts(400))))
    runOnce() // replays (r1, r2) — must replace — then merges r3

    val got = MergeTable.read(spark, table)
    assert(got.count() === 3, "replayed batch must replace, not append")
    assert(got.select("request_id").as[String].collect().sorted
      === Array("r1", "r2", "r3"))
    assert(got.filter($"request_id" === "r1").select("ai_response").as[String]
      .head().contains("first question"))
    assert(got.filter($"request_id" === "r3").select("ai_response").as[String]
      .head().contains("ctx=context for j1"))
    assert(MergeTable.snapshot(spark, table).version > v1,
      "the replayed merge must have committed new versions")
  }

  test("streaming CDC deletes reach the keyed sink: U/D converge to applyChanges across a forced replay") {
    // r15 verdict #3: runToMergeTable was upsert-only — a CDC `D` op
    // had no path to deleteLite. runChangesToMergeTable routes batch
    // winners to mergeLite (U) and deleteLite (D); the whole ops log
    // must converge BIT-EQUAL to Relational.applyChanges of the same
    // log, including across a forced replay of the batch that carries
    // both kinds. File source: replay across a restart needs a
    // replayable source (the runToMergeTable test's rationale).
    import graft.sources.MergeTable
    import graft.streaming.CdcOp
    val srcDir = java.nio.file.Files.createTempDirectory("cdc_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    val table = java.nio.file.Files.createTempDirectory("cdc_root").toString + "/tbl"
    var fileNo = 0
    def dropFile(rows: Seq[CdcOp]): Unit = {
      fileNo += 1
      val stage = java.nio.file.Files.createTempDirectory("cdc_stage").toString
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, s"data-$fileNo.parquet"))
    }
    val stream = spark.readStream
      .schema(Seq(CdcOp("x", 0L, "U", "x")).toDF().schema)
      .parquet(srcDir)
    def runOnce(): Unit = {
      val q = JobProcessor.runChangesToMergeTable(
        spark, stream, table, ckpt, keyCols = Seq("key"))
      try q.processAllAvailable() finally q.stop()
    }

    val b1 = Seq(CdcOp("k1", 1, "U", "v1"), CdcOp("k2", 1, "U", "v2"),
      CdcOp("k1", 2, "U", "v1b"), CdcOp("k3", 1, "U", "v3"))
    dropFile(b1)
    runOnce() // init + within-batch last-op-wins
    assert(MergeTable.read(spark, table).count() === 3)

    // batch 2 interleaves U and D on the same key (k3: upsert then
    // delete — delete wins by seq), deletes an existing key (k2),
    // inserts a new one (k4), and deletes a key never seen (k9)
    val b2 = Seq(CdcOp("k2", 2, "D", null), CdcOp("k3", 2, "U", "v3b"),
      CdcOp("k3", 3, "D", null), CdcOp("k4", 1, "U", "v4"),
      CdcOp("k9", 1, "D", null))
    dropFile(b2)
    runOnce()
    val afterB2 = MergeTable.read(spark, table)
    assert(afterB2.select($"key").as[String].collect().sorted
      === Array("k1", "k4"))

    // crash injection (the runToMergeTable test's mechanism): drop the
    // newest commit marker so batch 2 — the one carrying BOTH the
    // mergeLite and the deleteLite — replays whole on restart
    val newest = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    assert(newest.delete())
    val crc = new java.io.File(newest.getParentFile, s".${newest.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    runOnce() // replays b2: re-upserts converge, re-tombstones no-op

    val got = MergeTable.read(spark, table)
    val expected = graft.query.Relational.applyChanges(
      (b1 ++ b2).toDF(), Seq("key"),
      Seq(col("seq").desc,
        xxhash64(to_json(struct(col("key"), col("seq"), col("op"), col("payload")))).asc))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "the sink must converge bit-equal to applyChanges of the ops log")
    assert(got.count() === 2)
    assert(got.filter($"key" === "k1").select($"payload").as[String].head() === "v1b")
  }

  test("streaming CDC sink: a micro-batch carrying U and D adds one manifest version; every pinnable version is a whole-batch prefix") {
    import graft.sources.MergeTable
    import graft.streaming.CdcOp
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("cdc_one").toString
    val table = root + "/tbl"
    // seq grows across batches, so applyChanges of a prefix of the log
    // orders the ops as the sink applied them
    val batches = Seq(
      Seq(CdcOp("k1", 1, "U", "a"), CdcOp("k2", 1, "U", "a"), CdcOp("k3", 1, "U", "a"),
        CdcOp("k4", 1, "U", "a"), CdcOp("k5", 1, "U", "a"), CdcOp("k6", 1, "U", "a")),
      Seq(CdcOp("k1", 2, "U", "b"), CdcOp("k2", 2, "D", null), CdcOp("k7", 2, "U", "b"),
        CdcOp("k9", 2, "D", null)),
      Seq(CdcOp("k1", 3, "D", null), CdcOp("k2", 3, "U", "c"), CdcOp("k3", 3, "U", "c"),
        CdcOp("k3", 4, "U", "c2"), CdcOp("k4", 3, "D", null), CdcOp("k7", 3, "U", "c")),
      Seq(CdcOp("k5", 5, "D", null), CdcOp("k6", 5, "D", null), CdcOp("k8", 5, "U", "d")),
      Seq(CdcOp("k5", 6, "U", "e"), CdcOp("k7", 6, "D", null), CdcOp("k8", 6, "U", "e"),
        CdcOp("k1", 6, "U", "e")))
    val input = MemoryStream[CdcOp]
    val q = JobProcessor.runChangesToMergeTable(spark, input.toDF(), table,
      root + "/ckpt", keyCols = Seq("key"))
    val committed = scala.collection.mutable.ArrayBuffer[Long]()
    try batches.zipWithIndex.foreach { case (b, i) =>
      input.addData(b)
      q.processAllAvailable()
      val v = MergeTable.snapshot(spark, table).version
      if (i > 0) assert(v === committed.last + 1,
        s"batch $i carries U and D and must add exactly one manifest version")
      committed += v
    } finally q.stop()
    assert(MergeTable.versions(spark, table) === committed.toSeq,
      "no version besides the batches' own commits")
    val tie = xxhash64(to_json(struct(col("key"), col("seq"), col("op"), col("payload")))).asc
    committed.zipWithIndex.foreach { case (v, i) =>
      val expected = graft.query.Relational.applyChanges(
        batches.take(i + 1).flatten.toDF(), Seq("key"), Seq(col("seq").desc, tie))
      val got = MergeTable.readAt(spark, table, v)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"version $v must equal applyChanges of batches 0..$i")
    }
    assert(MergeTable.read(spark, table).select($"key").as[String].collect().sorted
      === Array("k1", "k2", "k3", "k5", "k8"))
  }

  test("CDC sink batch: composite keys route upserts and deletes correctly") {
    import graft.sources.MergeTable
    val table = java.nio.file.Files.createTempDirectory("cdcck").toString + "/t"
    def df(rows: Seq[(String, Long, Long, String, String)]) =
      rows.toDF("k1", "k2", "seq", "op", "payload")
    JobProcessor.applyCdcBatch(spark,
      df(Seq(("a", 1L, 1L, "U", "v1"), ("b", 1L, 1L, "U", "v2"),
        ("a", 2L, 1L, "U", "v3"))),
      table, Seq("k1", "k2"), "seq", "op", "D")
    assert(MergeTable.read(spark, table).count() === 3)
    JobProcessor.applyCdcBatch(spark,
      df(Seq(("a", 1L, 2L, "D", null), ("c", 1L, 1L, "U", "v4"),
        ("a", 2L, 2L, "U", "v3b"))),
      table, Seq("k1", "k2"), "seq", "op", "D")
    val got = MergeTable.read(spark, table)
    assert(got.count() === 3)
    assert(got.filter($"k1" === "a" && $"k2" === 1L).isEmpty,
      "only the exact composite key deletes")
    assert(got.filter($"k1" === "a" && $"k2" === 2L)
      .select($"payload").as[String].head() === "v3b")
    assert(got.filter($"k1" === "c").count() === 1)
  }

  test("CDC sink batch: a NULL op is refused loudly, never silently dropped") {
    // a NULL op matches neither the upsert nor the delete filter — the
    // row would vanish without error (r16 review catch)
    val table = java.nio.file.Files.createTempDirectory("cdcnull").toString + "/t"
    val bad = Seq(("k1", 1L, "U", "v1"), ("k2", 2L, null: String, "v2"))
      .toDF("key", "seq", "op", "payload")
    val e = intercept[IllegalArgumentException] {
      JobProcessor.applyCdcBatch(spark, bad, table,
        Seq("key"), "seq", "op", "D")
    }
    assert(e.getMessage.contains("NULL in op column"))
  }

  test("keyed MERGE sink batch: duplicate request_ids converge last-wins, NULL keys refused") {
    // An at-least-once source can deliver the same request_id twice in
    // ONE micro-batch (replay, re-request) — upstream responses() dedup
    // can't be assumed for arbitrary runToMergeTable callers. The sink
    // must pick the newest row per key instead of tripping merge()'s
    // uniqueness require and killing the streaming query.
    import graft.sources.MergeTable
    val table = java.nio.file.Files.createTempDirectory("dupb_root").toString + "/tbl"
    def resp(rid: String, ans: String, t: java.sql.Timestamp) =
      (rid, "j1", "q", ans, t)
    val b1 = Seq(
      resp("r1", "stale answer", ts(0)),
      resp("r1", "fresh answer", ts(400)),
      resp("r2", "other answer", ts(5)))
      .toDF("request_id", "job_id", "user_query", "ai_response", "ts")
    JobProcessor.mergeResponsesBatch(spark, b1, table) // init path
    val got1 = MergeTable.read(spark, table)
    assert(got1.count() === 2, "one row per request_id")
    assert(got1.filter($"request_id" === "r1").select("ai_response").as[String]
      .head() === "fresh answer", "newest ts must win within the batch")

    // merge path: a later duplicated batch replaces, still last-wins
    val b2 = Seq(
      resp("r1", "newer still", ts(900)),
      resp("r1", "midway", ts(600)))
      .toDF("request_id", "job_id", "user_query", "ai_response", "ts")
    JobProcessor.mergeResponsesBatch(spark, b2, table)
    val got2 = MergeTable.read(spark, table)
    assert(got2.count() === 2)
    assert(got2.filter($"request_id" === "r1").select("ai_response").as[String]
      .head() === "newer still")

    // NULL request_id on the init path fails loudly (merge's own guard
    // covers the merge path)
    val fresh = java.nio.file.Files.createTempDirectory("dupb2_root").toString + "/t"
    val bad = Seq((null: String, "j", "q", "a", ts(0)))
      .toDF("request_id", "job_id", "user_query", "ai_response", "ts")
    intercept[IllegalArgumentException] {
      JobProcessor.mergeResponsesBatch(spark, bad, fresh)
    }
  }

  test("keyed MERGE sink, row-level mode: replay converges without touching base files") {
    // the replay-heavy deployment's knob: rowLevel routes micro-batches
    // through mergeLite — a redelivered batch must converge to the same
    // row state (exactly-once semantics) while every base file is
    // carried by reference (MergeLiteDemo's 9.5x replay-wall rationale)
    import graft.sources.MergeTable
    val table = java.nio.file.Files.createTempDirectory("rowlvl_root").toString + "/tbl"
    def resp(rid: String, ans: String, t: java.sql.Timestamp) =
      (rid, "j1", "q", ans, t)
    val b1 = Seq(resp("r1", "first", ts(0)), resp("r2", "second", ts(5)))
      .toDF("request_id", "job_id", "user_query", "ai_response", "ts")
    JobProcessor.mergeResponsesBatch(spark, b1, table, rowLevel = true) // init (full write)
    val base = MergeTable.snapshot(spark, table)
    // a replay batch: r1 redelivered with a newer answer + a new r3
    val b2 = Seq(resp("r1", "replayed fresh", ts(400)), resp("r3", "third", ts(10)))
      .toDF("request_id", "job_id", "user_query", "ai_response", "ts")
    JobProcessor.mergeResponsesBatch(spark, b2, table, rowLevel = true)
    val snap = MergeTable.snapshot(spark, table)
    assert(snap.entries.map(_.path) === base.entries.map(_.path),
      "row-level replay must carry every base file by reference")
    assert(snap.delta.nonEmpty && snap.dvKeys === Seq("request_id"))
    val got = MergeTable.read(spark, table)
    assert(got.count() === 3)
    assert(got.filter($"request_id" === "r1").select("ai_response").as[String]
      .head() === "replayed fresh")
    // the SAME batch redelivered (at-least-once): state converges, no
    // duplicate rows, base still untouched
    JobProcessor.mergeResponsesBatch(spark, b2, table, rowLevel = true)
    val got2 = MergeTable.read(spark, table)
    assert(got2.count() === 3, "redelivery must not duplicate rows")
    assert(MergeTable.snapshot(spark, table).entries.map(_.path)
      === base.entries.map(_.path))
  }
}
