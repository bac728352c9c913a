package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.search.HashEmbedder
import graft.streaming.IndexMaintenance

class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("document stream maintains the IVF index and the lexical index per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val initial = (1L to 12L).map(i => (i, s"document number $i about topic${i % 4}"))
    g.loadKnowledgeBase(emb.embedColumn(
      initial.toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_maint").toString
    g.indexKnowledge(s"$base/kb", nClusters = 2, nprobe = 2)
    g.buildLexicalIndex(s"$base/lex")
    try {
      val input = MemoryStream[(Long, String, Long)]
      val q = IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("id", "content", "ver"),
        checkpoint = s"$base/ckpt",
        versionCol = Some("ver"), lexicalPath = Some(s"$base/lex"))
      try {
        // micro-batch 1: two versions of id 3 (highest must win) + a new doc
        input.addData(
          (3L, "stale replacement draft", 1L),
          (3L, "zebra quokka final replacement", 2L),
          (99L, "xylophone walrus entirely new entry", 7L))
        q.processAllAvailable()

        val kb = g.knowledgeBase
        assert(kb.count() === 13L, "12 initial + 1 new")
        assert(kb.groupBy("id").count().filter(col("count") > 1).count() === 0L)
        assert(kb.filter(col("id") === 3L).select("content").head().getString(0)
          === "zebra quokka final replacement", "versionCol winner must land")

        // vector serving sees the new doc through the planner-pruned path
        val vecHits = g.searchKnowledge("xylophone walrus entirely new entry", k = 3)
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(vecHits.contains(99L), s"vector index stale: $vecHits")

        // lexical serving: rare terms only the NEW versions contain must
        // hit through the PERSISTED index (hybridSearchKnowledge serves
        // its lexical leg from lexIndexPath once buildLexicalIndex ran)
        val lexHits = g.hybridSearchKnowledge("zebra quokka", k = 3)
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(lexHits.contains(3L),
          s"lexical index stale for the updated doc: $lexHits")

        // micro-batch 2: the indexes keep converging batch over batch
        input.addData((99L, "xylophone walrus revised entry", 8L))
        q.processAllAvailable()
        assert(g.knowledgeBase.count() === 13L, "upsert must replace, not append")
        assert(g.knowledgeBase.filter(col("id") === 99L)
          .select("content").head().getString(0) === "xylophone walrus revised entry")
        // every micro-batch committed one IVF manifest version: v1 build + 2
        val versions = new java.io.File(s"$base/kb/_ivf_manifests").list().toSeq.sorted
        assert(versions.size === 3, s"expected 3 committed versions, got $versions")
      } finally q.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("semantic gate in the stream: embedding dups rejected, retraction reopens, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val initial = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
    g.loadKnowledgeBase(emb.embedColumn(
      initial.toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_sem").toString
    g.indexKnowledge(s"$base/kb", nClusters = 1, nprobe = 1)
    g.buildSemanticIndex(s"$base/sem", nClusters = 2)
    try {
      // semanticPath without semanticTau is refused at start()
      val inputBad = MemoryStream[(Long, String)]
      val eBad = intercept[IllegalArgumentException] {
        IndexMaintenance.runToIndexedKnowledge(
          g, inputBad.toDF().toDF("id", "content"),
          checkpoint = s"$base/ckpt_bad",
          semanticPath = Some(s"$base/sem"))
      }
      assert(eBad.getMessage.contains("semanticTau"))

      val input = MemoryStream[(Long, String)]
      val q = IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("id", "content"),
        checkpoint = s"$base/ckpt",
        semanticPath = Some(s"$base/sem"), semanticTau = Some(0.999))
      try {
        // batch 1: a row with doc 1's exact content (identical hash
        // embedding, cosine 1.0) must die at the semantic gate; a
        // novel row flows and starts gating later batches
        input.addData(
          (10L, "alpha beta gamma delta epsilon zeta"),
          (11L, "totally novel payload about watermark state"))
        q.processAllAvailable()
        val kb1 = g.knowledgeBase.select("id").as[Long].collect().toSet
        assert(!kb1.contains(10L), "embedding dup must be rejected")
        assert(kb1.contains(11L), "novel row must be admitted")

        // batch 2: a clone of the NEWLY admitted 11 is now rejected
        // too — the stream maintained the semantic index
        input.addData((12L, "totally novel payload about watermark state"))
        q.processAllAvailable()
        assert(!g.knowledgeBase.select("id").as[Long].collect().toSet
          .contains(12L), "cross-batch incumbency through the maintained index")

        // batch 3: retract doc 1 (NULL content); its embedding stops
        // gating and the clone that batch 1 rejected is admissible
        input.addData((1L, null.asInstanceOf[String]))
        q.processAllAvailable()
        assert(!g.knowledgeBase.select("id").as[Long].collect().toSet.contains(1L))
        input.addData((10L, "alpha beta gamma delta epsilon zeta"))
        q.processAllAvailable()
        assert(g.knowledgeBase.select("id").as[Long].collect().toSet.contains(10L),
          "retraction must reopen the semantic gate")
      } finally q.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("a misconfigured versionCol fails at start(), not inside the first micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val g = GraftSession(spark, HashEmbedder(16))
    val input = MemoryStream[(Long, String)]
    val e = intercept[IllegalArgumentException] {
      IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("id", "content"),
        checkpoint = java.nio.file.Files
          .createTempDirectory("idx_maint_vc").toString,
        versionCol = Some("ver"))
    }
    assert(e.getMessage.contains("ver"), e.getMessage)
  }

  test("case-variant stream columns normalize at start and flow through the batch kernels") {
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    g.loadKnowledgeBase(emb.embedColumn(
      Seq((1L, "seed document about query engines")).toDF("id", "content"),
      "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_maint_case").toString
    g.indexKnowledge(s"$base/kb", nClusters = 1, nprobe = 1)
    try {
      val input = MemoryStream[(Long, String, Long)]
      // ID/Content/VER: resolver-matched case variants of the defaults —
      // the exact-case batch kernels (deterministicOnePerKey's require,
      // embedColumn's fieldIndex) must see the requested spellings
      val q = IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("ID", "Content", "VER"),
        checkpoint = s"$base/ckpt", versionCol = Some("ver"))
      try {
        input.addData((5L, "a fresh document draft", 1L),
          (5L, "a fresh document final", 2L))
        q.processAllAvailable()
        assert(g.knowledgeBase.filter(col("id") === 5L)
          .select("content").head().getString(0) === "a fresh document final")
      } finally q.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("dedupPath + admitThreshold: near-dups are gated out before ANY index; replay converges") {
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val initial = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about distributed query engines"))
    g.loadKnowledgeBase(emb.embedColumn(
      initial.toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_maint_dedup").toString
    g.indexKnowledge(s"$base/kb", nClusters = 2, nprobe = 2)
    operators.DedupIndex.build(spark, s"$base/dup",
      initial.toDF("id", "content"), "id", "content")
    try {
      val input = MemoryStream[(Long, String)]
      val q = IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("id", "content"),
        checkpoint = s"$base/ckpt",
        dedupPath = Some(s"$base/dup"), admitThreshold = Some(0.5))
      try {
        // batch: a near-dup of incumbent doc 1, an in-batch dup pair
        // (21 survives, 22 dies), and a unique doc
        input.addData(
          (20L, "the quick brown fox jumps over the lazy dog tonight"),
          (21L, "novel streaming admission content entirely fresh here"),
          (22L, "novel streaming admission content entirely fresh there"),
          (23L, "unique unrelated payload with no twin anywhere"))
        q.processAllAvailable()

        val ids = g.knowledgeBase.select("id").collect().map(_.getLong(0)).toSet
        assert(ids === Set(1L, 2L, 21L, 23L),
          s"admission gate leaked or over-killed: $ids")

        // the admitted docs are now incumbents: their near-dups die in
        // later batches, and a replayed-looking re-send of an admitted
        // id converges (self-excluded probe) instead of self-killing
        input.addData(
          (30L, "novel streaming admission content entirely fresh here"),
          (21L, "novel streaming admission content entirely fresh here"))
        q.processAllAvailable()
        val ids2 = g.knowledgeBase.select("id").collect().map(_.getLong(0)).toSet
        assert(ids2 === Set(1L, 2L, 21L, 23L),
          s"cross-batch incumbency or replay convergence broke: $ids2")
      } finally q.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("NULL-content stream rows RETRACT the id from every maintained surface") {
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val initial = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different content about distributed query engines"))
    g.loadKnowledgeBase(emb.embedColumn(
      initial.toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_maint_retract").toString
    g.indexKnowledge(s"$base/kb", nClusters = 1, nprobe = 1)
    operators.DedupIndex.build(spark, s"$base/dup",
      initial.toDF("id", "content"), "id", "content")
    operators.LexicalIndex.build(spark, s"$base/lex",
      initial.toDF("id", "content"), "id", "content")
    try {
      val input = MemoryStream[(Long, String)]
      val q = IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("id", "content"),
        checkpoint = s"$base/ckpt",
        lexicalPath = Some(s"$base/lex"),
        dedupPath = Some(s"$base/dup"), admitThreshold = Some(0.5))
      try {
        // the retraction arrives alongside a normal insert
        input.addData((1L, null.asInstanceOf[String]),
          (30L, "a brand new third document about watermarks"))
        q.processAllAvailable()

        // KB: doc 1's row is GONE (not a content-less tombstone)
        assert(g.knowledgeBase.select("id").collect().map(_.getLong(0)).toSet
          === Set(2L, 30L))
        // lexical: doc 1 stopped ranking; N reflects the purge
        assert(operators.LexicalIndex.bm25TopK(
          spark, s"$base/lex", "id", Seq("quick", "fox"), 5).isEmpty)
        assert(operators.LexicalIndex.bm25TopK(
            spark, s"$base/lex", "id", Seq("watermarks"), 5)
          .select("id").as[Long].collect().toSeq === Seq(30L))
        // dedup: doc 1's lookalike is admissible again
        input.addData(
          (40L, "the quick brown fox jumps over the lazy dog tonight"))
        q.processAllAvailable()
        assert(g.knowledgeBase.filter(col("id") === 40L).count() === 1L,
          "retracted content still rejecting lookalikes")
        // replayed retraction (at-least-once): converges, no error
        input.addData((1L, null.asInstanceOf[String]))
        q.processAllAvailable()
        assert(g.knowledgeBase.select("id").collect().map(_.getLong(0)).toSet
          === Set(2L, 30L, 40L))
        // RELOAD batch: retract every current id while inserting the
        // replacements — the KB delete commits AFTER the live upserts,
        // so the KB never routes through the (refused) empty state
        input.addData(
          (2L, null.asInstanceOf[String]), (30L, null.asInstanceOf[String]),
          (40L, null.asInstanceOf[String]),
          (50L, "the replacement corpus first entry"),
          (51L, "the replacement corpus second entry"))
        q.processAllAvailable()
        assert(q.exception.isEmpty, s"reload batch poisoned the stream: ${q.exception}")
        assert(g.knowledgeBase.select("id").collect().map(_.getLong(0)).toSet
          === Set(50L, 51L))
      } finally q.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("versioned retractions compete by version; retractOnNullContent=false drops them") {
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    // versioned stream: a HIGHER-versioned retraction beats a lower-
    // versioned same-batch insert for the id (uniform resolution; the
    // doc's rule — version your retractions on versioned streams)
    val g = GraftSession(spark, emb)
    g.loadKnowledgeBase(emb.embedColumn(
      Seq((1L, "incumbent content here"), (2L, "second incumbent entry"))
        .toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_maint_vretract").toString
    g.indexKnowledge(s"$base/kb", nClusters = 1, nprobe = 1)
    try {
      val input = MemoryStream[(Long, String, Long)]
      val q = IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("id", "content", "ver"),
        checkpoint = s"$base/ckpt", versionCol = Some("ver"))
      try {
        input.addData(
          (1L, "stale replacement", 1L),
          (1L, null.asInstanceOf[String], 2L), // the retraction wins (v2 > v1)
          (2L, null.asInstanceOf[String], 1L),
          (2L, "revived content", 5L),         // the insert wins (v5 > v1)
          (3L, null.asInstanceOf[String], 7L),
          (3L, "equal version live row", 7L))  // equal version: LIVE wins, not a coin flip
        q.processAllAvailable()
        val kb = g.knowledgeBase.select("id", "content")
          .as[(Long, String)].collect().toMap
        assert(!kb.contains(1L), s"versioned retraction lost: $kb")
        assert(kb.get(2L).contains("revived content"), s"versioned insert lost: $kb")
        assert(kb.get(3L).contains("equal version live row"),
          s"equal-version tie must resolve live-beats-retraction: $kb")
      } finally q.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")

    // opt-out: NULL-content rows are INERT — dropped before the per-id
    // resolution, so a buggy higher-versioned null row can't veto a
    // valid same-batch row for its id
    val g2 = GraftSession(spark, emb)
    g2.loadKnowledgeBase(emb.embedColumn(
      Seq((1L, "incumbent content here")).toDF("id", "content"),
      "content", "embedding"))
    val base2 = java.nio.file.Files.createTempDirectory("idx_maint_noretract").toString
    g2.indexKnowledge(s"$base2/kb", nClusters = 1, nprobe = 1)
    try {
      val input2 = MemoryStream[(Long, String, Long)]
      val q2 = IndexMaintenance.runToIndexedKnowledge(
        g2, input2.toDF().toDF("id", "content", "ver"),
        checkpoint = s"$base2/ckpt", versionCol = Some("ver"),
        retractOnNullContent = false)
      try {
        input2.addData(
          (1L, null.asInstanceOf[String], 9L), // the producer bug: would win by version
          (1L, "valid lower-versioned update", 3L),
          (9L, "a fresh insert rides along", 1L))
        q2.processAllAvailable()
        val kb2 = g2.knowledgeBase.select("id", "content")
          .as[(Long, String)].collect().toMap
        assert(kb2.get(1L).contains("valid lower-versioned update"),
          s"inert null row vetoed a valid same-batch row: $kb2")
        assert(kb2.contains(9L), s"insert lost: $kb2")
      } finally q2.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("unversioned same-batch retract+insert for one id: the live row wins deterministically") {
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    g.loadKnowledgeBase(emb.embedColumn(
      Seq((1L, "incumbent content here"), (2L, "second incumbent entry"))
        .toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_maint_uvr").toString
    g.indexKnowledge(s"$base/kb", nClusters = 1, nprobe = 1)
    try {
      val input = MemoryStream[(Long, String)]
      val q = IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("id", "content"), checkpoint = s"$base/ckpt")
      try {
        // several ids so a fingerprint coin flip (the pre-rule hazard)
        // could not pass by luck
        input.addData((1L to 8L).flatMap(i => Seq(
          (i, null.asInstanceOf[String]),
          (i, s"replacement content number $i"))): _*)
        q.processAllAvailable()
        val kb = g.knowledgeBase.select("id", "content")
          .as[(Long, String)].collect().toMap
        (1L to 8L).foreach(i => assert(
          kb.get(i).contains(s"replacement content number $i"),
          s"id $i: retraction beat the same-batch live row: ${kb.get(i)}"))
      } finally q.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("a retract-all batch is refused BEFORE any surface purges (no divergence while poisoned)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val initial = Seq(
      (1L, "zebra quokka walrus content"), (2L, "second incumbent entry"))
    g.loadKnowledgeBase(emb.embedColumn(
      initial.toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_maint_poison").toString
    g.indexKnowledge(s"$base/kb", nClusters = 1, nprobe = 1)
    operators.LexicalIndex.build(spark, s"$base/lex",
      initial.toDF("id", "content"), "id", "content")
    try {
      val input = MemoryStream[(Long, String)]
      val q = IndexMaintenance.runToIndexedKnowledge(
        g, input.toDF().toDF("id", "content"),
        checkpoint = s"$base/ckpt", lexicalPath = Some(s"$base/lex"))
      try {
        input.addData((1L, null.asInstanceOf[String]),
          (2L, null.asInstanceOf[String]))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        // refused EARLY: the lexical index must still serve both docs —
        // a post-purge refusal would leave the KB serving docs the
        // statistics no longer count
        assert(operators.LexicalIndex.bm25TopK(
            spark, s"$base/lex", "id", Seq("zebra"), 5)
          .select("id").as[Long].collect().toSeq === Seq(1L),
          "derived surface purged before the refusal")
        assert(g.knowledgeBase.count() === 2L)
      } finally q.stop()
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("JSONL arrival path: quarantine split + admission + index merge in one stream, restart-convergent") {
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val initial = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different incumbent corpus content right here"))
    g.loadKnowledgeBase(emb.embedColumn(
      initial.toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("jsonl_arrival").toString
    g.indexKnowledge(s"$base/kb", nClusters = 2, nprobe = 2)
    operators.DedupIndex.build(spark, s"$base/dup",
      initial.toDF("id", "content"), "id", "content")
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.StringType)))
    def writeFile(name: String, lines: Seq[String]): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        String.join("\n", lines: _*).getBytes("UTF-8"))
      ()
    }
    def start() = IndexMaintenance.runJsonlToIndexedKnowledge(
      g, in, schema, quarantinePath = s"$base/quar", checkpoint = s"$base/ckpt",
      dedupPath = Some(s"$base/dup"), admitThreshold = Some(0.5))
    def kbIds = g.knowledgeBase.select("id").collect().map(_.getLong(0)).toSet
    def quarLines = spark.read.text(s"$base/quar")
      .select("value").collect().map(_.getString(0)).toSeq.sorted

    try {
      // arrival 1: a near-dup of incumbent 1 (gated), a novel doc
      // (admitted), a malformed line and a blank line (quarantined)
      writeFile("a.jsonl", Seq(
        """{"id": 20, "content": "the quick brown fox jumps over the lazy dog today"}""",
        """{"id": 21, "content": "novel streaming arrival content entirely fresh here"}""",
        "", // blank INTERIOR line — a trailing one would just be the file's final newline
        "this is not json at all"))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      assert(kbIds === Set(1L, 2L, 21L),
        s"gate leaked, over-killed, or junk ingested: $kbIds")
      assert(quarLines === Seq("", "this is not json at all"),
        s"quarantine must hold the junk verbatim: $quarLines")

      // RESTART with the same checkpoint: new arrivals only — a
      // near-dup of the stream-admitted doc 21 (cross-restart
      // incumbency through the maintained dedup index), a unique doc,
      // and one more junk line landing in a NEW batch_id dir
      writeFile("b.jsonl", Seq(
        """{"id": 30, "content": "novel streaming arrival content entirely fresh there"}""",
        """{"id": 31, "content": "unique unrelated payload with no twin anywhere"}""",
        """{"id": "mistyped-id", "content": 42}"""))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      assert(kbIds === Set(1L, 2L, 21L, 31L),
        s"cross-restart incumbency broke: $kbIds")
      assert(quarLines === Seq("", "this is not json at all",
        """{"id": "mistyped-id", "content": 42}"""), s"quarantine: $quarLines")
      // lines landed under per-batch overwrite dirs (replay-idempotent
      // reject sink): more than one batch_id partition exists
      val batchDirs = new java.io.File(s"$base/quar").list()
        .filter(_.startsWith("batch_id=")).toSeq
      assert(batchDirs.size >= 2, s"expected per-batch dirs, got $batchDirs")
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("CSV arrival path: same pipeline, CSV dialect — \\N content is a retraction") {
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val initial = Seq(
      (1L, "seed document one with stable content staying put"),
      (2L, "seed document two with different content also staying"),
      (3L, "doomed document three retracted by the csv stream soon"))
    g.loadKnowledgeBase(emb.embedColumn(
      initial.toDF("id", "content"), "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("csv_arrival").toString
    g.indexKnowledge(s"$base/kb", nClusters = 2, nprobe = 2)
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "a.csv"),
      String.join("\n",
        "40,novel csv arrival with a fresh payload entirely",
        "3,\\N",                       // retraction, CSV spelling
        "not-a-number,type mismatch",  // quarantine
        "41,too,many,columns").getBytes("UTF-8"))
    val q = IndexMaintenance.runCsvToIndexedKnowledge(
      g, in, schema, quarantinePath = s"$base/quar", checkpoint = s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    try {
      val kbIds = g.knowledgeBase.select("id").collect().map(_.getLong(0)).toSet
      assert(kbIds === Set(1L, 2L, 40L),
        s"csv arrival must ingest 40 and retract 3: $kbIds")
      val quar = spark.read.text(s"$base/quar")
        .select("value").collect().map(_.getString(0)).toSet
      assert(quar === Set("not-a-number,type mismatch", "41,too,many,columns"),
        s"quarantine must hold the junk verbatim: $quar")
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("applyBatch without versionCol picks a deterministic content-fingerprint winner") {
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    g.loadKnowledgeBase(emb.embedColumn(
      (1L to 6L).map(i => (i, s"document number $i")).toDF("id", "content"),
      "content", "embedding"))
    val base = java.nio.file.Files.createTempDirectory("idx_maint_det").toString
    g.indexKnowledge(s"$base/kb", nClusters = 2, nprobe = 2)
    try {
      def winner(rows: Seq[(Long, String)]): String = {
        IndexMaintenance.applyBatch(g, rows.toDF("id", "content"),
          versionCol = None, lexicalPath = None,
          idCol = "id", contentCol = "content", vecCol = "embedding")
        g.knowledgeBase.filter(col("id") === 3L).select("content").head().getString(0)
      }
      val a = winner(Seq((3L, "candidate alpha"), (3L, "candidate beta")))
      // a replay (any arrival order) must converge to the same winner —
      // the exactly-once argument for at-least-once foreachBatch
      val b = winner(Seq((3L, "candidate beta"), (3L, "candidate alpha")))
      assert(a === b, "replayed batch picked a different winner")
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("a batch of RetractChunk + 1 retractions publishes one composite version per index, with the chunked deletes' rows") {
    import graft.operators.{DedupIndex, LexicalIndex, SemanticIndex}
    import graft.sources.CompositeIndex
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val docs = emb.embedColumn((1L to 30L).map(i =>
      (i, s"document number $i about topic${i % 5} and w${i * 7 % 13}")).toDF("id", "content"),
      "content", "embedding")
    g.loadKnowledgeBase(docs)
    val base = java.nio.file.Files.createTempDirectory("idx_maint_bulk").toString
    g.indexKnowledge(s"$base/kb", nClusters = 1, nprobe = 1)
    val cents = {
      val rows = graft.operators.SimilaritySearch.kmeansCentroids(
        docs, "id", "embedding", k = 2, iters = 3).collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        rows.head.schema)
    }
    val components = Map(
      "lex" -> Seq("postings", "doclens", "termdf"),
      "dup" -> Seq("bands", "shingles", "params"),
      "sem" -> Seq("vectors", "centroids"))
    val layouts = Seq("lex" -> "LexicalIndex", "dup" -> "DedupIndex", "sem" -> "SemanticIndex")
      .map { case (n, label) => n -> new CompositeIndex(label, components(n)) }
    def build(dir: String): Unit = {
      LexicalIndex.build(spark, s"$dir/lex", docs, "id", "content")
      DedupIndex.build(spark, s"$dir/dup", docs, "id", "content")
      SemanticIndex.build(spark, s"$dir/sem", docs, "id", "embedding", cents)
    }
    def versions(dir: String): Map[String, Long] =
      layouts.map { case (n, ci) => n -> ci.pin(spark, s"$dir/$n").version }.toMap
    def rows(dir: String): Map[String, Seq[String]] = layouts.flatMap { case (n, ci) =>
      val p = ci.pin(spark, s"$dir/$n")
      components(n).map(c => s"$n/$c" -> ci.readAt(spark, s"$dir/$n", p, c)
        .collect().map(_.toString).toSeq.sorted)
    }.toMap
    val (one, chunked) = (s"$base/one", s"$base/chunked")
    build(one); build(chunked)
    // ten present ids among absent ones, one present id in the last chunk
    val present = (1L to 10L).toSeq
    val ids = present.init ++
      (1 to graft.util.Pushdown.RetractChunk + 1 - present.size).map(i => 100000L + i) :+
      present.last
    try {
      val before = versions(one)
      IndexMaintenance.applyBatch(g,
        ids.map(i => (i, null.asInstanceOf[String])).toDF("id", "content"),
        versionCol = None, lexicalPath = Some(s"$one/lex"),
        dedupPath = Some(s"$one/dup"), semanticPath = Some(s"$one/sem"))
      assert(versions(one) === before.map { case (n, v) => n -> (v + 1) },
        "one composite version per index")
      assert(g.knowledgeBase.select("id").collect().map(_.getLong(0)).toSet ===
        (11L to 30L).toSet)
      // the deletes as they ran chunk by chunk
      ids.grouped(graft.util.Pushdown.RetractChunk).foreach { chunk =>
        LexicalIndex.delete(spark, s"$chunked/lex", chunk)
        DedupIndex.delete(spark, s"$chunked/dup", chunk)
        SemanticIndex.delete(spark, s"$chunked/sem", chunk)
      }
      val (got, want) = (rows(one), rows(chunked))
      want.keys.foreach(c => assert(got(c) === want(c), s"component $c rows"))
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("syncFromTable: the change feed drives offline index catch-up, retractions included") {
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val base = java.nio.file.Files.createTempDirectory("sync_cdf").toString
    val table = s"$base/docs"
    val lex = s"$base/lex"
    def doc(i: Long, text: String) = (i, text)
    val v1 = emb.embedColumn(
      (1L to 12L).map(i => doc(i, s"document number $i about topic${i % 4}"))
        .toDF("id", "content"), "content", "embedding")
    graft.sources.MergeTable.init(spark, table, v1)                    // v1
    // the serving session bootstraps from v1 and indexes it
    g.loadKnowledgeBase(graft.sources.MergeTable.readAt(spark, table, 1L))
    g.indexKnowledge(s"$base/kb", nClusters = 2, nprobe = 2)
    g.buildLexicalIndex(lex)
    try {
      // OTHER writers advance the table across every write path:
      // rewrite merge (update 3 + insert 99), row-level merge (insert
      // 100), and a predicate delete (5) — which folds, then deletes
      graft.sources.MergeTable.merge(spark, table, emb.embedColumn(Seq(
        doc(3L, "zebra quokka final replacement"),
        doc(99L, "xylophone walrus entirely new entry")).toDF("id", "content"),
        "content", "embedding"), Seq("id"))
      graft.sources.MergeTable.mergeLite(spark, table, emb.embedColumn(Seq(
        doc(100L, "aardvark bonobo appended entry")).toDF("id", "content"),
        "content", "embedding"), Seq("id"))
      graft.sources.MergeTable.deleteWhere(spark, table, col("id") === 5L)
      val tip = graft.sources.MergeTable.snapshot(spark, table).version

      val cursor = IndexMaintenance.syncFromTable(
        g, table, sinceVersion = 1L, lexicalPath = Some(lex))
      assert(cursor === tip, "the sync must return the tip as the next cursor")
      val kb = g.knowledgeBase
      assert(kb.count() === 13L, "12 + 2 inserts - 1 delete")
      assert(kb.filter(col("id") === 5L).isEmpty, "deleted key must retract")
      assert(kb.filter(col("id") === 3L).select("content").head().getString(0)
        === "zebra quokka final replacement")
      // both serving paths see the synced state
      val vecHits = g.searchKnowledge("aardvark bonobo appended entry", k = 3)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(vecHits.contains(100L), s"vector index stale after sync: $vecHits")
      val lexHits = g.hybridSearchKnowledge("zebra quokka", k = 3)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(lexHits.contains(3L), s"lexical index stale after sync: $lexHits")

      // idempotent: re-running the same window converges to the same state
      assert(IndexMaintenance.syncFromTable(
        g, table, sinceVersion = 1L, lexicalPath = Some(lex)) === tip)
      assert(g.knowledgeBase.count() === 13L)
      // a no-op window applies nothing and keeps the cursor
      assert(IndexMaintenance.syncFromTable(
        g, table, sinceVersion = cursor, lexicalPath = Some(lex)) === cursor)
      // a cursor from another lineage fails loudly
      val e = intercept[IllegalArgumentException] {
        IndexMaintenance.syncFromTable(g, table, sinceVersion = cursor + 10)
      }
      assert(e.getMessage.contains("ahead of the table tip"))

      // a ROW-LEVEL retraction (deleteLite tombstones — no base file
      // rewritten) flows through the SAME feed: deletesBetween reports
      // the tombstoned keys via the carried-scope probe and the next
      // sync purges them from every index
      graft.sources.MergeTable.deleteLite(spark, table,
        Seq(7L, 100L).toDF("id"), Seq("id"))
      val tip2 = graft.sources.MergeTable.snapshot(spark, table).version
      assert(IndexMaintenance.syncFromTable(
        g, table, sinceVersion = cursor, lexicalPath = Some(lex)) === tip2)
      assert(g.knowledgeBase.count() === 11L, "13 - 2 tombstoned")
      assert(g.knowledgeBase.filter(col("id").isin(7L, 100L)).isEmpty,
        "tombstoned keys must retract from the synced KB")
      val vecHits2 = g.searchKnowledge("aardvark bonobo appended entry", k = 3)
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(!vecHits2.contains(100L),
        s"tombstoned key must leave the vector serving path: $vecHits2")
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")
  }

  test("full retraction pipeline: CDC stream (U/D) → keyed table → cursor sync purges serving") {
    // the r16 composition: StreamingCdc-shaped ops drive
    // runChangesToMergeTable (each batch's upserts and deletes → one
    // applyChanges commit), and syncFromTable's CDF cursor carries BOTH kinds
    // into the serving indexes — the reference's retraction
    // (DELETE WHERE content_hash) end-to-end from a stream.
    implicit val sqlCtx = spark.sqlContext
    val emb = HashEmbedder(16)
    val g = GraftSession(spark, emb)
    val base = java.nio.file.Files.createTempDirectory("cdc_pipe").toString
    val table = s"$base/docs"
    val lex = s"$base/lex"
    def ev(text: String) = emb.embed(Seq(text)).head
    def up(id: Long, seq: Long, text: String) = (id, seq, "U", text, ev(text))
    def del(id: Long, seq: Long) =
      (id, seq, "D", null: String, null: Array[Float])
    val input = MemoryStream[(Long, Long, String, String, Array[Float])]
    val q = graft.streaming.JobProcessor.runChangesToMergeTable(
      spark, input.toDF().toDF("id", "seq", "op", "content", "embedding"),
      table, s"$base/ckpt", keyCols = Seq("id"))
    try {
      input.addData((1L to 8L).map(i =>
        up(i, 1L, s"document number $i about topic${i % 3}")): _*)
      q.processAllAvailable()
      assert(graft.sources.MergeTable.read(spark, table).count() === 8)
      // serving bootstraps from the table and indexes it
      g.loadKnowledgeBase(graft.sources.MergeTable.read(spark, table)
        .select(col("id"), col("content"), col("embedding")))
      g.indexKnowledge(s"$base/kb", nClusters = 2, nprobe = 2)
      g.buildLexicalIndex(lex)
      val cursor = graft.sources.MergeTable.snapshot(spark, table).version
      try {
        // second stream batch interleaves upserts and deletes
        input.addData(
          up(3L, 2L, "zebra quokka full replacement"),
          up(9L, 1L, "xylophone walrus brand new"),
          del(5L, 2L), del(7L, 2L))
        q.processAllAvailable()
        val live = graft.sources.MergeTable.read(spark, table)
        assert(live.count() === 7 &&
          live.filter(col("id").isin(5L, 7L)).isEmpty)
        // one cursor sync carries the whole stream window into serving
        val tip = graft.sources.MergeTable.snapshot(spark, table).version
        assert(IndexMaintenance.syncFromTable(
          g, table, sinceVersion = cursor, lexicalPath = Some(lex)) === tip)
        assert(g.knowledgeBase.count() === 7)
        assert(g.knowledgeBase.filter(col("id").isin(5L, 7L)).isEmpty,
          "stream deletes must retract from the synced KB")
        val lexHits = g.hybridSearchKnowledge("zebra quokka", k = 3)
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(lexHits.contains(3L), s"lexical serving stale: $lexHits")
        val vecHits = g.searchKnowledge("xylophone walrus brand new", k = 3)
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(vecHits.contains(9L), s"vector serving stale: $vecHits")
      } finally graft.plans.IvfIndex.unregister(spark, "embedding")
    } finally q.stop()
  }

  test("image stream: perceptual admission gates the store, retraction purges, replay converges") {
    implicit val sqlCtx = spark.sqlContext
    def img(seed: Int): (Int, Int, Array[Byte]) = TestImages.img(seed)
    val base = java.nio.file.Files.createTempDirectory("idx_maint_img").toString
    // incumbent image id 1 (family 0) seeds the index
    val (w0, h0, b0) = img(0)
    operators.ImageDedupIndex.buildFromImages(spark, s"$base/idx",
      Seq((1L, w0, h0, b0)).toDF("img_id", "w", "h", "rgb"),
      "img_id", "w", "h", "rgb")
    val input = MemoryStream[(Long, Int, Int, Array[Byte])]
    val q = IndexMaintenance.runImagesToDedupedStore(spark,
      input.toDF().toDF("img_id", "w", "h", "rgb"),
      storePath = s"$base/store", indexPath = s"$base/idx",
      checkpoint = s"$base/ckpt")
    try {
      val (w9, h9, b9) = img(9)
      val (w5, h5, b5) = img(5)
      // dup of the incumbent (dies), new family (lands), its in-batch
      // dup (dies), an un-hashable buffer (passes, store-only)
      input.addData(
        (10L, w0, h0, b0), (11L, w9, h9, b9), (12L, w9, h9, b9),
        (13L, 5, 5, Array[Byte](1, 2, 3)))
      q.processAllAvailable()
      def storeIds: Set[Long] = graft.sources.MergeTable
        .read(spark, s"$base/store").select($"img_id").as[Long].collect().toSet
      assert(storeIds === Set(11L, 13L),
        s"admission gate leaked or over-killed: $storeIds")
      // incumbency: a later dup of the admitted 11 dies; a replay-shaped
      // re-send of 11 converges (self-excluded probe, keyed merge)
      input.addData((20L, w9, h9, b9), (11L, w9, h9, b9))
      q.processAllAvailable()
      assert(storeIds === Set(11L, 13L), s"incumbency/replay broke: $storeIds")
      // retraction: NULL rgb purges 11 from store and index; its
      // content then re-admits under a fresh id
      input.addData((11L, 0, 0, null.asInstanceOf[Array[Byte]]))
      q.processAllAvailable()
      assert(storeIds === Set(13L), s"retraction must purge the store: $storeIds")
      input.addData((30L, w9, h9, b9))
      q.processAllAvailable()
      assert(storeIds === Set(13L, 30L),
        s"a retracted image's content must re-admit: $storeIds")
      // a genuinely new family still lands
      input.addData((40L, w5, h5, b5))
      q.processAllAvailable()
      assert(storeIds === Set(13L, 30L, 40L))
      // a LIVE but UN-HASHABLE replacement retracts incumbency: 40's
      // content is replaced by a corrupt buffer — the store keeps the
      // row (byte-level audit), but the stale fingerprint must leave
      // the index, so a lookalike of the OLD pixels re-admits (review
      // catch: a dead fingerprint must not reject ghosts forever)
      input.addData((40L, 5, 5, Array[Byte](9, 9, 9)))
      q.processAllAvailable()
      assert(storeIds === Set(13L, 30L, 40L),
        "the un-hashable replacement stays in the store for audit")
      input.addData((41L, w5, h5, b5))
      q.processAllAvailable()
      assert(storeIds === Set(13L, 30L, 40L, 41L),
        "a retracted-by-corruption fingerprint must not keep rejecting lookalikes")
    } finally q.stop()
  }

  test("syncImagesFromTable: the store's change feed drives offline image-index catch-up") {
    val MT = graft.sources.MergeTable
    val IDX = operators.ImageDedupIndex
    val base = java.nio.file.Files.createTempDirectory("img_sync").toString
    val (store, idx) = (s"$base/store", s"$base/idx")
    def i(seed: Int) = TestImages.img(seed)
    def row(id: Long, seed: Int) = { val (w, h, b) = i(seed); (id, w, h, b) }
    def probe(seed: Int): Set[Long] = {
      val (w, h, b) = i(seed)
      val df = IDX.nearDupsAgainst(spark, idx,
        Seq((999L, w, h, b)).toDF("img_id", "w", "h", "rgb")
          .select($"img_id", graft.functions.ImageFunctions
            .dhash64($"w", $"h", $"rgb").as("fp")),
        "img_id", "fp")
      val s = df.select($"id_a".cast("long")).as[Long].collect().toSet - 999L
      graft.util.Checkpoints.free(df); s
    }
    // a store OTHER writers advance; the index trails it by cursor
    MT.init(spark, store,
      Seq(row(1L, 1), row(2L, 2)).toDF("img_id", "w", "h", "rgb")) // v1
    IDX.build(spark, idx,
      Seq.empty[(Long, Long)].toDF("id", "fp"), "id", "fp")
    var cur = IndexMaintenance.syncImagesFromTable(spark, store, 0L, idx)
    assert(probe(1) === Set(1L) && probe(2) === Set(2L),
      "bootstrap must index the full store")
    // window: replace 2's content, insert 3, delete 1
    MT.merge(spark, store,
      Seq(row(2L, 9), row(3L, 3)).toDF("img_id", "w", "h", "rgb"),
      Seq("img_id"))                                                 // v2
    MT.deleteLite(spark, store, Seq(1L).toDF("img_id"), Seq("img_id")) // v3
    cur = IndexMaintenance.syncImagesFromTable(spark, store, cur, idx)
    assert(probe(2).isEmpty, "2's OLD content must stop pairing after its replacement")
    assert(probe(9) === Set(2L), "2 pairs under its NEW content")
    assert(probe(1).isEmpty, "the deleted key must purge")
    assert(probe(3) === Set(3L), "the inserted key must index")
    // idempotent: a caught-up cursor applies nothing
    assert(IndexMaintenance.syncImagesFromTable(spark, store, cur, idx) === cur)
    // a foreign/ahead cursor refuses loudly
    val e = intercept[IllegalArgumentException](
      IndexMaintenance.syncImagesFromTable(spark, store, cur + 10, idx))
    assert(e.getMessage.contains("ahead of the store tip"))
    // RE-bootstrap after cursor loss: a key deleted in an unsynced
    // window must purge when the cursor resets to 0 — ghost
    // fingerprints must not survive a bootstrap over a live index
    MT.deleteLite(spark, store, Seq(3L).toDF("img_id"), Seq("img_id")) // v4
    IndexMaintenance.syncImagesFromTable(spark, store, 0L, idx)
    assert(probe(3).isEmpty, "re-bootstrap must purge ghost incumbents")
    assert(probe(9) === Set(2L), "live keys survive the re-bootstrap")
  }
}
