package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.{Schemas, Validation}
import graft.search.{Embedder, HashEmbedder, SearchService}
import graft.multimodal.Multimodal

class SearchValidationSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureSource(src: String, docs: Seq[(String, String, Int)]): SearchService.Source =
    new SearchService.Source {
      def name: String = src
      def search(s: SparkSession, query: String, maxResults: Int): DataFrame = {
        import s.implicits._
        docs.map { case (content, url, rank) => (content, s"$src doc", src, url, rank) }
          .toDF("content", "title", "source_type", "source_url", "rank")
      }
    }

  test("fan-out search: union, source-priority URL dedup, limit, truncation") {
    val so = fixtureSource("stackoverflow", Seq(("so answer", "http://u/1", 0)))
    val gh = fixtureSource("github",
      Seq(("gh readme " + "x" * 600, "http://u/2", 0), ("gh dup of u1", "http://u/1", 1)))
    val docs = fixtureSource("official_doc", Seq(("doc page", "http://u/3", 0)))

    val got = SearchService.fanOutSearch(spark, Seq(so, gh, docs), "spark   joins", 10)
      .select("source_type", "source_url", "content").collect()
    // URL u/1 deduped: stackoverflow wins (priority order)
    assert(got.length === 3)
    assert(got(0).getString(0) === "stackoverflow" && got(0).getString(1) === "http://u/1")
    // content > 500 chars truncated with ellipsis
    val ghContent = got.find(_.getString(0) === "github").get.getString(2)
    assert(ghContent.length === 503 && ghContent.endsWith("..."))
  }

  test("fan-out search: a failing source yields empty frame, others survive") {
    val bad = new SearchService.Source {
      def name = "github"
      def search(s: SparkSession, q: String, n: Int): DataFrame =
        throw new RuntimeException("boom")
    }
    val so = fixtureSource("stackoverflow", Seq(("answer", "http://u/1", 0)))
    val got = SearchService.fanOutSearch(spark, Seq(so, bad), "query", 5)
    assert(got.count() === 1)
  }

  test("preprocess routes through F1 (error extraction)") {
    assert(SearchService.preprocess(spark, "[ERR-9] kaput") === "ERR-9")
    assert(SearchService.contextSourceMap("error") === "stackoverflow")
  }

  test("preprocess evaluates F1 without planning and matches the DataFrame path") {
    // the per-call DataFrame form preprocess used to run, kept here as
    // the reference
    def viaFrame(q: String): String = Seq(q).toDF("q")
      .select(graft.functions.TextFunctions.preprocessSearchQuery(col("q")))
      .as[String].head()
    val inputs = Seq(
      "Ünïcödé 查询 naïve ñandú — 🚀 spark joins",
      "tabs\tand\nnewlines\r\n   and   runs     of spaces  ",
      "",
      ("join " * 50) + "tail",                                     // > 200 chars
      // q119's six input forms: null, blank, regular, exception + code,
      // quoted table not found, stack trace with a bare table name
      null,
      "   ",
      "how   do I  fix spark join slow",
      "org.apache.spark.SparkException: stage failed [JOB_3] at com.example.Runner(Main.java:42)",
      "Error: Table `db_2.users` cannot be found",
      "Traceback at worker.task(job.py:7): relation my_sch.tbl_4 does not exist",
      // the rest of the priority chain
      "org.apache.spark.sql.utils.AnalysisException: Table or view 'foo.bar' not found",
      "java.lang.IllegalStateException: boom in 'cfg.key'",
      "Caused by: java.io.IOException: disk full",
      "Error: [CODE_7] failed",
      "Error: could not read main.events")
    val expected = inputs.map(viaFrame)
    assert(expected.contains("pyspark table not found") && expected.contains("sql table not found"))
    inputs.zip(expected).foreach { case (q, exp) =>
      assert(SearchService.preprocess(spark, q) === exp, s"diverged on <$q>")
    }
    assert(GeneratedCode.plans(spark)(SearchService.preprocess(spark, inputs(2))).isEmpty,
      "preprocess ran a query")
    // one bound expression per session, evaluated from many threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, String)]] {
          def call(): Seq[(Int, String)] = (0 until 200).map { i =>
            val j = (i + t) % inputs.size
            j -> SearchService.preprocess(spark, inputs(j))
          }
        })
      }
      tasks.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).foreach {
        case (j, got) => assert(got === expected(j), s"thread result diverged on <${inputs(j)}>")
      }
    } finally pool.shutdownNow()
  }

  test("embedder: batched, deterministic, unit-norm; upsert composition") {
    val emb = HashEmbedder(dim = 16)
    val docs = Seq(("alpha content", "t1"), ("beta content", "t2"))
      .toDF("content", "title")
    val embedded = emb.embedColumn(docs, "content", "embedding")
    val vecs = embedded.select("embedding").as[Array[Float]].collect()
    assert(vecs.forall(_.length === 16))
    assert(vecs.forall(v => math.abs(v.map(x => x.toDouble * x).sum - 1.0) < 1e-5))
    // deterministic
    val again = emb.embedColumn(docs, "content", "embedding")
      .select("embedding").as[Array[Float]].collect()
    assert(vecs.zip(again).forall { case (a, b) => a.sameElements(b) })

    val kb = Seq(("alpha content", "old")).toDF("content", "title")
    val merged = SearchService.upsertResults(
      emb.embedColumn(kb, "content", "embedding"), docs, emb)
    assert(merged.count() === 2) // alpha replaced, beta added
  }

  test("validation split: enum/range/length checks route rejects with reasons") {
    val df = Seq(
      (1L, "good task", "In Progress", 50, "High"),
      (2L, "bad status", "Sleeping", 10, "High"),
      (3L, "bad <html>", "Completed", 10, "Low"),
      (4L, "bad progress", "Completed", 150, "Low"),
      (5L, ("x" * 201), "Completed", 10, "Low")
    ).toDF("id", "name", "status", "progress", "priority")
    val (valid, rejects) = Validation.split(df, Validation.taskRules)
    assert(valid.select("id").as[Long].collect().toSeq === Seq(1L))
    val reasons = rejects.select("id", "reject_reason").as[(Long, String)].collect().toMap
    assert(reasons === Map(2L -> "status_enum", 3L -> "name_no_html",
      4L -> "progress_range", 5L -> "name_max_200"))
  }

  test("1536-dim vectors (the reference's VECTOR(1536)) through embed + match + validation") {
    val emb = HashEmbedder(dim = Schemas.EmbeddingDim) // 1536
    val kb = emb.embedColumn(
      Seq(("alpha doc", 1L), ("beta doc", 2L), ("gamma doc", 3L)).toDF("content", "id"),
      "content", "embedding")
    val q = emb.embed(Seq("beta doc")).head
    assert(q.length === 1536)
    val hits = graft.kb.KnowledgeBase.matchDocuments(
      kb.withColumn("source_type", lit("internal")), q, 1)
    assert(hits.select("id").as[Long].head() === 2L) // self-match at distance 0

    // dimension CHECK rule rejects a wrong-width embedding
    val mixed = kb.select(col("content"), col("embedding"))
      .unionByName(Seq(("short", Array(1f, 2f))).toDF("content", "embedding"))
      .withColumn("source_type", lit("internal"))
    val (valid, rejects) = Validation.split(mixed, Validation.kbRules)
    assert(valid.count() === 3)
    assert(rejects.select("reject_reason").as[String].collect().toSeq === Seq("embedding_dim"))
  }

  test("schemas: declared catalog shapes") {
    assert(Schemas.knowledgeBase.fieldNames.contains("content_hash"))
    assert(Schemas.EmbeddingDim === 1536)
    assert(Schemas.tasks.fields.length === 11)
  }

  test("multimodal: resize and frame sampling plumbing") {
    val rows = Seq(
      (1L, "image", Array.tabulate(256)(_.toByte), "image/jpeg"),
      (2L, "video", Array.tabulate(1000)(_.toByte), "video/mp4"))
      .toDF("media_id", "kind", "payload", "mime")
    val resized = Multimodal.resize(rows, Multimodal.StubResize, 64, 64)
    val r = resized.filter($"media_id" === 1).collect()(0)
    assert(r.getAs[Int]("width") === 64 && r.getAs[Int]("height") === 64)
    assert(r.getAs[Array[Byte]]("payload").length === 64) // 64*64/64 stub target

    val frames = Multimodal.sampleFrames(rows.filter($"kind" === "video"), 4)
    val fr = frames.orderBy("frame_no").collect()
    assert(fr.length === 4)
    assert(fr.map(_.getAs[Int]("frame_no")).toSeq === Seq(0, 1, 2, 3))
    assert(fr.forall(_.getAs[Array[Byte]]("frame").length === 250))
    // deterministic: same slice content on re-run
    val again = Multimodal.sampleFrames(rows.filter($"kind" === "video"), 4)
      .orderBy("frame_no").collect()
    assert(fr.zip(again).forall { case (a, b) =>
      a.getAs[Array[Byte]]("frame").sameElements(b.getAs[Array[Byte]]("frame")) })

    // payload shorter than n: fewer non-empty frames, never zero-byte rows;
    // non-divisible length: every byte covered (last frame absorbs remainder)
    val tiny = Seq((3L, "video", Array[Byte](1, 2), "video/mp4"))
      .toDF("media_id", "kind", "payload", "mime")
    val tinyFrames = Multimodal.sampleFrames(tiny, 4).collect()
    assert(tinyFrames.length === 2)
    assert(tinyFrames.forall(_.getAs[Array[Byte]]("frame").length === 1))
    val odd = Seq((4L, "video", Array.tabulate(1001)(_.toByte), "video/mp4"))
      .toDF("media_id", "kind", "payload", "mime")
    val oddFrames = Multimodal.sampleFrames(odd, 4).collect()
    assert(oddFrames.map(_.getAs[Array[Byte]]("frame").length).sum === 1001)
  }

  test("multimodal: feature extraction plumbing with stub kernel") {
    val rows = Seq(
      (1L, "image", Array[Byte](1, 2, 3, 4), "image/jpeg"),
      (2L, "audio", Array[Byte](9, 9, 9), "audio/wav"))
      .toDF("media_id", "kind", "payload", "mime")
    val feat = Multimodal.extractFeatures(rows, Multimodal.StubKernel(8))
    val got = feat.select("features").as[Array[Float]].collect()
    assert(got.forall(_.length === 8))
    assert(math.abs(got(0).sum - 1.0) < 1e-6) // histogram normalized
    val audit = Multimodal.audit(rows)
    assert(audit.filter($"media_id" === 1).select("payload_bytes").as[Long].head() === 4L)
  }

  test("multimodal: audit extras compute in the same pass (q118 shape)") {
    val rows = Seq(
      (1L, "image", Array[Byte](1, 2, 3, 4), "image/jpeg"),
      (2L, "audio", Array[Byte](-1, -1, 65), "audio/wav")) // 0xFF,0xFF,0x41
      .toDF("media_id", "kind", "payload", "mime")
    val h = graft.functions.BinaryFunctions.byteHistogram($"payload", 4)
    val a = Multimodal.audit(rows,
      (0 until 4).map(i =>
        s"bin${i}_n" -> round(element_at(h, i + 1) * length($"payload")).cast("long")): _*)
    assert(a.columns.toSeq ===
      Seq("media_id", "kind", "payload_bytes", "payload_sha256",
        "bin0_n", "bin1_n", "bin2_n", "bin3_n"))
    val r2 = a.filter($"media_id" === 2)
      .select("bin0_n", "bin1_n", "bin2_n", "bin3_n")
      .as[(Long, Long, Long, Long)].head()
    assert(r2 === ((0L, 1L, 0L, 2L))) // 0x41 → bin1; 0xFF ×2 → bin3
    // one pass: no join/exchange in the audit-with-features plan
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
  }
}
