package graft

import graft.operators.Lexical

/** BM25 + reciprocal-rank fusion: scores checked against the Okapi
  * formula computed independently in the test, fusion checked for
  * rank-space behavior (overlap boosts, scale-free). */
class LexicalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark join is slow today"),          // all three terms once, dl=5
    (2L, "spark spark spark and nothing else"),// high tf for one term, dl=6
    (3L, "join the queue"),                    // one term, dl=3
    (4L, "completely unrelated text here")     // no terms
  ).toDF("doc_id", "text")

  private def okapi(tf: Double, df: Double, n: Double, dl: Double,
      avgdl: Double, k1: Double = 1.2, b: Double = 0.75): Double =
    if (tf == 0) 0.0
    else math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (k1 + 1.0) /
      (tf + k1 * (1.0 - b + b * dl / avgdl))

  test("bm25TopK matches the Okapi formula; no-match docs are dropped") {
    val got = Lexical.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "join", "slow"), k = 10)
      .as[(Long, Double)].collect().toMap
    assert(!got.contains(4L), "doc with no query term must be dropped")
    val n = 4.0; val avgdl = (5 + 6 + 3 + 4) / 4.0
    def expected(tfs: (Double, Double, Double), dl: Double) =
      okapi(tfs._1, 2, n, dl, avgdl) + okapi(tfs._2, 2, n, dl, avgdl) +
        okapi(tfs._3, 1, n, dl, avgdl)
    assert(got(1L) === math.rint(expected((1, 1, 1), 5) * 1e6) / 1e6)
    assert(got(2L) === math.rint(expected((3, 0, 0), 6) * 1e6) / 1e6)
    assert(got(3L) === math.rint(expected((0, 1, 0), 3) * 1e6) / 1e6)
    // doc 1 hits all three terms (incl. the rarer 'slow') — it must
    // outrank the single-term docs
    assert(got(1L) > got(2L) && got(1L) > got(3L))
  }

  test("bm25TopK k-limits and tie-breaks deterministically") {
    val dup = Seq((10L, "spark"), (11L, "spark"), (12L, "spark"))
      .toDF("doc_id", "text")
    val got = Lexical.bm25TopK(dup, "doc_id", "text", Seq("spark"), k = 2)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) === Seq(10L, 11L), "equal scores break ties by id")
    assert(got(0)._2 === got(1)._2)
  }

  test("hybridSearch: the fused winner is a doc NEITHER leg ranks first") {
    import graft.kb.KnowledgeBase
    // Designed so the fused head (doc 3) differs from the lexical head
    // (doc 1) AND the vector head (doc 2): rank matrix over all 4 docs
    //   doc 1: lex 1, vec 4 -> 1/61 + 1/64 ~= .032018
    //   doc 2: vec 1, absent lexically -> 1/61 ~= .016393
    //   doc 3: lex 2, vec 2 -> 2/62 ~= .032258  <- fused winner
    //   doc 4: lex 3, vec 3 -> 2/63 ~= .031746
    // so losing EITHER leg changes the fused order: lexical-only would
    // rank (1,3,4), vector-only (2,3,4) — the exact-order assertion
    // catches a regression that silently drops a retrieval leg.
    val kb = Seq(
      (1L, "alpha beta alpha beta alpha", Array(0f, 1f, 0f)),
      (2L, "completely different words here", Array(1f, 0f, 0f)),
      (3L, "alpha beta of joins", Array(0.9f, 0.4f, 0f)),
      (4L, "alpha padded with many entirely unrelated trailing words",
        Array(0.5f, 0.8f, 0f))
    ).toDF("id", "content", "embedding")
    val got = KnowledgeBase.hybridSearch(kb, "id", "content",
        "alpha beta", Array(1f, 0f, 0f), k = 3)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) === Seq(3L, 1L, 4L), s"fused order wrong: $got")
  }

  test("bm25TopK: a 20-term query matches an independent Okapi computation") {
    // exercises the single-pass occurrence filter: per-term tf must stay
    // exact when the query is long and terms repeat across docs
    val rng = new scala.util.Random(42)
    val vocab = (0 until 40).map(i => s"w$i")
    val corpus = (1L to 60L).map { id =>
      val len = 5 + rng.nextInt(30)
      (id, Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val queryTerms = (0 until 20).map(i => s"w${i * 2}") // 20 distinct terms
    val got = Lexical.bm25TopK(df, "doc_id", "text", queryTerms, k = 60)
      .as[(Long, Double)].collect().toMap

    val words = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = corpus.size.toDouble
    val avgdl = words.values.map(_.size).sum.toDouble / n
    val dfs = queryTerms.map(t =>
      t -> words.values.count(_.contains(t)).toDouble).toMap
    corpus.foreach { case (id, _) =>
      val dl = words(id).size.toDouble
      val exp = queryTerms.map { t =>
        okapi(words(id).count(_ == t).toDouble, dfs(t), n, dl, avgdl)
      }.sum
      if (exp > 0)
        assert(got(id) === math.rint(exp * 1e6) / 1e6, s"doc $id")
      else assert(!got.contains(id), s"doc $id has no term and must drop")
    }
  }

  test("bm25TopK: the generated code is query-invariant (same term count, new terms and idfs)") {
    // the idf sequences differ (df 2,2,1 vs 1,1,2) — a fold that inlined
    // each idf as a Java literal would generate (and compile) new code
    val a = GeneratedCode.of(spark)(Lexical.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "join", "slow"), k = 10))
    val b = GeneratedCode.of(spark)(Lexical.bm25TopK(docs, "doc_id", "text",
      Seq("queue", "today", "spark"), k = 10))
    assert(a === b)
    assert(a.exists(_.contains(classOf[graft.functions.Bm25Score].getName)),
      "the scoring stage does not run the BM25 kernel")
  }

  test("bm25TopK evaluates the BM25 kernel once per row, fresh and indexed") {
    // every Bm25Score node across the executed plans of the call's
    // actions: a score filter below the top-k would inline the scoring
    // alias and run the kernel a second time per row
    def kernels(call: => Any): Int =
      GeneratedCode.plans(spark)(call).flatMap(graft.util.Plans.flatten)
        .map(_.expressions.map(_.collect {
          case s: graft.functions.Bm25Score => s }.size).sum).sum
    assert(kernels(Lexical.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "join"), k = 2)) === 1)
    val path = java.nio.file.Files.createTempDirectory("bm25_once").toString + "/ix"
    graft.operators.LexicalIndex.build(spark, path, docs, "doc_id", "text")
    assert(kernels(graft.operators.LexicalIndex.bm25TopK(spark, path, "doc_id",
      Seq("spark", "join"), k = 2)) === 1)
  }

  test("bm25TopK on an empty corpus fails with the friendly require, try/finally intact") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Lexical.bm25TopK(empty, "doc_id", "text", Seq("term"), 5))
    assert(e.getMessage.contains("corpus is empty"))
  }

  test("rrfFuse: overlap across rankings outranks a single high rank") {
    val a = Seq((1L, 10.0), (2L, 9.0), (3L, 8.0)).toDF("doc_id", "score")
    val b = Seq((2L, 5.0), (3L, 4.0), (9L, 3.0)).toDF("doc_id", "score")
    val got = Lexical.rrfFuse(Seq(a, b), "doc_id", k = 10)
      .as[(Long, Double)].collect().toSeq
    // doc 2: rank 2 + rank 1 -> 1/62 + 1/61; doc 1: rank 1 only -> 1/61
    assert(got.head._1 === 2L, s"overlapping doc must fuse on top: $got")
    val d2 = 1.0 / 62 + 1.0 / 61
    assert(got.head._2 === math.rint(d2 * 1e6) / 1e6)
    assert(got.map(_._1).take(3) === Seq(2L, 3L, 1L)) // 3: 1/63+1/62 > 1: 1/61
  }
}
