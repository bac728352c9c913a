package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Lexical, LexicalIndex}
import graft.sources.CompositeIndex

/** Persisted inverted index: indexed rankings must be BIT-IDENTICAL to
  * the fresh tokenize-per-call path on the same corpus, survive
  * incremental maintenance, and serve queries from a pushed-down
  * postings scan (the inverted-index property, plan-gated). */
class LexicalIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("lex_index").toString + "/idx"

  /** Randomized corpus with cross-doc term repetition and score ties. */
  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val vocab = (0 until 40).map(i => s"w$i")
    (1L to n.toLong).map { id =>
      val len = 5 + rng.nextInt(30)
      (id, Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
  }

  private def ranking(df: DataFrame): Seq[(Long, Double)] =
    df.as[(Long, Double)].collect().toSeq

  test("bm25TopKMany from the index is bit-identical to the fresh path") {
    val docs = corpus(7, 60).toDF("doc_id", "text")
    val path = freshPath()
    LexicalIndex.build(spark, path, docs, "doc_id", "text")
    assert(LexicalIndex.exists(spark, path))
    val queries = Seq(
      Seq("w0", "w3", "w11"),
      (0 until 20).map(i => s"w${i * 2}"),         // long query
      Seq("w5", "absent_term", "w5", "W5"))        // dups/case/missing term
    val fresh = Lexical.bm25TopKMany(docs, "doc_id", "text", queries, k = 60)
      .map(ranking)
    val indexed = LexicalIndex.bm25TopKMany(spark, path, "doc_id", queries, k = 60)
      .map(ranking)
    queries.indices.foreach { i =>
      assert(indexed(i) === fresh(i), s"query $i diverged")
      assert(fresh(i).nonEmpty, s"query $i is vacuous")
    }
  }

  test("indexed BM25 and hybridSearchKnowledge generate query-invariant code") {
    val kb = corpus(3, 40).toDF("id", "content")
    val path = freshPath()
    LexicalIndex.build(spark, path, kb, "id", "content")
    def df(t: String) = kb.filter(array_contains(split(col("content"), " "), t)).count()
    val (qa, qb) = (Seq("w1", "w7", "w20"), Seq("w33", "w2", "w9"))
    assert(qa.map(df) !== qb.map(df), "the two queries must differ in their idfs")
    val a = GeneratedCode.of(spark)(LexicalIndex.bm25TopK(spark, path, "id", qa, k = 10))
    val b = GeneratedCode.of(spark)(LexicalIndex.bm25TopK(spark, path, "id", qb, k = 10))
    assert(a === b)
    assert(a.exists(_.contains(classOf[graft.functions.Bm25Score].getName)),
      "the scoring stage does not run the BM25 kernel")

    val emb = graft.search.HashEmbedder(16)
    val g = GraftSession(spark, emb)
      .loadKnowledgeBase(emb.embedColumn(kb, "content", "embedding"))
      .buildLexicalIndex(freshPath())
    val ha = GeneratedCode.of(spark)(g.hybridSearchKnowledge(qa.mkString(" "), k = 5).collect())
    val hb = GeneratedCode.of(spark)(g.hybridSearchKnowledge(qb.mkString(" "), k = 5).collect())
    assert(ha === hb)
    assert(ha.exists(_.contains(classOf[graft.functions.Bm25Score].getName)))
  }

  test("upsert replaces docs incrementally: stale postings die, new ones serve") {
    val base = corpus(11, 40)
    val path = freshPath()
    LexicalIndex.build(spark, path, base.toDF("doc_id", "text"), "doc_id", "text")
    // doc 5 rewritten (loses every old term, gains 'zebra'), doc 41 is new
    val updated = base.map {
      case (5L, _) => (5L, "zebra zebra quagga")
      case other   => other
    } :+ (41L, "zebra crossing and w0")
    val batch = Seq((5L, "zebra zebra quagga"), (41L, "zebra crossing and w0"))
    LexicalIndex.upsert(spark, path, batch.toDF("doc_id", "text"), "doc_id", "text")

    val updatedDf = updated.toDF("doc_id", "text")
    val queries = Seq(Seq("zebra"), Seq("w0", "w1"), Seq("quagga", "w2"))
    val fresh = Lexical.bm25TopKMany(updatedDf, "doc_id", "text", queries, k = 50)
      .map(ranking)
    val indexed = LexicalIndex.bm25TopKMany(spark, path, "doc_id", queries, k = 50)
      .map(ranking)
    queries.indices.foreach(i =>
      assert(indexed(i) === fresh(i), s"query $i diverged after upsert"))
    // doc 5's STALE postings must be gone: its old text matched w-terms,
    // the new text doesn't — a bare merge (no delete) would keep them
    val w = indexed(1).map(_._1)
    assert(!w.contains(5L), "replaced doc must not match its old terms")
    assert(indexed(0).map(_._1).toSet === Set(5L, 41L))
  }

  test("query scan is term-pushed into the parquet footers (inverted-index property)") {
    val docs = corpus(13, 50).toDF("doc_id", "text")
    val path = freshPath()
    LexicalIndex.build(spark, path, docs, "doc_id", "text")
    LexicalIndex.compact(spark, path, numFiles = 4)
    // the plan bm25TopKMany runs for its postings touch (the pinned
    // postings component — dirs are build-unique token names)
    val scan = graft.sources.MergeTable
      .read(spark, CompositeIndex.pinnedPath(spark, path, "postings"))
      .filter(col("term").isin("w0", "w7"))
    val scans = graft.util.Plans.executedNodes(scan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("In(term"),
      s"query terms must reach the parquet footer level, got: $pushed")
    // compaction still serves correct results
    val got = ranking(LexicalIndex.bm25TopK(spark, path, "doc_id", Seq("w0"), 10))
    val exp = ranking(Lexical.bm25TopK(docs, "doc_id", "text", Seq("w0"), 10))
    assert(got === exp)
  }

  test("maxDfFraction drops stopword terms before the postings scan") {
    // 'common' is in every doc (df = n); real terms discriminate
    val docs = (1L to 30L).map(i =>
      (i, s"common filler w$i ${if (i <= 3) "rare" else s"x$i"}"))
      .toDF("doc_id", "text")
    val path = freshPath()
    LexicalIndex.build(spark, path, docs, "doc_id", "text")
    // default 1.0: bit-identical to fresh even with the stopword present
    val full = ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("common", "rare"), 30))
    val fresh = ranking(Lexical.bm25TopK(
      docs, "doc_id", "text", Seq("common", "rare"), 30))
    assert(full === fresh)
    // guarded: 'common' (df=30=n) is pruned, ranking = rare-only scoring
    val guarded = ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("common", "rare"), 30, maxDfFraction = 0.5))
    val rareOnly = ranking(Lexical.bm25TopK(
      docs, "doc_id", "text", Seq("rare"), 30))
    assert(guarded === rareOnly,
      "df-pruned ranking must equal scoring without the stopword")
    assert(guarded.map(_._1).toSet === Set(1L, 2L, 3L))
    // all terms pruned: empty ranking, contract schema intact
    val empty = LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("common", "filler"), 30, maxDfFraction = 0.5)
    assert(empty.columns.toSeq === Seq("doc_id", "score") && empty.count() === 0)
  }

  test("hybridSearchIndexed equals hybridSearch on the same corpus") {
    import graft.kb.KnowledgeBase
    val kb = Seq(
      (1L, "alpha beta alpha beta alpha", Array(0f, 1f, 0f)),
      (2L, "completely different words here", Array(1f, 0f, 0f)),
      (3L, "alpha beta of joins", Array(0.9f, 0.4f, 0f)),
      (4L, "alpha padded with many entirely unrelated trailing words",
        Array(0.5f, 0.8f, 0f))
    ).toDF("id", "content", "embedding")
    val path = freshPath()
    LexicalIndex.build(spark, path, kb, "id", "content")
    val fresh = ranking(KnowledgeBase.hybridSearch(
      kb, "id", "content", "alpha beta", Array(1f, 0f, 0f), k = 3))
    val indexed = ranking(KnowledgeBase.hybridSearchIndexed(
      kb, "id", "alpha beta", Array(1f, 0f, 0f), path, k = 3))
    assert(indexed === fresh)
    assert(indexed.map(_._1) === Seq(3L, 1L, 4L)) // the LexicalSpec oracle order
  }

  test("hybridSearchIndexed exposes the maxDfFraction serving guard") {
    import graft.kb.KnowledgeBase
    // 'common' is in all 4 docs (df = n); the guard must drop it from
    // the lexical leg so the fused ranking equals querying without it.
    val kb = Seq(
      (1L, "common alpha beta alpha beta", Array(0f, 1f, 0f)),
      (2L, "common entirely different words", Array(1f, 0f, 0f)),
      (3L, "common alpha beta of joins", Array(0.9f, 0.4f, 0f)),
      (4L, "common alpha padded with unrelated trailing words",
        Array(0.5f, 0.8f, 0f))
    ).toDF("id", "content", "embedding")
    val path = freshPath()
    LexicalIndex.build(spark, path, kb, "id", "content")
    val qv = Array(1f, 0f, 0f)
    // cap = 0.9 × 4 = 3.6: prunes 'common' (df=4) but keeps 'alpha'
    // (df=3) and 'beta' (df=2)
    val guarded = ranking(KnowledgeBase.hybridSearchIndexed(
      kb, "id", "common alpha beta", qv, path, k = 3, maxDfFraction = 0.9))
    val withoutStopword = ranking(KnowledgeBase.hybridSearchIndexed(
      kb, "id", "alpha beta", qv, path, k = 3))
    assert(guarded === withoutStopword,
      "facade guard must prune the df-capped term from the lexical leg")
    // default 1.0 keeps the stopword (bit-exact oracle contract)
    val unguarded = ranking(KnowledgeBase.hybridSearchIndexed(
      kb, "id", "common alpha beta", qv, path, k = 3))
    assert(unguarded !== guarded,
      "with df=n the stopword must still score under the default 1.0")
  }

  test("Corpus facade builds and serves the index") {
    val docs = corpus(17, 30).toDF("doc_id", "text")
    val path = freshPath()
    val c = Corpus(docs, "doc_id", "text").buildLexicalIndex(path)
    val got = ranking(c.bm25FromIndex(path, Seq("w1", "w2"), 10))
    val exp = ranking(c.bm25(Seq("w1", "w2"), 10))
    assert(got === exp && got.nonEmpty)
  }

  test("empty corpus and missing index fail with friendly messages") {
    val path = freshPath()
    assert(!LexicalIndex.exists(spark, path))
    LexicalIndex.build(spark, path,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val e = intercept[IllegalArgumentException](
      LexicalIndex.bm25TopK(spark, path, "doc_id", Seq("term"), 5))
    assert(e.getMessage.contains("corpus is empty"))
    intercept[IllegalArgumentException](
      LexicalIndex.bm25TopK(spark, freshPath(), "doc_id", Seq("term"), 5))
  }

  test("a query racing an upsert reads ONE pinned composite version, never mixed statistics") {
    val path = freshPath()
    LexicalIndex.build(spark, path, Seq(
      (1L, "zebra quokka walrus"),
      (2L, "entirely different words here")).toDF("doc_id", "text"),
      "doc_id", "text")
    val before = ranking(LexicalIndex.bm25TopK(spark, path, "doc_id", Seq("zebra"), 5))
    assert(before.map(_._1) === Seq(1L))
    // simulate an upsert IN FLIGHT: doc 1's postings delete has hit the
    // component tip but the composite never flipped — a component-
    // latest reader would lose the doc (or score fresh df against
    // stale postings); a pinned reader must not notice
    graft.sources.MergeTable.deleteWhere(
      spark, CompositeIndex.pinnedPath(spark, path, "postings"), col("id") === 1L)
    assert(ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("zebra"), 5)) === before,
      "query read a mixed state: component-latest postings with pinned stats")
    // the PUBLISHED replacement (one composite commit) flips the view
    LexicalIndex.upsert(spark, path,
      Seq((1L, "replaced content now")).toDF("doc_id", "text"), "doc_id", "text")
    assert(ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("zebra"), 5)).isEmpty)
    assert(ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("replaced"), 5)).map(_._1) === Seq(1L))
    // df/N statistics converged with the replacement: indexed ranking
    // still bit-matches the fresh path over the new corpus state
    val corpusNow = Seq(
      (1L, "replaced content now"),
      (2L, "entirely different words here")).toDF("doc_id", "text")
    val q = Seq(Seq("replaced", "different"))
    assert(LexicalIndex.bm25TopKMany(spark, path, "doc_id", q, 5).map(ranking)
      === Lexical.bm25TopKMany(corpusNow, "doc_id", "text", q, 5).map(ranking))
  }

  test("a pre-composite legacy layout is refused by build and published by migrate") {
    val path = freshPath()
    // the layout the pre-composite code wrote: fixed component names,
    // each MergeTable-committed, no composite manifest
    val docs = Seq((1L, "zebra quokka walrus")).toDF("doc_id", "text")
    val base = docs.select(col("doc_id").as("id"),
      graft.functions.TextFunctions.wordsLower(col("text")).as("__ws"))
      .select(col("id"), size(col("__ws")).cast("double").as("dl"), col("__ws"))
    val postings = base
      .select(col("id"), col("dl"), explode(col("__ws")).as("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("id"), col("tf"), col("dl"))
    graft.sources.MergeTable.init(spark, s"$path/doclens",
      base.select(col("id"), col("dl")))
    graft.sources.MergeTable.init(spark, s"$path/postings", postings)
    graft.sources.MergeTable.init(spark, s"$path/termdf",
      postings.groupBy(col("term")).agg(count(lit(1)).as("df")))
    assert(!LexicalIndex.exists(spark, path))
    val e = intercept[IllegalArgumentException] {
      LexicalIndex.build(spark, path,
        Seq((2L, "other text")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e.getMessage.contains("migrate"), e.getMessage)
    LexicalIndex.migrate(spark, path)
    assert(LexicalIndex.exists(spark, path))
    assert(ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("zebra"), 5)).map(_._1) === Seq(1L))
    // maintenance works on the migrated index (fixed-name dirs pinned)
    LexicalIndex.upsert(spark, path,
      Seq((3L, "quokka again appears")).toDF("doc_id", "text"), "doc_id", "text")
    assert(ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("quokka"), 5)).map(_._1).toSet === Set(1L, 3L))
  }

  test("delete purges docs: rankings bit-match the fresh path over the survivors") {
    val docs = corpus(19, 40).toDF("doc_id", "text")
    val path = freshPath()
    LexicalIndex.build(spark, path, docs, "doc_id", "text")
    val dead = Seq(3L, 7L, 11L, 20L)
    LexicalIndex.delete(spark, path, dead)
    val survivors = docs.filter(!col("doc_id").isin(dead: _*))
    val queries = Seq(Seq("w0", "w3", "w11"), Seq("w5", "w9"))
    // df, N, avgdl and postings must ALL reflect the purge — bit-equal
    // to a fresh index over the surviving corpus
    assert(LexicalIndex.bm25TopKMany(spark, path, "doc_id", queries, 40).map(ranking)
      === Lexical.bm25TopKMany(survivors, "doc_id", "text", queries, 40).map(ranking))
    // deleting the same ids again is idempotent — the at-least-once
    // replay shape
    LexicalIndex.delete(spark, path, dead)
    assert(LexicalIndex.bm25TopKMany(spark, path, "doc_id", queries, 40).map(ranking)
      === Lexical.bm25TopKMany(survivors, "doc_id", "text", queries, 40).map(ranking))
  }

  test("upsert and delete past the literal budget probe the pinned postings with one membership expression") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    /** The analyzed plans of the df probes `body` ran: the
      * aggregates of the dying postings' counts (`__old`). Analyzed,
      * not optimized: the optimizer turns any long `In` list into an
      * `InSet`, after the analyzer has walked every literal. */
    def probes(body: => Unit): Seq[LogicalPlan] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
      val l = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.analyzed)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try { body; org.apache.spark.JobCountBus.drain(spark.sparkContext) }
      finally spark.listenerManager.unregister(l)
      import scala.jdk.CollectionConverters._
      plans.asScala.toSeq.filter(_.exists {
        case a: Aggregate => a.aggregateExpressions.exists(_.name == "__old")
        case _ => false
      })
    }
    def oneMembership(what: String, ps: Seq[LogicalPlan]): Unit = {
      assert(ps.nonEmpty, s"$what: no df probe ran")
      ps.foreach { p =>
        val es = p.flatMap(_.expressions).flatMap(_.collect { case e => e })
        assert(es.exists(_.isInstanceOf[InSet]),
          s"$what: the probe plans no held membership test")
        assert(!es.exists(_.isInstanceOf[In]), s"$what: the probe plans a literal list")
      }
    }
    val docs = corpus(23, 40).toDF("doc_id", "text")
    val path = freshPath()
    LexicalIndex.build(spark, path, docs, "doc_id", "text")
    // 1,200 docs: 20 replace indexed ones, the rest are new
    val batch = corpus(29, 1220).drop(20).toDF("doc_id", "text")
    oneMembership("upsert of 1,200 ids", probes(
      LexicalIndex.upsert(spark, path, batch, "doc_id", "text")))
    val live = docs.filter(col("doc_id") <= 20L).unionByName(batch)
    val dead = (1L to 5001L).filter(_ % 3 == 0)
    val ids = dead ++ (100001L to (100001L + 5001 - dead.size - 1))
    assert(ids.size === 5001)
    oneMembership("delete of 5,001 ids", probes(LexicalIndex.delete(spark, path, ids)))
    val survivors = live.filter(!col("doc_id").isin(dead: _*))
    val queries = Seq(Seq("w0", "w3", "w11"), Seq("w5", "w9"))
    assert(LexicalIndex.bm25TopKMany(spark, path, "doc_id", queries, 40).map(ranking)
      === Lexical.bm25TopKMany(survivors, "doc_id", "text", queries, 40).map(ranking))
  }

  test("delete drops dead dictionary terms and leaves absent ids as unpublished no-ops") {
    val path = freshPath()
    LexicalIndex.build(spark, path, Seq(
      (1L, "unicorn zebra"),
      (2L, "zebra walrus")).toDF("doc_id", "text"), "doc_id", "text")
    LexicalIndex.delete(spark, path, Seq(1L))
    // 'unicorn' lived only in doc 1 → its dictionary row must be GONE
    // (a 100 TB dictionary must not accumulate dead terms), while
    // 'zebra' survives with df decremented to 1
    import graft.sources.MergeTable
    val dict = MergeTable.read(spark, CompositeIndex.pinnedPath(spark, path, "termdf"))
      .as[(String, Long)].collect().toMap
    assert(!dict.contains("unicorn"), s"dead term kept: $dict")
    assert(dict.get("zebra").contains(1L), s"df not decremented: $dict")
    // absent ids: nothing changes, nothing publishes (the composite
    // log must not grow on empty-effect purges)
    val before = ranking(LexicalIndex.bm25TopK(spark, path, "doc_id", Seq("zebra"), 5))
    val vBefore = LexicalIndex.pinVersion(spark, path)
    LexicalIndex.delete(spark, path, Seq(999L))
    assert(LexicalIndex.pinVersion(spark, path) === vBefore,
      "empty-effect delete published a no-op composite version")
    assert(ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("zebra"), 5)) === before)
  }

  test("vacuum reclaims orphan token dirs; the pinned index keeps serving") {
    val path = freshPath()
    LexicalIndex.build(spark, path,
      Seq((1L, "zebra quokka walrus")).toDF("doc_id", "text"), "doc_id", "text")
    graft.sources.MergeTable.init(spark, s"$path/postings-0ddba11c0de5",
      Seq(("x", 9L, 1L, 3.0)).toDF("term", "id", "tf", "dl"))
    LexicalIndex.upsert(spark, path,
      Seq((2L, "fresh words arrive")).toDF("doc_id", "text"), "doc_id", "text")
    assert(LexicalIndex.vacuum(spark, path, retainMillis = 0L) === 1)
    assert(ranking(LexicalIndex.bm25TopK(
      spark, path, "doc_id", Seq("fresh"), 5)).map(_._1) === Seq(2L))
  }

  test("corpus stats are memoized per doclens version and equal a fresh aggregate") {
    import graft.sources.MergeTable
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = freshPath()
    LexicalIndex.build(spark, path, corpus(23, 40).toDF("doc_id", "text"), "doc_id", "text")
    def fresh(): (Long, Double) = {
      val r = MergeTable.read(spark, CompositeIndex.pinnedPath(spark, path, "doclens"))
        .agg(count(lit(1)), avg(col("dl"))).head()
      (r.getLong(0), r.getDouble(1))
    }
    // does any action of `call` scan the pinned doclens component?
    def scansDoclens(call: => Any): Boolean = {
      val dir = new org.apache.hadoop.fs.Path(CompositeIndex.pinnedPath(spark, path, "doclens")).getName
      GeneratedCode.plans(spark)(call).flatMap(graft.util.Plans.flatten).exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains(dir))
        case _ => false
      }
    }
    def query() = LexicalIndex.bm25TopK(spark, path, "doc_id", Seq("w1", "w2"), 5)
    // build seeds the memo and compact leaves doclens alone: their first
    // query is already a hit; upsert and delete publish a new doclens
    // version, which the first query scans once
    def check(step: String, firstScans: Boolean): Unit = {
      assert(scansDoclens(query()) === firstScans, s"$step: first query")
      assert(!scansDoclens(query()), s"$step: second query on the same pin scanned doclens")
      val (n, avgdl) = fresh()
      val used = LexicalIndex.corpusStats(spark, path)
      assert(used._1 === n && used._2.equals(avgdl), s"$step: memo $used, fresh ($n, $avgdl)")
    }
    check("build", firstScans = false)
    LexicalIndex.upsert(spark, path,
      Seq((3L, "a much longer replacement text with many more words than before"),
        (41L, "new doc")).toDF("doc_id", "text"), "doc_id", "text")
    check("upsert", firstScans = true)
    LexicalIndex.delete(spark, path, Seq(5L, 6L, 7L))
    check("delete", firstScans = true)
    LexicalIndex.compact(spark, path, numFiles = 2)
    check("compact", firstScans = false)
    // bounded: past the cap the least recently used versions go
    (1 to LexicalIndex.StatsMemoCap + 10).foreach(i =>
      LexicalIndex.rememberStats((s"file:/nowhere/doclens-$i", 1L), (1L, 1.0)))
    assert(LexicalIndex.statsMemoSize <= LexicalIndex.StatsMemoCap)
  }
}
