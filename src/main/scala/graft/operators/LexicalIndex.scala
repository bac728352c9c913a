package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Bm25, TextFunctions}
import graft.sources.{CompositeIndex, KeySet, MergeTable}

/** Persisted inverted index for [[Lexical]] — the serving path.
  *
  * [[Lexical.bm25TopKMany]] tokenizes the corpus per call chain: right
  * for one-shot analytics, wrong for a serving deployment where the
  * hybrid-search analog of the reference's per-chat-turn RPC
  * (`backend/services/search_service.py:259-270`,
  * `Supabase/knowledge_base-RAG.sql:43-67`) would re-pay the dominant
  * tokenization scan on every session. This index is built ONCE and
  * queried many times:
  *
  *  - `path/postings` — (term, id, tf, dl), one row per (doc, distinct
  *    term), keyed (id, term). `dl` is denormalized into the posting so
  *    scoring never joins a corpus-sized doc-length table. TERM-MAJOR:
  *    a query reads only its terms' postings — `term IN (...)` is
  *    pushed into the parquet scan, and after [[compact]] (files
  *    range-sorted on term) most files are pruned at the footer level.
  *    Scan cost is proportional to the matched postings, not the
  *    corpus: the inverted-index property, in parquet.
  *  - `path/doclens` — (id, dl), keyed id. One narrow row per doc; the
  *    global N/avgdl statistics aggregate from it in one cheap scan,
  *    once per committed doclens version ([[corpusStats]]) — postings
  *    alone cannot provide them: docs matching no indexed term still
  *    count toward N and avgdl.
  *  - `path/termdf` — (term, df), keyed term: the DICTIONARY. Document
  *    frequencies are read here (≤ |query terms| rows, pushed filter)
  *    BEFORE any postings scan, which both removes the per-call df
  *    aggregation and makes high-df terms visible up front — the
  *    `maxDfFraction` guard can drop a stopword from the scan filter
  *    instead of materializing its corpus-sized posting list.
  *
  * All three components are [[MergeTable]]s, so the index inherits
  * versioned atomic commits and incremental maintenance: [[upsert]]
  * replaces a document batch (delete stale postings, merge new ones)
  * without rebuilding, rewriting only the parquet files its keys hit.
  * CROSS-COMPONENT consistency comes from the shared
  * [[CompositeIndex]] manifest layer (the [[DedupIndex]] discipline):
  * every write advances components first (individually atomic,
  * invisible) and publishes them with ONE composite commit; every
  * query resolves one [[CompositeIndex.Pin]] and reads postings,
  * doclens AND termdf at the pinned versions. Without it, a query
  * racing an upsert could score with fresh df against stale postings —
  * silently skewed BM25, the worst kind of wrong — and a crash between
  * the upsert's stale-postings delete and its merges would leave
  * readers a visible state with documents' postings missing; under the
  * composite pin both cases read the whole old index until the single
  * publish, and the replayed batch converges (values are computed from
  * the pinned state, merges replace by key).
  *
  * Scoring reproduces [[Lexical.bm25TopKMany]] EXACTLY (spec-gated):
  * same tokenization, same df/N/avgdl statistics (integer-valued sums,
  * so aggregation order cannot flip bits), the same scoring kernel with
  * per-term tf looked up from a per-doc map — indexed and fresh
  * rankings are bit-identical on the same corpus.
  */
object LexicalIndex {

  private val CI = new CompositeIndex("lexical index",
    Seq("postings", "doclens", "termdf"))

  private[graft] def pinVersion(spark: SparkSession, path: String): Long =
    CI.pin(spark, path).version
  /** The N/avgdl a query on the current pin scores with. */
  private[graft] def corpusStats(spark: SparkSession, path: String): (Long, Double) =
    corpusStats(spark, path, CI.pin(spark, path))

  /** One tokenizing pass over `docs` → (postings, doclens) frames.
    * Shared by build and upsert; the returned frames are two reads of
    * one checkpointed narrow frame, freed by the caller via the
    * returned handle. `stats`, when given, observes the batch's row
    * count `n` and `sum(dl)` `dl` during the checkpoint's own job. */
  private def tokenize(
      docs: DataFrame, idCol: String, textCol: String,
      stats: Option[Observation] = None): (DataFrame, DataFrame, DataFrame) = {
    val words = docs.select(col(idCol).as("id"),
        TextFunctions.wordsLower(col(textCol)).as("__ws"))
      .select(col("id"), size(col("__ws")).cast("double").as("dl"), col("__ws"))
    val base = stats.fold(words)(o =>
        words.observe(o, count(lit(1)).as("n"), sum(col("dl")).as("dl")))
      .localCheckpoint(true)
    val doclens = base.select(col("id"), col("dl"))
    val postings = base
      .select(col("id"), col("dl"), explode(col("__ws")).as("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("id"), col("tf"), col("dl"))
    (postings, doclens, base)
  }

  /** Build the index at `path` from scratch (fails if one exists —
    * the CREATE INDEX semantics; use [[upsert]] for maintenance).
    * `docs` must be unique on `idCol`. Reader-atomic and
    * race-hardened via [[CompositeIndex.build]]: components stage in
    * build-unique token dirs, invisible until the single composite v1
    * commit publishes all three; a pre-composite legacy layout is
    * refused — run [[migrate]]. */
  def build(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    // fail fast (index exists / refused legacy layout) BEFORE the
    // corpus-scale tokenization scan; CI.build re-checks
    CI.requireBuildable(spark, path)
    val stats = Observation()
    val (postings, doclens, handle) = tokenize(docs, idCol, textCol, Some(stats))
    try {
      val pin = CI.build(spark, path) { dirs =>
        // term blooms: pre-[[compact]] the postings layout is id-major
        // (term min/max spans the vocabulary in every file), so the
        // per-term Eq probes of bm25TopK skip nothing without them
        val bloom = Seq("term")
        val pPath = CI.componentPath(path, dirs("postings"))
        // doclens and postings are independent component writes over the
        // one checkpointed tokenized frame: overlap them (guide §2.6)
        val (dv, pv) = graft.util.Par.both(
          MergeTable.init(spark,
            CI.componentPath(path, dirs("doclens")), doclens),
          MergeTable.init(spark, pPath, postings, bloomKeys = bloom))
        // the dictionary derives from the postings component JUST
        // WRITTEN — one column-pruned read of `term` — instead of
        // re-running the corpus-wide explode + (term,id,dl)
        // aggregation a second time (guide §1.2: same rows, one fewer
        // full pass + shuffle over the tokenized corpus)
        val tv = MergeTable.init(spark,
          CI.componentPath(path, dirs("termdf")),
          MergeTable.read(spark, pPath).select(col("term"))
            .groupBy(col("term")).agg(count(lit(1)).as("df")),
          bloomKeys = bloom)
        Map("postings" -> pv.version, "doclens" -> dv.version,
          "termdf" -> tv.version)
      }
      // seed the stats memo from the tokenizing pass (no job of its
      // own): the first query on the new index then scans no doclens.
      // avg(dl) is sum(dl) / n, and the integer-valued sum is exact, so
      // the seed equals the doclens aggregate bit for bit
      val n = stats.get("n").asInstanceOf[Long]
      val dlSum = stats.get("dl").asInstanceOf[Double]
      rememberStats(statsKey(spark, path, pin("doclens")), (n, dlSum / n))
    } finally graft.util.Checkpoints.free(handle)
  }

  def exists(spark: SparkSession, path: String): Boolean =
    CI.exists(spark, path)

  /** Publish a PRE-COMPOSITE legacy index (components at the fixed
    * `postings`/`doclens`/`termdf` dirs, no composite manifest — the
    * layout the pre-composite code wrote) under the composite
    * contract; [[build]] refuses such a layout rather than destroy
    * it. */
  def migrate(spark: SparkSession, path: String): Unit =
    CI.migrate(spark, path)

  /** Maintenance sweep — [[CompositeIndex.vacuum]]: pinned-version-
    * aware component vacuums, orphan token-dir reclaim, composite
    * manifest temp sweep. Returns the number of orphan dirs removed. */
  def vacuum(
      spark: SparkSession, path: String,
      retainMillis: Long = 15L * 60L * 1000L): Int =
    CI.vacuum(spark, path, retainMillis)

  /** Incrementally replace a document batch: every doc in `docs`
    * (matched by id) gets its stale postings deleted and its fresh
    * postings and length merged in — touched parquet files only, the
    * MergeTable discipline. New ids insert. The batch's ids are
    * collected driver-side for the stale-postings delete predicate, so
    * keep batches bounded (ingest-batch sized, not corpus-sized —
    * rebuild via [[build]] for corpus-scale changes).
    *
    * Atomic for readers: the component writes commit first
    * (unpublished), then ONE composite commit flips every query from
    * the whole old index to the whole new one. The df delta and the
    * dictionary values are computed from the PINNED state, not the
    * component tips — under a crash-and-replay the tips may hold the
    * crashed attempt's half-applied writes, and since the merges
    * REPLACE by key with values derived from the pin, the replay
    * converges to the same published state (at-least-once contract). */
  def upsert(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = CI.write(spark, path) { p0 =>
    val (postings0, doclens, handle) = tokenize(docs, idCol, textCol)
    var postings: Option[DataFrame] = None
    try {
      val ids = doclens.select(col("id")).collect().map(_.get(0))
      if (ids.isEmpty) Map.empty
      else {
        // two consumers below (the df-delta aggregation and the
        // postings merge): one checkpoint pins the batch-sized
        // explode+groupBy once — taken only past the empty-batch gate,
        // so a no-op batch evaluates nothing (review catch)
        postings = Some(postings0.localCheckpoint(true))
        val idSeq = ids.toSeq
        // df delta against the PINNED postings: each affected term's df
        // moves by (new batch postings) - (old batch postings). The
        // old-side probe reads only (term, id) of the id-matched rows —
        // one membership test however many ids —; the touched term set
        // is bounded by the batch's vocabulary.
        val oldCounts = KeySet.members(CI.readAt(spark, path, p0, "postings"), "id", idSeq)
          .groupBy(col("term")).agg(count(lit(1)).as("__old"))
        val newCounts = postings.get.groupBy(col("term")).agg(count(lit(1)).as("__new"))
        val delta = newCounts.join(oldCounts, Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("__new"), lit(0L)) - coalesce(col("__old"), lit(0L)))
              .as("__delta"))
          .filter(col("__delta") =!= 0)
          .localCheckpoint(true) // read twice: the affected terms and dfUpdates
        try {
          val affected = delta.select(col("term"))
          val current = CI.readAt(spark, path, p0, "termdf")
            .join(affected, Seq("term"), "left_semi")
          val dfUpdates = delta.join(current, Seq("term"), "left_outer")
            .select(col("term"),
              (coalesce(col("df"), lit(0L)) + col("__delta")).as("df"))
          // the three components are independent tables: their merges
          // overlap from driver threads (guide §2.6). The postings merge
          // drops every posting of the batch's ids in the same version:
          // stale postings of REPLACED docs — a term the new text no
          // longer contains would survive a bare merge (its (id, term)
          // key is absent from the update frame) and keep matching.
          val (pv, dv, tv) = graft.util.Par.three(
            CI.writeComponent(spark, path, p0, "postings", postings,
              Seq("id", "term"), idSeq),
            CI.writeComponent(spark, path, p0, "doclens", Some(doclens), Seq("id"), Nil),
            CI.writeComponent(spark, path, p0, "termdf", Some(dfUpdates), Seq("term"), Nil))
          Map("postings" -> pv, "doclens" -> dv, "termdf" -> tv)
        } finally graft.util.Checkpoints.free(delta)
      }
    } finally {
      postings.foreach(graft.util.Checkpoints.free)
      graft.util.Checkpoints.free(handle)
    }
  }

  /** Remove documents from the index — the purge path. [[upsert]] can
    * replace but never remove: a deleted document's postings, length
    * and df contributions would otherwise serve (and skew every
    * ranking's statistics) forever. For each id, the postings and
    * doclens rows are deleted and each affected term's df decrements
    * by the document's postings; dictionary rows whose df reaches 0
    * are deleted outright — at 100 TB the term dictionary must not
    * accumulate dead terms. Ids absent from the index are no-ops. The
    * id list is driver-side (bounded batches — the [[upsert]]
    * contract).
    *
    * Atomic and replay-convergent like [[upsert]]: the decrements
    * compute from the PINNED state, every component write stays
    * unpublished until the single composite commit, and the
    * replace-by-key / delete-by-key writes are idempotent. */
  def delete(spark: SparkSession, path: String, ids: Seq[Any]): Unit =
    if (ids.nonEmpty) CI.write(spark, path) { p0 =>
      // the dying docs' per-term posting counts, from the PIN — read
      // again after the deletes start, so it must not be a live view;
      // one membership test however many ids
      val oldCounts = KeySet.members(CI.readAt(spark, path, p0, "postings"), "id", ids)
        .groupBy(col("term")).agg(count(lit(1)).as("__old"))
        .localCheckpoint(true)
      try {
        val dfNew = CI.readAt(spark, path, p0, "termdf")
          .join(oldCounts, Seq("term"))
          .select(col("term"), (col("df") - col("__old")).as("df"))
          .localCheckpoint(true)
        try {
          // three independent components (guide §2.6): the two id-purges
          // and the dictionary write overlap; the dictionary's decrements
          // and its dead-term deletes are one merge.
          //
          // Purge mechanism deliberately stays deleteWhere (the eager
          // per-file rewrite), NOT deleteWhereLite (r17 A/B): the
          // tombstone path's fixed machinery (discovery checkpoint +
          // delta/tombstone probes + scope discovery per component)
          // measured MORE jobs (40 → 64) and a slower wall at sf0.1 than
          // the rewrite it defers, and this index's serving reads then
          // pay the suppression anti-join until the next rewrite folds
          // it anyway. The crossover favors tombstones only on tables
          // orders of magnitude past the bench corpus (MergeLiteDemo:
          // 17.7x at 40M rows) — a deployment there calls
          // MergeTable.deleteWhereLite on the components directly (the
          // q146-pinned path); the default keeps reads bare.
          val (pv, dv, tv) = graft.util.Par.three(
            CI.writeComponent(spark, path, p0, "postings", None, Nil, ids),
            CI.writeComponent(spark, path, p0, "doclens", None, Nil, ids),
            // the dictionary only moves when some posting actually died
            if (dfNew.isEmpty) p0("termdf").version
            else {
              // dead dictionary terms: bounded by the dying docs' vocabulary
              val dead = dfNew.filter(col("df") <= 0).select(col("term"))
                .collect().map(_.getString(0)).toSeq
              CI.writeComponent(spark, path, p0, "termdf",
                Some(dfNew.filter(col("df") > 0)), Seq("term"), dead, retractCol = "term")
            })
          // all-absent ids leave every component at its pin, and the
          // write publishes nothing
          Map("postings" -> pv, "doclens" -> dv, "termdf" -> tv)
        } finally graft.util.Checkpoints.free(dfNew)
      } finally graft.util.Checkpoints.free(oldCounts)
    }

  /** Range-sort the postings files on `term` so query-term scans prune
    * non-matching files from the parquet footers alone — the analog of
    * posting-list locality in a classical inverted index. Run after
    * bulk loads. Rewrites the PINNED postings snapshot
    * ([[CompositeIndex.compact]]) and publishes with one composite
    * commit. */
  def compact(spark: SparkSession, path: String, numFiles: Int): Unit =
    CI.compact(spark, path, "postings", "term", numFiles)

  /** [[Lexical.bm25TopK]] served from the index. */
  def bm25TopK(
      spark: SparkSession, path: String, idCol: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Double = 1.0): DataFrame =
    bm25TopKMany(spark, path, idCol, Seq(terms), k, k1, b, maxDfFraction).head

  /** [[Lexical.bm25TopKMany]] served from the index: same statistics,
    * same fold, same output contract — but the corpus-sized work is
    * ONE pushed-down scan of the query terms' postings instead of a
    * tokenizing pass over every document.
    *
    * Plan shape per call ([[rankings]]):
    *  1. N/avgdl of the pinned doclens version from [[corpusStats]]'s
    *     memo (one narrow doclens scan the first time a version is
    *     queried, none after); df per query term from the termdf
    *     DICTIONARY (≤ |terms| rows, pushed filter) — read BEFORE any
    *     postings touch;
    *  2. per query: a postings scan with `term IN (the query's scored
    *     terms)` pushed to parquet (footer-pruned after [[compact]]),
    *     bounded by those terms' document frequencies; per-doc
    *     (term → tf) maps assemble from the matched postings (one
    *     bounded shuffle on id), then the fresh path's
    *     [[graft.functions.Bm25Score]] kernel scores them and
    *     TakeOrderedAndProject keeps the top k. The kernel holds terms,
    *     idfs and avgdl as referenced objects, so every query of the
    *     same plan shape reuses one compiled scoring stage.
    * EAGER like the fresh path, but each ranking is collected into a
    * driver-local frame ([[collected]]) rather than checkpointed: a
    * served ranking goes to a client, and collecting a local frame
    * launches no further job. Each query costs its ranking's own
    * action, on top of one dictionary lookup per call (a first query
    * on a new index version adds the doclens scan).
    *
    * `maxDfFraction` is the serving-path stopword guard: a term whose
    * df exceeds this fraction of the corpus is dropped BEFORE the
    * postings scan — one careless "the" in a query would otherwise
    * materialize a corpus-sized posting list for a term whose idf
    * (ln(1 + (N-df+0.5)/(df+0.5)) ≈ 0 at df ≈ N) contributes almost
    * nothing to the ranking. The default 1.0 keeps every term and
    * stays bit-identical to [[Lexical.bm25TopKMany]] (the q103/q105
    * oracle contract); serving deployments typically run 0.3-0.5.
    * A query whose every term is dropped returns an empty frame. */
  def bm25TopKMany(
      spark: SparkSession, path: String, idCol: String,
      queries: Seq[Seq[String]], k: Int, k1: Double = 1.2,
      b: Double = 0.75, maxDfFraction: Double = 1.0): Seq[DataFrame] =
    rankings(spark, path, idCol, queries, k, k1, b, maxDfFraction).map(collected)

  /** A top-k ranking as a driver-local frame: one action collects its
    * (at most k) rows, after which the frame references no index file
    * and no checkpoint, and collecting it launches no Spark job. */
  private def collected(ranking: DataFrame): DataFrame =
    ranking.sparkSession.createDataFrame(
      java.util.Arrays.asList(ranking.collect(): _*), ranking.schema)

  /** One query's ranking as a LAZY plan over the index pinned at one
    * composite version — the lexical leg of
    * [[graft.kb.KnowledgeBase.hybridSearchIndexed]], whose fused
    * collect then runs it in the same action as the vector leg. Act on
    * it before the index's vacuum retention runs out: a vacuum can
    * reclaim the files of a superseded pin. */
  private[graft] def bm25Ranking(
      spark: SparkSession, path: String, idCol: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Double = 1.0): DataFrame =
    rankings(spark, path, idCol, Seq(terms), k, k1, b, maxDfFraction).head

  /** The rankings of `queries`, as lazy plans pinned at one composite
    * version. */
  private def rankings(
      spark: SparkSession, path: String, idCol: String,
      queries: Seq[Seq[String]], k: Int, k1: Double,
      b: Double, maxDfFraction: Double): List[DataFrame] = {
    require(queries.nonEmpty && queries.forall(_.nonEmpty),
      "every query needs at least one term")
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"maxDfFraction must be in (0, 1], got $maxDfFraction")
    val lowered = queries.toList.map(_.map(_.toLowerCase(java.util.Locale.ROOT)).distinct)
    val allTerms = lowered.flatten.distinct
    // ONE pin for the whole call: N/avgdl, df and postings all read at
    // the same composite version, so an upsert landing mid-query can't
    // serve fresh statistics against stale postings (or vice versa)
    val p0 = CI.pin(spark, path)
    val (n, avgdl) = corpusStats(spark, path, p0)
    require(n > 0, "corpus is empty")
    // dictionary lookup FIRST: ≤ |terms| rows, so the stopword guard
    // can drop a ubiquitous term before its posting list is ever read
    val dfCounts = CI.readAt(spark, path, p0, "termdf")
      .filter(col("term").isin(allTerms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfCap = maxDfFraction * n
    val scoredTerms = allTerms.filter(t => dfCounts.getOrElse(t, 0L) <= dfCap)
    val loweredKept = lowered.map(_.filter(scoredTerms.contains))
    // the ONLY touch of the postings table: each ranking scans its own
    // scored terms' postings (predicate pushed into the scan)
    val postings = CI.readAt(spark, path, p0, "postings")
    loweredKept.map { termsLower =>
      if (termsLower.isEmpty) {
        // every term of this query was df-pruned: an empty ranking,
        // with the contract schema (idCol typed like the corpus id)
        postings.limit(0)
          .select(col("id").as(idCol), lit(0.0).as("score"))
      } else {
        val perDoc = postings
          .filter(col("term").isin(termsLower: _*))
          .groupBy(col("id"), col("dl"))
          .agg(map_from_entries(collect_list(struct(col("term"), col("tf"))))
            .as("__tfs"))
          // true of every group (each holds a query term), but a Filter
          // here keeps Catalyst from folding the scoring projection into
          // ObjectHashAggregate's result, which whole-stage codegen skips
          .filter(size(col("__tfs")) > 0)
        val idfs = termsLower.map(t => Bm25.idf(n, dfCounts.getOrElse(t, 0L)))
        Lexical.topKByScore(perDoc,
          Bm25.score(col("__tfs"), col("dl"), termsLower, idfs, avgdl, k1, b), idCol, k)
      }
    }
  }

  /** N and avgdl of the index at `p0`, memoized per doclens component
    * version. The key is (qualified component dir, MergeTable version):
    * a committed version never changes and token component dirs are
    * build-unique, so a hit is exact. The memo holds the doclens
    * aggregate's own result, or [[build]]'s seed from the tokenizing
    * pass; `dl` is integer-valued, so sums are exact in any order and
    * either is bit-identical to a fresh scan. A pre-token layout's
    * fixed `doclens` dir is not build-unique (a deleted and rebuilt
    * legacy index reuses it), so it is not memoized. At most
    * [[StatsMemoCap]] versions are kept, least recently used evicted
    * first. */
  private def corpusStats(
      spark: SparkSession, path: String, p0: CompositeIndex.Pin): (Long, Double) = {
    val ref = p0("doclens")
    def scan() = {
      val r = CI.readAt(spark, path, p0, "doclens")
        .agg(count(lit(1)), avg(col("dl"))).head()
      (r.getLong(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    }
    if (ref.dir == "doclens") scan()
    else {
      val key = statsKey(spark, path, ref)
      statsMemo.synchronized(Option(statsMemo.get(key))).getOrElse {
        val stats = scan()
        rememberStats(key, stats)
        stats
      }
    }
  }

  private[graft] val StatsMemoCap = 64

  private val statsMemo =
    new java.util.LinkedHashMap[(String, Long), (Long, Double)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (Long, Double)]): Boolean =
        size() > StatsMemoCap
    }

  private[graft] def rememberStats(key: (String, Long), stats: (Long, Double)): Unit =
    statsMemo.synchronized { statsMemo.put(key, stats); () }

  private[graft] def statsMemoSize: Int = statsMemo.synchronized(statsMemo.size())

  private def statsKey(
      spark: SparkSession, path: String, ref: CompositeIndex.Ref): (String, Long) = {
    val dir = new org.apache.hadoop.fs.Path(CI.componentPath(path, ref.dir))
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dir).toString,
      ref.version)
  }
}
