package graft.kb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineDistance
import graft.operators.Dedup

/** The reference's knowledge-base surface (SURVEY §2.3/§2.8), generic
  * over any DataFrame with (content, embedding, source_type, ...)
  * columns.
  *
  *  - matchDocuments    — `Supabase/knowledge_base-RAG.sql:43-67`
  *  - matchDocumentsByType — `:70-94`
  *  - upsertDocuments   — `backend/services/vector_service.py:86-159`
  *  - cleanupExpired    — `Supabase/knowledge_base_Maintenance.sql:2-14`
  *  - incrementAccess   — `:16-22`
  */
object KnowledgeBase {

  /** pgvector `<=>` returns cosine *distance*; the reference aliases it
    * `similarity` and sorts ascending — reproduced exactly, not "fixed"
    * (SURVEY §7 hard-parts). Null-tolerant source filter per
    * `knowledge_base-RAG.sql:64`.
    *
    * `tieBreak` optionally names a column to order equal distances by:
    * a TakeOrderedAndProject over tied distances otherwise picks a
    * partition-order-dependent subset at the `matchCount` boundary, so
    * any caller that needs run-to-run (or cross-engine) reproducible
    * pool MEMBERSHIP — [[hybridSearch]], the q102 oracle — pins ties on
    * the document id. Default None keeps the reference's exact ORDER BY
    * (distance only); the IVF prune rule reads the ranked head key, so
    * the secondary key doesn't affect planner-transparent pruning. */
  def matchDocuments(
      kb: DataFrame, queryEmbedding: Array[Float], matchCount: Int,
      filterSource: Option[String] = None,
      vecCol: String = "embedding",
      tieBreak: Option[String] = None): DataFrame = {
    val base = filterSource match {
      case Some(src) => kb.filter(col("source_type") === src)
      case None      => kb
    }
    val ranked = base
      .withColumn("similarity", cosineDistance(col(vecCol), typedlit(queryEmbedding)))
    // NULLS LAST, matching the Postgres ORDER BY ASC default the
    // reference runs: cosineDistance is null for null/zero-norm/mis-
    // dimensioned embeddings, and Spark's asc default (NULLS FIRST)
    // would rank every such garbage row above every real match
    ranked
      .orderBy(asc_nulls_last("similarity") +: tieBreak.map(asc).toSeq: _*)
      .limit(matchCount)
  }

  /** Mandatory-type variant (`knowledge_base-RAG.sql:70-94`). */
  def matchDocumentsByType(
      kb: DataFrame, queryEmbedding: Array[Float], documentType: String,
      matchCount: Int, typeCol: String = "source_type"): DataFrame =
    matchDocuments(kb.filter(col(typeCol) === documentType),
      queryEmbedding, matchCount)

  /** Content-hash upsert (`on_conflict=content_hash`): incoming docs win
    * over existing rows with the same sha256(content).
    *
    * NULL hashes never conflict — SQL unique/ON CONFLICT semantics
    * (NULL is distinct from NULL), so a null-content row can neither
    * replace nor be replaced; it passes through. Without the split,
    * upsertByKey's window would group every null-hash row into one
    * partition and silently keep a single survivor. */
  def upsertDocuments(
      existing: DataFrame, incoming: DataFrame,
      contentCol: String = "content"): DataFrame = {
    val in = incoming.withColumn("content_hash", sha2(col(contentCol), 256))
    val ex =
      if (existing.columns.contains("content_hash"))
        existing.withColumn("content_hash",
          coalesce(col("content_hash"), sha2(col(contentCol), 256)))
      else existing.withColumn("content_hash", sha2(col(contentCol), 256))
    Dedup.upsertByKey(ex.filter(col("content_hash").isNotNull),
        in.filter(col("content_hash").isNotNull), "content_hash")
      .unionByName(ex.filter(col("content_hash").isNull))
      .unionByName(in.filter(col("content_hash").isNull))
  }

  /** The storage-backed form of [[upsertDocuments]]: commit the batch
    * into a [[graft.sources.MergeTable]] at `path`, rewriting only the
    * parquet files whose content_hash ranges are hit — the continuous
    * `ON CONFLICT (content_hash) DO UPDATE` ingest loop
    * (`vector_service.py:119-125`) without a full-table rewrite per
    * batch. Initializes the table on first use. Incoming batches must
    * be unique per content hash (duplicate contents in one batch: pick
    * a winner upstream, e.g. Dedup.firstWins). */
  def upsertDocumentsToTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      incoming: DataFrame, contentCol: String = "content"): Unit = {
    import graft.sources.MergeTable
    val in = incoming.withColumn("content_hash", sha2(col(contentCol), 256))
    val exists =
      try { MergeTable.snapshot(spark, path); true }
      catch { case _: IllegalArgumentException => false }
    if (!exists) {
      // exists→init is a TOCTOU race: two concurrent first writers can
      // both see "no table". The init loser (require, or the atomic
      // manifest commit) falls back to a merge against the winner's
      // table instead of killing the job.
      // bloom filter on the unique key: min/max stats are useless on
      // the uniform sha256 domain (every file's range covers every
      // probe), so the content-hash point lookup — the reference's
      // UNIQUE btree — needs the bloom to skip row groups
      try {
        MergeTable.init(spark, path, in, bloomKeys = Seq("content_hash")); ()
      }
      catch {
        case _: IllegalArgumentException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          MergeTable.merge(spark, path, in, Seq("content_hash")); ()
      }
    } else { MergeTable.merge(spark, path, in, Seq("content_hash")); () }
  }

  /** The unique-key point lookup over the MergeTable-backed KB — the
    * reference's `SELECT ... WHERE content_hash = $1` against its
    * UNIQUE btree (`Supabase/knowledge_base-RAG.sql:8,35-40`), and the
    * dedup-admission question "which of these contents are already
    * ingested?". `hashes` pushes into the parquet scan as ONE `In`
    * predicate, which the reader evaluates against the table's
    * content_hash BLOOM filters (written by
    * [[upsertDocumentsToTable]]'s init) — row-group-bounded IO from
    * the first committed version, no compact pass needed
    * (BloomLookupScaleDemo at 4M rows: 176x row-group skip for single
    * probes, 35x for 5-probe batches, graceful degradation by 500).
    * Bounded-batch contract: `hashes` is an application-sized key
    * list (one ingest batch / one request), not a data-sized frame —
    * literal-list ANALYSIS cost grows past ~10k entries (the
    * DedupIndex idPushLimit rationale); join against [[
    * graft.sources.MergeTable.read]] instead at that scale. */
  def findByContentHash(
      spark: org.apache.spark.sql.SparkSession, path: String,
      hashes: Seq[String]): DataFrame = {
    require(hashes.nonEmpty, "hashes must not be empty")
    graft.sources.MergeTable.read(spark, path)
      .filter(col("content_hash").isin(hashes: _*))
  }

  /** The unique-key RETRACTION over the MergeTable-backed KB — the
    * reference's `DELETE FROM knowledge_base WHERE content_hash = $1`
    * (the erase-this-document admin path), expressed as a row-level
    * tombstone write ([[graft.sources.MergeTable.deleteLite]]): an
    * application-sized hash list deletes in O(keys) at any table size
    * — no base file rewritten (31.5× over the per-file-rewrite path at
    * 40M rows, MergeLiteDemo phase 7); the tombstones clear on the
    * table's next compact/merge fold, and a later re-ingest of the
    * same content simply re-inserts (the tombstone leaves with it).
    * Same bounded-batch contract as [[findByContentHash]]. */
  def retractByContentHash(
      spark: org.apache.spark.sql.SparkSession, path: String,
      hashes: Seq[String]): Unit = {
    require(hashes.nonEmpty, "hashes must not be empty")
    import spark.implicits._
    graft.sources.MergeTable.deleteLite(spark, path,
      hashes.toDF("content_hash"), Seq("content_hash"))
    ()
  }

  /** Hybrid retrieval: the vector ranking ([[matchDocuments]]) fused by
    * reciprocal rank with a BM25 lexical ranking over `contentCol` —
    * the extension a production RAG stack runs where the reference is
    * vector-only (exact identifiers and rare terms that embeddings
    * blur). Query terms are the lowercased whitespace tokens of
    * `queryText`; both candidate pools are `poolSize` deep; the fused
    * top-k returns (idCol, rrf_score). */
  def hybridSearch(
      kb: DataFrame, idCol: String, contentCol: String,
      queryText: String, queryEmbedding: Array[Float], k: Int,
      poolSize: Int = 50, vecCol: String = "embedding"): DataFrame = {
    // matchDocuments ranks by cosine DISTANCE ascending; rrfFuse ranks
    // by score descending — flip to similarity. Rounded to 6 decimals
    // like bm25TopK's output: each fused leg is an OPERATOR OUTPUT, so
    // the rank fusion is engine-portable (raw-double ranks would be
    // ulp-sensitive across engines). Pool ties break on the id so the
    // fused result is deterministic on tie-heavy corpora.
    val vec = matchDocuments(kb, queryEmbedding, poolSize, None, vecCol,
        tieBreak = Some(idCol))
      .select(col(idCol),
        round(lit(1.0) - col("similarity"), 6).as("score"))
    val terms = queryText.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "queryText has no terms")
    val lex = graft.operators.Lexical.bm25TopK(
      kb, idCol, contentCol, terms, poolSize)
    graft.operators.Lexical.rrfFuse(Seq(vec, lex), idCol, k)
  }

  /** [[hybridSearch]] served from a persisted
    * [[graft.operators.LexicalIndex]] instead of re-tokenizing `kb` per
    * call — the serving path for the reference's per-chat-turn search
    * RPC (`search_service.py:259-270`): the lexical leg reads only the
    * query terms' postings (pushed-down scan of the index), the vector
    * leg is [[matchDocuments]] (IVF-prunable when a quantizer is
    * registered), and the fusion is identical to [[hybridSearch]] —
    * same corpus, same index ⇒ same rows (spec-gated).
    *
    * `maxDfFraction` is [[graft.operators.LexicalIndex.bm25TopKMany]]'s
    * serving-path stopword guard: a query term matching more than that
    * fraction of the corpus (dictionary-first df lookup) is dropped
    * BEFORE the postings scan, so "the"-class terms never inflate the
    * `term IN` filter into a near-full-table read. Default 1.0 keeps
    * the bit-exact oracle contract (no term dropped).
    *
    * The returned frame is LAZY over the index pinned at call time
    * ([[graft.operators.LexicalIndex.bm25Ranking]]): the call itself
    * only looks up the query terms' document frequencies, and one
    * action then runs both legs and the fusion. Act on it before the
    * index's vacuum retention runs out. */
  def hybridSearchIndexed(
      kb: DataFrame, idCol: String, queryText: String,
      queryEmbedding: Array[Float], indexPath: String, k: Int,
      poolSize: Int = 50, vecCol: String = "embedding",
      maxDfFraction: Double = 1.0): DataFrame = {
    val vec = matchDocuments(kb, queryEmbedding, poolSize, None, vecCol,
        tieBreak = Some(idCol))
      .select(col(idCol),
        round(lit(1.0) - col("similarity"), 6).as("score"))
    val terms = queryText.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "queryText has no terms")
    val lex = graft.operators.LexicalIndex.bm25Ranking(
      kb.sparkSession, indexPath, idCol, terms, poolSize,
      maxDfFraction = maxDfFraction)
    graft.operators.Lexical.rrfFuse(Seq(vec, lex), idCol, k)
  }

  /** The expiry predicate (`expires_at IS NOT NULL AND expires_at <
    * now`) — shared by the sweep and by callers that count expirations. */
  def expired(now: Column, expiresCol: String = "expires_at"): Column =
    col(expiresCol).isNotNull && col(expiresCol) < now

  /** TTL sweep: drop rows whose expires_at has passed (`DELETE ... WHERE
    * expires_at IS NOT NULL AND expires_at < NOW()` rewritten as the
    * surviving-set filter). */
  def cleanupExpired(kb: DataFrame, now: Column = current_timestamp(),
      expiresCol: String = "expires_at"): DataFrame =
    kb.filter(!expired(now, expiresCol))

  /** The STORAGE-level TTL sweep over a MergeTable-backed KB — the
    * reference's periodic `DELETE FROM knowledge_base WHERE expires_at
    * < NOW()` cleanup loop (`vector_service.py`), on the TOMBSTONE
    * path: one stats-pruned discovery scan finds the expired keys and
    * they commit as tombstones via
    * [[graft.sources.MergeTable.deleteWhereLite]] — O(expired keys)
    * write per sweep instead of rewriting every file an expired row
    * lives in; a past-budget sweep (mass expiry) folds into the
    * rewrite it would have cost anyway. Requires the ingest schema to
    * carry `expiresCol` (NULL = never expires, matching [[expired]]).
    * Pass a LITERAL `now` (e.g. `lit(ts)`) when the sweep must be
    * reproducible across OCC retries. */
  def cleanupExpiredTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      now: Column = current_timestamp(),
      expiresCol: String = "expires_at"): graft.sources.MergeTable.MergeStats =
    graft.sources.MergeTable.deleteWhereLite(spark, path,
      expired(now, expiresCol), Seq("content_hash"))

  /** Access bump for one id (`UPDATE ... SET access_count = access_count
    * + 1, last_accessed = NOW() WHERE id = kb_id`) as a column rewrite —
    * on Delta this would be a keyed UPDATE. */
  def incrementAccess(kb: DataFrame, id: Long,
      now: Column = current_timestamp()): DataFrame =
    kb.withColumn("access_count",
        when(col("id") === id, col("access_count") + 1)
          .otherwise(col("access_count")))
      .withColumn("last_accessed",
        when(col("id") === id, now).otherwise(col("last_accessed")))
}
