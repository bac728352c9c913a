package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession

/** Continuous maintenance of the SERVING indexes from a document
  * stream — the piece between the reference's ingest loop
  * (`backend/services/vector_service.py:119-125`, continuous embed +
  * `ON CONFLICT DO UPDATE`) and its search RPCs: every micro-batch
  * becomes one committed version of the IVF/ivfpq vector index
  * ([[GraftSession.upsertIndexedKnowledge]] — manifest-versioned,
  * atomic for concurrent readers) and, optionally, of the BM25
  * lexical index ([[graft.operators.LexicalIndex.upsert]] —
  * MergeTable-versioned), so searches running WHILE the stream
  * ingests always see a complete index version, never a half-applied
  * batch.
  *
  * Exactly-once ROW STATE under at-least-once foreachBatch: both
  * sinks are keyed upserts, so a batch replayed after a failure
  * between upsert and checkpoint commit re-applies the same ids and
  * the indexes converge to the same state (versions advance; rows
  * don't duplicate). For that convergence the intra-batch duplicate
  * winner must be DETERMINISTIC — a replay must pick the same row —
  * so duplicates reduce by `versionCol` (highest wins) with a
  * content-fingerprint tie-break, or by the fingerprint alone when no
  * version column exists; the same reduced frame feeds both indexes,
  * keeping them row-identical.
  *
  * At 100 TB scale the per-batch cost is the point: the IVF upsert's
  * IO tracks the batch's cluster footprint and the lexical upsert's
  * tracks the batch's postings — neither rewrites, rereads, or
  * retrains on corpus-sized state, so steady-state ingest cost is
  * proportional to the stream rate, not the corpus.
  */
object IndexMaintenance {

  /** Start a stream that keeps the session's indexed KB (and
    * optionally a lexical index at `lexicalPath` and a near-dup index
    * at `dedupPath`) fresh. Rows with a NULL `contentCol` are
    * RETRACTIONS — the id is purged from every maintained surface
    * (see [[applyBatch]]), making the arrival path full CRUD.
    *
    * @param session    holds the indexed KB ([[GraftSession
    *                   .indexKnowledge]] / [[GraftSession
    *                   .openIndexedKnowledge]] must have run) and the
    *                   embedder used when the stream carries no
    *                   `vecCol`
    * @param docs       streaming frame with (`idCol`, `contentCol`
    *                   [, `vecCol`][, `versionCol`])
    * @param versionCol intra-batch duplicate resolution: highest
    *                   version wins (dropped before storage)
    * @param lexicalPath also maintain the BM25 index at this path
    *                   (built/initialized beforehand, e.g.
    *                   [[GraftSession.buildLexicalIndex]])
    * @param dedupPath  also maintain a [[graft.operators.DedupIndex]]
    *                   at this path (built beforehand)
    * @param admitThreshold when set (requires `dedupPath`), gate every
    *                   batch through [[graft.operators.DedupIndex
    *                   .admit]] FIRST: a doc that is a near-duplicate
    *                   (word-shingle Jaccard >= threshold) of the
    *                   already-admitted corpus — or of a smaller-id
    *                   doc in its own batch — is dropped before it
    *                   reaches ANY index. This is the streaming form
    *                   of the reference's content-hash admission gate
    *                   (`vector_service.py:104-125`), upgraded from
    *                   exact to near-duplicate. Replay-safe: a
    *                   replayed batch's ids are self-excluded from the
    *                   corpus probe, so admission decides identically
    *                   and the keyed upserts converge.
    * @param admitMaxBucketPostings degenerate-bucket guard for the
    *                   admission probe ([[graft.operators.DedupIndex
    *                   .nearDupsAgainst]]'s maxBucketPostings): a
    *                   boilerplate family accumulating in the corpus
    *                   over many batches would otherwise make every
    *                   later probe verify family-sized candidate
    *                   sets — the long-running-stream form of the
    *                   hazard. Buckets above the cap drop whole.
    * @param retractOnNullContent NULL-`contentCol` rows purge their id
    *                   from every maintained surface ([[applyBatch]]).
    *                   Set false when producers may emit rows with the
    *                   content field merely MISSING (indistinguishable
    *                   from an explicit null after parsing) — such
    *                   rows are then INERT: removed before the per-id
    *                   resolution, never applied, and quarantined
    *                   verbatim on the JSONL path.
    * @param semanticPath also maintain a [[graft.operators
    *                   .SemanticIndex]] at this path (built
    *                   beforehand, e.g. [[GraftSession
    *                   .buildSemanticIndex]]): batch embeddings merge
    *                   by key, retractions purge, same versioned-
    *                   commit contract as the other surfaces.
    *                   Requires `semanticTau` — maintaining the index
    *                   without gating on it is not a composition this
    *                   runner offers (upsert it yourself for that).
    * @param semanticTau the SECOND admission gate, embedding space:
    *                   after the shingle gate, batch survivors embed
    *                   and probe the semantic index; a row within
    *                   cosine tau of an incumbent (or of a
    *                   better-ranked batchmate — SemDeDup's
    *                   keep-the-outlier rule) is dropped before any
    *                   index sees it. Catches the paraphrases word
    *                   shingles miss.
    * @param admitMaxClusterPostings degenerate-cluster guard for the
    *                   semantic probe ([[graft.operators.SemanticIndex
    *                   .nearDupsAgainst]]'s maxClusterPostings).
    */
  def runToIndexedKnowledge(
      session: GraftSession, docs: DataFrame, checkpoint: String,
      versionCol: Option[String] = None,
      lexicalPath: Option[String] = None,
      dedupPath: Option[String] = None,
      admitThreshold: Option[Double] = None,
      admitMaxBucketPostings: Option[Int] = None,
      idCol: String = "id", contentCol: String = "content",
      vecCol: String = "embedding",
      retractOnNullContent: Boolean = true,
      semanticPath: Option[String] = None,
      semanticTau: Option[Double] = None,
      admitMaxClusterPostings: Option[Int] = None): StreamingQuery = {
    requireGateArgs(dedupPath, admitThreshold, admitMaxBucketPostings,
      semanticPath, semanticTau, admitMaxClusterPostings)
    // fail at start(), not inside the first micro-batch (the JSONL
    // variant's discipline): a missing versionCol would otherwise kill
    // the running stream from within foreachBatch — and NORMALIZE
    // resolver-matched case variants to the requested spellings, since
    // the per-batch kernels (deterministicOnePerKey's require,
    // embedColumn's fieldIndex, the vecCol presence check) are
    // exact-case: accepting `VERSION` for versionCol here and then
    // crashing on it mid-stream would be the same late failure with
    // extra steps. (vecCol is genuinely optional — the embedder fills
    // it in; a case-variant of it is normalized when present.)
    val normalized = normalizeCols(docs,
      mandatory = Seq(idCol, contentCol) ++ versionCol,
      optional = Seq(vecCol))
    normalized.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // one materialization (the JobProcessor convention): any later
        // scan of an un-persisted foreachBatch frame re-executes the
        // upstream, and the upsert scans the batch several times
        batch.persist()
        try {
          if (batch.count() > 0) applyBatch(session, batch.toDF(),
            versionCol, lexicalPath, dedupPath, admitThreshold,
            idCol = idCol, contentCol = contentCol, vecCol = vecCol,
            admitMaxBucketPostings = admitMaxBucketPostings,
            retractOnNullContent = retractOnNullContent,
            semanticPath = semanticPath, semanticTau = semanticTau,
            admitMaxClusterPostings = admitMaxClusterPostings)
          ()
        } finally batch.unpersist()
      }
      .start()
  }

  /** The full arrival path as ONE streamed, checkpointed pipeline:
    * raw JSONL lines → schema-strict quarantine split → dedup
    * admission → KB/index merge. The reference's job stream consumes
    * raw request payloads the same way (`backend/services/
    * pubnub_job_processor.py:283-384`: parse, reject malformed,
    * process); here each hop is a scale-shaped Spark stage.
    *
    * Per micro-batch: malformed lines (and blank lines) land VERBATIM
    * under `quarantinePath/batch_id=<id>/` — a per-batch OVERWRITE
    * directory, so an at-least-once replay rewrites the same files
    * instead of appending duplicates (idempotent quarantine, the
    * exactly-once-row-state discipline applied to the reject sink).
    * Good lines flow through the same [[applyBatch]] as the typed
    * stream — deterministic duplicate reduction, optional near-dup
    * admission gate, keyed index upserts — so replay convergence and
    * the per-batch cost model are inherited unchanged.
    *
    * `schema` must carry `idCol` and `contentCol` (and `vecCol` /
    * `versionCol` when used); read the quarantine back with
    * `spark.read.text(quarantinePath)` (partition discovery surfaces
    * `batch_id`). A well-formed line with a NULL `contentCol` (e.g.
    * `{"id":5,"content":null}`) is a RETRACTION, not quarantine — the
    * id purges from every maintained surface (see [[applyBatch]]). */
  def runJsonlToIndexedKnowledge(
      session: GraftSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      quarantinePath: String, checkpoint: String,
      versionCol: Option[String] = None,
      lexicalPath: Option[String] = None,
      dedupPath: Option[String] = None,
      admitThreshold: Option[Double] = None,
      admitMaxBucketPostings: Option[Int] = None,
      maxFilesPerTrigger: Option[Int] = None,
      idCol: String = "id", contentCol: String = "content",
      vecCol: String = "embedding",
      retractOnNullContent: Boolean = true,
      semanticPath: Option[String] = None,
      semanticTau: Option[Double] = None,
      admitMaxClusterPostings: Option[Int] = None): StreamingQuery =
    runLinesToIndexedKnowledge(session, dir, schema, quarantinePath,
      checkpoint, graft.sources.Jsonl.splitQuarantine,
      graft.sources.Jsonl.parsedWithNullField,
      versionCol, lexicalPath, dedupPath, admitThreshold,
      admitMaxBucketPostings, maxFilesPerTrigger, idCol, contentCol,
      vecCol, retractOnNullContent, semanticPath, semanticTau,
      admitMaxClusterPostings)

  /** [[runJsonlToIndexedKnowledge]] for a growing directory of
    * headerless CSV files in [[graft.sources.Csv]]'s dialect — the
    * same quarantine/admission/merge pipeline, different parser. A
    * well-formed line whose `contentCol` is the `\N` sentinel is the
    * CSV spelling of the NULL-content retraction. */
  def runCsvToIndexedKnowledge(
      session: GraftSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      quarantinePath: String, checkpoint: String,
      versionCol: Option[String] = None,
      lexicalPath: Option[String] = None,
      dedupPath: Option[String] = None,
      admitThreshold: Option[Double] = None,
      admitMaxBucketPostings: Option[Int] = None,
      maxFilesPerTrigger: Option[Int] = None,
      idCol: String = "id", contentCol: String = "content",
      vecCol: String = "embedding",
      retractOnNullContent: Boolean = true,
      semanticPath: Option[String] = None,
      semanticTau: Option[Double] = None,
      admitMaxClusterPostings: Option[Int] = None): StreamingQuery =
    runLinesToIndexedKnowledge(session, dir, schema, quarantinePath,
      checkpoint, graft.sources.Csv.splitQuarantine,
      graft.sources.Csv.parsedWithNullField,
      versionCol, lexicalPath, dedupPath, admitThreshold,
      admitMaxBucketPostings, maxFilesPerTrigger, idCol, contentCol,
      vecCol, retractOnNullContent, semanticPath, semanticTau,
      admitMaxClusterPostings)

  /** The shared line-format arrival path: `split` is the schema-strict
    * quarantine split ((lines, schema) => (good, bad)) and `nullLines`
    * selects well-formed lines with a NULL field (the retraction
    * opt-out's verbatim-quarantine source) — [[graft.sources.Jsonl]]
    * and [[graft.sources.Csv]] each supply their pair. */
  private def runLinesToIndexedKnowledge(
      session: GraftSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      quarantinePath: String, checkpoint: String,
      split: (DataFrame, org.apache.spark.sql.types.StructType) => (DataFrame, DataFrame),
      nullLines: (DataFrame, org.apache.spark.sql.types.StructType, String) => DataFrame,
      versionCol: Option[String],
      lexicalPath: Option[String],
      dedupPath: Option[String],
      admitThreshold: Option[Double],
      admitMaxBucketPostings: Option[Int],
      maxFilesPerTrigger: Option[Int],
      idCol: String, contentCol: String,
      vecCol: String,
      retractOnNullContent: Boolean,
      semanticPath: Option[String] = None,
      semanticTau: Option[Double] = None,
      admitMaxClusterPostings: Option[Int] = None): StreamingQuery = {
    requireGateArgs(dedupPath, admitThreshold, admitMaxBucketPostings,
      semanticPath, semanticTau, admitMaxClusterPostings)
    // fail at start(), not inside the first micro-batch: a missing
    // versionCol would otherwise kill the running stream from within
    // foreachBatch, surfaced only via query.exception. Validated here
    // against the schema; the per-batch frames (whose columns ARE the
    // schema's fields) then reuse the same normalization the typed
    // variant applies, so the exact-case batch kernels see the
    // requested spellings.
    val probe = session.spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    normalizeCols(probe,
      mandatory = Seq(idCol, contentCol) ++ versionCol,
      optional = Seq(vecCol))
    graft.sources.Jsonl.readStreamLines(session.spark, dir, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.persist()
        try {
          val (good0, bad0) = split(batch.toDF(), schema)
          // opted-out NULL-content lines are producer bugs here, not
          // retractions and not data: they must land in the quarantine
          // VERBATIM (the reject-sink discipline — a silent drop would
          // hide exactly the bug the opt-out guards against)
          val (good, bad) =
            if (retractOnNullContent) (good0, bad0)
            else {
              val resolver = session.spark.sessionState.conf.resolver
              val contentField = schema.fieldNames
                .find(resolver(_, contentCol)).getOrElse(contentCol)
              // backtick-quoted: a dotted field name is a top-level
              // column of good0, not a struct path
              (good0.filter(col(s"`$contentField`").isNotNull),
                bad0.unionByName(nullLines(batch.toDF(), schema, contentField)))
            }
          if (!bad.isEmpty)
            bad.write.mode("overwrite").text(s"$quarantinePath/batch_id=$batchId")
          if (!good.isEmpty) applyBatch(session,
            normalizeCols(good,
              mandatory = Seq(idCol, contentCol) ++ versionCol,
              optional = Seq(vecCol)),
            versionCol, lexicalPath, dedupPath, admitThreshold,
            idCol = idCol, contentCol = contentCol, vecCol = vecCol,
            admitMaxBucketPostings = admitMaxBucketPostings,
            retractOnNullContent = retractOnNullContent,
            semanticPath = semanticPath, semanticTau = semanticTau,
            admitMaxClusterPostings = admitMaxClusterPostings)
          ()
        } finally batch.unpersist()
      }
      .start()
  }

  /** Rename resolver-matched case variants of the wanted columns to
    * the wanted spellings (no-op when everything already matches
    * exactly). `mandatory` columns must be present — one match, or a
    * loud IllegalArgumentException NOW (for the streaming callers:
    * at start(), not mid-stream); `optional` columns normalize only
    * when present. Ambiguity (two columns both resolving to one
    * wanted name — only possible under case-insensitive analysis,
    * where every downstream col() would be ambiguous anyway) is
    * refused loudly. */
  private def normalizeCols(
      df: DataFrame, mandatory: Seq[String],
      optional: Seq[String]): DataFrame = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    def matchesOf(w: String) = df.columns.filter(resolver(_, w)).toSeq
    mandatory.foreach(w => require(matchesOf(w).nonEmpty,
      s"docs must carry $w — it has ${df.columns.mkString(", ")}"))
    val renames = (mandatory ++ optional).flatMap { w =>
      matchesOf(w) match {
        case Seq() => None
        case Seq(m) => if (m == w) None else Some(m -> w)
        case ms => throw new IllegalArgumentException(
          s"ambiguous columns for $w: ${ms.mkString(", ")}")
      }
    }.toMap
    // backtick-quote (the Profile.q convention): a dotted column name
    // must select as itself, not as a struct path
    def q(c: String) = col(s"`$c`")
    if (renames.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      renames.get(c).map(t => q(c).as(t)).getOrElse(q(c))): _*)
  }

  /** IMAGE arrival path: decoded image rows → perceptual near-dup
    * admission against a persisted [[graft.operators.ImageDedupIndex]]
    * → keyed [[graft.sources.MergeTable]] store merge → index upsert —
    * the image pillar's twin of [[runToIndexedKnowledge]]'s gated text
    * ingest: a duplicate (or near-duplicate, hamming <= `maxHamming`)
    * of anything already admitted never lands in the store, and the
    * corpus is never re-paired — the probe cost tracks the BATCH
    * (bucket-pruned index scan), not the corpus.
    *
    * Exactly-once ROW STATE under at-least-once foreachBatch (the
    * file's contract): the store merge and the band upsert are keyed,
    * intra-batch duplicates reduce deterministically
    * ([[graft.operators.Dedup.deterministicOnePerKey]], versionCol
    * honored, live-beats-retraction at ties), and admission is
    * replay-convergent — a replayed batch's ids self-exclude from the
    * corpus probe, so the same survivors come back and every keyed
    * write converges (spec-pinned re-admit case).
    *
    * CRUD semantics, the [[applyBatch]] conventions translated:
    *  - a row with NULL `rgbCol` is a RETRACTION: the id purges from
    *    the index and deletes from the store (O(keys), deleteLite);
    *  - an UN-HASHABLE live row (sub-grid or malformed buffer —
    *    [[graft.functions.ImageFunctions.dhash64]] NULLs it) has no
    *    perceptual identity: it passes the gate and lands in the
    *    store for byte-level audit, but never enters the band index;
    *  - the store is created on the first live batch (keyed by
    *    `idCol`), the exists→init TOCTOU falling back to merge (the
    *    [[graft.streaming.JobProcessor.runToMergeTable]] contract).
    *
    * The INDEX must exist before the stream starts ([[graft.operators
    * .ImageDedupIndex.build]], possibly from an empty frame) — the
    * pinned kernel (dhash64/ahash64) is index state, not a stream
    * argument, so a probe can never hash differently than the corpus
    * it probes. */
  def runImagesToDedupedStore(
      spark: org.apache.spark.sql.SparkSession, images: DataFrame,
      storePath: String, indexPath: String, checkpoint: String,
      idCol: String = "img_id", widthCol: String = "w",
      heightCol: String = "h", rgbCol: String = "rgb",
      maxHamming: Int = 3,
      versionCol: Option[String] = None): StreamingQuery = {
    require(graft.operators.ImageDedupIndex.exists(spark, indexPath),
      s"no image dedup index at $indexPath — build it first (the " +
        "pinned hash kernel is index state)")
    val normalized = normalizeCols(images,
      mandatory = Seq(idCol, widthCol, heightCol, rgbCol) ++ versionCol,
      optional = Nil)
    normalized.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.persist()
        try {
          if (batch.count() > 0)
            applyImageBatch(spark, batch.toDF(), storePath, indexPath,
              idCol, widthCol, heightCol, rgbCol, maxHamming, versionCol)
          ()
        } finally batch.unpersist()
      }
      .start()
  }

  /** One image micro-batch, exposed for direct backfills (the
    * [[applyBatch]] convention). */
  private[graft] def applyImageBatch(
      spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      storePath: String, indexPath: String,
      idCol: String, widthCol: String, heightCol: String, rgbCol: String,
      maxHamming: Int, versionCol: Option[String]): Unit = {
    import graft.operators.ImageDedupIndex
    // deterministic winner per id: version desc when given, then
    // live-beats-retraction, then the content fingerprint
    val one = graft.operators.Dedup.deterministicOnePerKey(
      batch.filter(col(idCol).isNotNull), idCol, versionCol,
      tieBreak = Seq(col(rgbCol).isNull.asc))
    val retractKeys = one.filter(col(rgbCol).isNull).select(col(idCol))
    if (!retractKeys.isEmpty) {
      // both purges take the keys FRAME (deleteLite: O(keys), no
      // literals, no driver materialization)
      ImageDedupIndex.deleteKeys(spark, indexPath, retractKeys, idCol)
      if (graft.sources.MergeTable.exists(spark, storePath)) {
        graft.sources.MergeTable.deleteLite(
          spark, storePath, retractKeys, Seq(idCol)); ()
      }
    }
    val live = one.filter(col(rgbCol).isNotNull)
    if (live.isEmpty) return
    val admitted = ImageDedupIndex.admitImages(spark, indexPath, live,
      idCol, widthCol, heightCol, rgbCol, maxHamming, fpColOut = "__fp")
    try {
      if (!admitted.isEmpty) {
        val toStore = admitted.drop("__fp")
        // exists→init TOCTOU: the loser merges (the JobProcessor
        // contract)
        if (!graft.sources.MergeTable.exists(spark, storePath))
          try {
            graft.sources.MergeTable.init(spark, storePath, toStore); ()
          } catch {
            case _: IllegalArgumentException |
                 _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              graft.sources.MergeTable.merge(
                spark, storePath, toStore, Seq(idCol)); ()
          }
        else {
          graft.sources.MergeTable.merge(
            spark, storePath, toStore, Seq(idCol)); ()
        }
        // ALL admitted rows reach the index upsert, NULL fps included:
        // a previously-indexed id arriving LIVE but un-hashable must
        // RETRACT its stale bands (upsert's NULL-fp rule) — otherwise
        // the dead fingerprint keeps rejecting lookalikes of content
        // that no longer exists anywhere (review catch)
        val fps = admitted.select(col(idCol), col("__fp"))
        if (!fps.isEmpty) ImageDedupIndex.upsert(
          spark, indexPath, fps, idCol, "__fp")
      }
    } finally graft.util.Checkpoints.free(admitted)
  }

  /** One micro-batch, exposed for direct (non-streaming) backfills.
    *
    * A row with a NULL `contentCol` is a RETRACTION (the
    * [[graft.operators.DedupIndex.upsert]] convention, extended to
    * the whole arrival path): the id's lexical postings/length/df
    * contributions delete, its dedup signature deletes, and its KB
    * row deletes — instead of the pre-retraction behavior of
    * embedding "" and storing a content-less tombstone that inflated
    * lexical N and served garbage vectors. Retractions bypass the
    * admission gate (nothing to near-dup); a replayed batch's deletes
    * are idempotent, so convergence is inherited. Semantics and
    * bounds:
    *
    *  - With `versionCol`, a retraction competes for its id by
    *    version like any row (the deterministic per-id resolution is
    *    uniform): VERSION YOUR RETRACTIONS on versioned streams — an
    *    unversioned one sorts last and loses to any versioned
    *    same-batch row for the id. At EQUAL (or absent) version, a
    *    live row beats a retraction for the same id — never a
    *    fingerprint coin flip.
    *  - Set `retractOnNullContent = false` when producers may emit
    *    rows with the content field merely MISSING (a partial-update
    *    bug is indistinguishable from an explicit null after JSON
    *    parsing): NULL-content rows are then INERT — removed before
    *    the per-id resolution (so a buggy row can't veto a valid
    *    same-batch row), and on the JSONL path quarantined verbatim.
    *  - Surface order: derived surfaces (lexical, dedup) purge
    *    first, then the batch's live rows upsert, then the KB delete
    *    commits LAST — so a reload batch (retract-all + insert
    *    replacements) never routes the KB through an empty state. A
    *    retraction batch that leaves the KB genuinely EMPTY is
    *    refused by [[GraftSession.deleteIndexedKnowledge]] (an empty
    *    index version is unreadable) and poisons the stream by
    *    replay — full teardown is an offline rebuild, not a stream
    *    event.
    *  - Retract ids are driver-collected, and each index takes them
    *    in ONE delete and one composite version: its component purges
    *    split at [[RetractChunk]] inside that version and its probes
    *    test one held key set, so a bulk-purge backlog never reaches
    *    the isin-literal analysis cliff; still cap trigger sizes (`maxFilesPerTrigger` on the JSONL
    *    path, the source's own trigger bound elsewhere). The KB
    *    delete's discovery pass scans the corpus NARROWLY (id+cluster
    *    columns only) to find touched clusters; the rewrite itself is
    *    cluster-local. */
  /** Catch a perceptual image-dedup index up with a keyed image store
    * that OTHER writers advance — [[syncFromTable]]'s shape for the
    * image pillar, at churn cost: rows the `(sinceVersion, tip]`
    * window upserted re-hash with the index's PINNED kernel and merge
    * ([[graft.operators.ImageDedupIndex.upsertImages]] — a row whose
    * buffer no longer hashes retracts its bands, the ghost-incumbent
    * rule), keys it deleted purge as a keyed frame
    * ([[graft.operators.ImageDedupIndex.deleteKeys]]: O(keys), no
    * driver materialization), and a window that committed nothing
    * applies nothing. `sinceVersion = 0` bootstraps from a full read
    * AND purges index ids the store no longer holds (a re-bootstrap
    * after cursor loss must not leave ghost incumbents). No admission
    * gate runs — the store is the truth the arrival path already gated
    * ([[runImagesToDedupedStore]]); gating a sync would diverge the
    * index from it. Idempotent per window (keyed merges + keyed
    * purges): a crashed sync re-runs safely.
    *
    * @return the store's tip version — persist it as the next cursor */
  def syncImagesFromTable(
      spark: org.apache.spark.sql.SparkSession, storePath: String,
      sinceVersion: Long, indexPath: String,
      idCol: String = "img_id", widthCol: String = "w",
      heightCol: String = "h", rgbCol: String = "rgb"): Long = {
    import graft.operators.ImageDedupIndex
    require(ImageDedupIndex.exists(spark, indexPath),
      s"no image dedup index at $indexPath — build it first")
    val MT = graft.sources.MergeTable
    catchUp(spark, storePath, "store", sinceVersion) { tip =>
      if (sinceVersion == 0L) {
        ImageDedupIndex.upsertImages(spark, indexPath,
          MT.read(spark, storePath), idCol, widthCol, heightCol, rgbCol)
        // a RE-bootstrap (cursor lost/reset after prior syncs) must also
        // purge index ids the store no longer holds — otherwise keys
        // deleted in pre-reset windows survive as ghost incumbents and
        // reject lookalikes of content that exists nowhere (review
        // catch, the applyImageBatch ghost rule). Frame-sized anti-join,
        // keyed purge: no driver materialization.
        val ghosts = MT.read(spark,
            graft.sources.CompositeIndex.pinnedPath(spark, indexPath, "bands"))
          .select(col("id")).distinct()
          .join(MT.read(spark, storePath).select(col(idCol).as("id"))
            .distinct(), Seq("id"), "left_anti")
        ImageDedupIndex.deleteKeys(spark, indexPath, ghosts, "id")
      } else {
        val changed = MT.changesBetween(
          spark, storePath, sinceVersion, tip, Seq(idCol))
        if (!changed.isEmpty)
          ImageDedupIndex.upsertImages(spark, indexPath, changed,
            idCol, widthCol, heightCol, rgbCol)
        ImageDedupIndex.deleteKeys(spark, indexPath,
          MT.deletesBetween(spark, storePath, sinceVersion, tip, Seq(idCol)),
          idCol)
      }
    }
  }

  /** A sync cursor's checks, then `apply` the `(sinceVersion, tip]`
    * window of the table at `path` (`what` names it in messages):
    * `sinceVersion` must be >= 0 (0 bootstraps), a cursor at the tip
    * applies nothing, and a cursor past the tip is refused. Returns the
    * tip — the next cursor. */
  private def catchUp(
      spark: org.apache.spark.sql.SparkSession, path: String, what: String,
      sinceVersion: Long)(apply: Long => Unit): Long = {
    require(sinceVersion >= 0, "sinceVersion must be >= 0 (0 bootstraps)")
    val tip = graft.sources.MergeTable.snapshot(spark, path).version
    if (tip != sinceVersion) {
      require(tip > sinceVersion,
        s"cursor v$sinceVersion is ahead of the $what tip v$tip at " +
          s"$path — the cursor belongs to another table or lineage")
      apply(tip)
    }
    tip
  }

  /** Catch the indexed KB (and optional lexical / dedup / semantic
    * surfaces) up with a keyed [[graft.sources.MergeTable]] that OTHER
    * writers advance — the BATCH counterpart of the streaming arrival
    * path, driven by the storage layer's change feed at churn cost:
    * only the rows the `(sinceVersion, tip]` window upserted are
    * applied ([[graft.sources.MergeTable.changesBetween]]), only the
    * keys it deleted are retracted (NULL-content rows through the
    * [[applyBatch]] CRUD convention), and a window that committed
    * nothing new applies nothing. `sinceVersion = 0` bootstraps from a
    * full read.
    *
    * No admission gates run here — the table IS the upstream truth the
    * arrival path already gated; gating a sync would silently diverge
    * the indexes from it. The semantic surface is maintained without
    * the tau gate for the same reason (the direct-applyBatch
    * composition the runner's doc points at). Idempotent per window
    * (keyed upserts + keyed purges), so a crashed sync re-runs safely.
    *
    * @return the table's tip version — persist it as the next cursor */
  def syncFromTable(
      session: GraftSession, tablePath: String, sinceVersion: Long,
      idCol: String = "id", contentCol: String = "content",
      vecCol: String = "embedding",
      lexicalPath: Option[String] = None,
      dedupPath: Option[String] = None,
      semanticPath: Option[String] = None): Long = {
    val spark = session.spark
    catchUp(spark, tablePath, "table", sinceVersion) { tip =>
      val batch =
        if (sinceVersion == 0L) graft.sources.MergeTable.read(spark, tablePath)
        else {
          val changed = graft.sources.MergeTable.changesBetween(
            spark, tablePath, sinceVersion, tip, Seq(idCol))
          val deleted = graft.sources.MergeTable.deletesBetween(
            spark, tablePath, sinceVersion, tip, Seq(idCol))
          // deleted keys become retraction rows: every non-key column
          // NULL (typed from the feed's schema), content included
          val retract = changed.columns.foldLeft(deleted)((df, c) =>
            if (c == idCol) df
            else df.withColumn(c, lit(null).cast(changed.schema(c).dataType)))
            .select(changed.columns.map(col).toSeq: _*)
          changed.unionByName(retract)
        }
      applyBatch(session, batch, versionCol = None,
        lexicalPath = lexicalPath, dedupPath = dedupPath,
        idCol = idCol, contentCol = contentCol, vecCol = vecCol,
        semanticPath = semanticPath)
    }
  }

  private[graft] def applyBatch(
      session: GraftSession, batch: DataFrame,
      versionCol: Option[String], lexicalPath: Option[String],
      dedupPath: Option[String] = None,
      admitThreshold: Option[Double] = None,
      idCol: String = "id", contentCol: String = "content",
      vecCol: String = "embedding",
      admitMaxBucketPostings: Option[Int] = None,
      retractOnNullContent: Boolean = true,
      semanticPath: Option[String] = None,
      semanticTau: Option[Double] = None,
      admitMaxClusterPostings: Option[Int] = None): Unit = {
    // opt-out means NULL-content rows are INERT: removed before the
    // per-id reduction, or a buggy null row could win it and veto a
    // valid same-batch row for its id ("dropped, never applied")
    val batch1 =
      if (retractOnNullContent) batch
      else batch.filter(col(contentCol).isNotNull)
    // deterministic winner per id (see class doc): version desc when
    // given, then LIVE-BEATS-RETRACTION, then a content fingerprint —
    // row_number over a tied sort is partition-order-dependent and
    // would break replay convergence, and without the middle rule a
    // same-batch retract+insert for one id at equal (or absent)
    // version would resolve by fingerprint coin flip
    val one0 = graft.operators.Dedup.deterministicOnePerKey(
      batch1, idCol, versionCol,
      tieBreak = Seq(col(contentCol).isNull.asc))
    val retractIds =
      if (!retractOnNullContent ||
        batch1.filter(col(contentCol).isNull && col(idCol).isNotNull).isEmpty)
        Seq.empty[Any]
      else one0.filter(col(contentCol).isNull && col(idCol).isNotNull)
        .select(col(idCol)).collect().map(_.get(0)).toSeq
    // liveness of the batch AFTER per-id resolution: with no
    // retractions a plain persisted-batch filter is exact (and pays no
    // window); with retractions the RESOLVED winners decide — a live
    // row that lost its id's resolution to a higher-versioned
    // retraction must not count as life (it will never upsert)
    // lazy: a stream with no gating and no retractions (the steady-
    // state arrival case) must not pay this extra action per batch —
    // both consumers below are themselves conditional
    lazy val liveResolved =
      if (retractIds.isEmpty)
        !batch1.filter(col(contentCol).isNotNull).isEmpty
      else !one0.filter(col(contentCol).isNotNull).isEmpty
    // an effectively-pure retraction batch that would empty the KB is
    // refused BEFORE any surface purges: the refusal is permanent
    // (checkpoint replay re-fails), so failing early keeps every
    // surface consistently serving instead of diverging (lexical/
    // dedup purged, KB not) for as long as the stream is poisoned.
    // (Residual late case: the admission gate killing every resolved
    // live row of such a batch — not knowable before the purges.)
    if (retractIds.nonEmpty && !liveResolved) {
      // chunked like every other retract-id predicate — the pre-check
      // must not itself pay the literal-analysis cliff it guards
      val hits = retractIds.grouped(RetractChunk).map(chunk =>
        session.knowledgeBase
          .filter(col(idCol).isin(chunk.toSeq: _*)).count()).sum
      require(hits < session.knowledgeBase.count(),
        "retraction batch would empty the knowledge base (an empty " +
          "index version is unreadable) — full teardown is an offline " +
          "rebuild, not a stream event")
    }
    // ONE delete per index, so a batch publishes one composite version
    // per index: each delete bounds its own predicates (its component
    // purges split at RetractChunk inside that version, its probes
    // test one held key set)
    if (retractIds.nonEmpty) {
      lexicalPath.foreach(lp => graft.operators.LexicalIndex.delete(
        session.spark, lp, retractIds))
      dedupPath.foreach(dp => graft.operators.DedupIndex.delete(
        session.spark, dp, retractIds))
      semanticPath.foreach(sp => graft.operators.SemanticIndex.delete(
        session.spark, sp, retractIds))
    }
    val one = one0.filter(col(contentCol).isNotNull)
    // admission gate BEFORE any index sees the batch: near-dups of
    // the admitted corpus (or of a smaller-id batchmate) never
    // ingest. admit() returns a materialized frame; on replay the
    // batch's ids are self-excluded from the corpus probe, so the
    // same survivors come back and every keyed upsert converges.
    // admitOnePerId, not admit: `one` is already reduced (and with
    // version-aware resolution admit's own fingerprint-only pass
    // couldn't replicate) — the public admit would re-shuffle and
    // re-fingerprint every micro-batch of a long-running stream.
    // A batch with no RESOLVED live rows skips the probe outright
    // (liveResolved: plain filter when no retractions — no second
    // window per gated batch — resolved winners when there are).
    val admitted = (dedupPath, admitThreshold) match {
      case (Some(dp), Some(th)) if liveResolved =>
        graft.operators.DedupIndex.admitOnePerId(
          session.spark, dp, one, idCol, contentCol, th,
          maxBucketPostings = admitMaxBucketPostings)
      case _ => one
    }
    val gated = admitted ne one
    // SEMANTIC admission (second gate, embedding space): runs AFTER
    // the text gate — shingle near-dups die on the cheaper probe
    // first, the embedding gate catches the paraphrases shingles
    // miss. Embedding must happen BEFORE this gate (the probe needs
    // vectors), so a semantically-gated stream embeds the text-gate
    // survivors rather than the final admitted set — rows the
    // semantic gate then rejects paid an embedding call, which is
    // exactly the real serving order (embed, then check the vector
    // store — the reference embeds before its insert gate too,
    // `vector_service.py:104-125`). Replay-convergent like the text
    // gate: batch ids self-exclude from the corpus probe.
    val admittedSem = (semanticPath, semanticTau) match {
      case (Some(sp), Some(tau)) if liveResolved && !admitted.isEmpty =>
        val needEmbed = !admitted.columns.contains(vecCol)
        // checkpoint the embedded frame: admitOnePerId scans its
        // batch several times (assignment, batch ids, the survivor
        // anti-join), and each un-persisted scan would re-run the
        // embedder kernel — the same must-not-re-embed rationale as
        // withVec below
        val embedded =
          if (!needEmbed) admitted
          else session.embedder.embedColumn(admitted, contentCol, vecCol)
            .localCheckpoint(true)
        try graft.operators.SemanticIndex.admitOnePerId(
          session.spark, sp, embedded, idCol, vecCol, tau,
          maxClusterPostings = admitMaxClusterPostings)
        finally if (needEmbed) graft.util.Checkpoints.free(embedded)
      case _ => admitted
    }
    val gatedSem = admittedSem ne admitted
    try {
      if (!admittedSem.isEmpty) {
        val withVec =
          if (admittedSem.columns.contains(vecCol)) admittedSem
          else session.embedder.embedColumn(admittedSem, contentCol, vecCol)
        // embedColumn is a per-partition kernel over the (persisted)
        // batch; the upsert's several scans must not re-embed — and
        // every index must see the identical reduced frame
        withVec.persist()
        try {
          session.upsertIndexedKnowledge(withVec)
          lexicalPath.foreach(lp => graft.operators.LexicalIndex.upsert(
            session.spark, lp, withVec, idCol, contentCol))
          dedupPath.foreach(dp => graft.operators.DedupIndex.upsert(
            session.spark, dp, withVec, idCol, contentCol))
          semanticPath.foreach(sp => graft.operators.SemanticIndex.upsert(
            session.spark, sp, withVec, idCol, vecCol))
        } finally { withVec.unpersist(); () }
      }
    } finally {
      // admit() returns a checkpointed frame — release its blocks per
      // batch, or a long-running gated stream accumulates them until
      // the ContextCleaner happens to GC (the explicit-free discipline
      // every dedup operator follows)
      if (gatedSem) graft.util.Checkpoints.free(admittedSem)
      if (gated) graft.util.Checkpoints.free(admitted)
    }
    // KB retraction LAST — after the live rows landed, so a reload
    // batch never routes the KB through an empty state (see doc). If
    // an upsert above threw, this is skipped and the replayed batch
    // redoes both halves (all idempotent).
    if (retractIds.nonEmpty)
      retractIds.grouped(RetractChunk).foreach { chunk =>
        session.deleteIndexedKnowledge(col(idCol).isin(chunk.toSeq: _*))
        ()
      }
  }

  /** The admission-gate arguments every stream runner checks at
    * start(): each gate needs its index, each guard its gate. */
  private def requireGateArgs(
      dedupPath: Option[String], admitThreshold: Option[Double],
      admitMaxBucketPostings: Option[Int],
      semanticPath: Option[String], semanticTau: Option[Double],
      admitMaxClusterPostings: Option[Int]): Unit = {
    require(admitThreshold.isEmpty || dedupPath.nonEmpty,
      "admitThreshold needs dedupPath: admission probes the persisted dedup index")
    require(admitMaxBucketPostings.isEmpty || admitThreshold.nonEmpty,
      "admitMaxBucketPostings only applies to the admission probe (set admitThreshold)")
    require(semanticTau.isEmpty || semanticPath.nonEmpty,
      "semanticTau needs semanticPath: the embedding gate probes the " +
        "persisted semantic index")
    require(semanticPath.isEmpty || semanticTau.nonEmpty,
      "semanticPath without semanticTau would maintain the semantic " +
        "index but never gate on it — pass semanticTau (the intended " +
        "composition), or omit the path and upsert it yourself")
    require(admitMaxClusterPostings.isEmpty || semanticTau.nonEmpty,
      "admitMaxClusterPostings only applies to the semantic admission " +
        "probe (set semanticTau)")
  }

  /** Per-call bound for retract-id predicate lists — the shared
    * [[graft.util.Pushdown.RetractChunk]]. */
  private val RetractChunk = graft.util.Pushdown.RetractChunk
}
