package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's PubNub job stream re-expressed as a Structured
  * Streaming pipeline (SURVEY §3.3, `backend/services/pubnub_job_processor.py`):
  *
  *   subscribe job-requests → dedup request_id (300 s) → context lookup
  *   (direct `rag_content` filter by (document_id, document_type), else
  *   vector top-1) → LLM completion → store `job_responses` → publish.
  *
  * Spark mapping: `readStream` → watermark+dropDuplicatesWithinWatermark
  * → stream-static broadcast join with the rag_content table → a
  * `Completer` connector applied per batch → `foreachBatch` sink written
  * as batch_id partitions with dynamic overwrite (idempotent on replay),
  * plus the side-output "publish" tap (T5). Checkpointing + request-id
  * dedup + idempotent writes give effectively-once per request_id —
  * strictly stronger than the reference's best-effort semantics.
  */
object JobProcessor {

  /** External LLM boundary (the reference's OpenAI call,
    * `pubnub_job_processor.py:116-159`) — behind a trait so the engine
    * stays hermetic; tests use [[EchoCompleter]]. */
  trait Completer extends Serializable {
    def complete(userQuery: String, context: String): String
  }

  /** Deterministic test completer. */
  object EchoCompleter extends Completer {
    def complete(userQuery: String, context: String): String =
      s"[echo] $userQuery | ctx=${context.take(64)}"
  }

  /** Build the enriched response stream.
    *
    * @param requests streaming DF with (request_id, job_id, user_query, ts)
    * @param ragContent static DF with (document_id, document_type, context)
    */
  def responses(
      requests: DataFrame, ragContent: DataFrame, completer: Completer,
      dedupWindow: String = "5 minutes"): DataFrame = {
    val deduped = StreamingOps.dedupWithinWindow(requests, "request_id", "ts", dedupWindow)
    val enriched = deduped.join(
        broadcast(ragContent.filter(col("document_type") === "job")
          .select(col("document_id").as("job_id"), col("context"))),
        Seq("job_id"), "left")
      .withColumn("context", coalesce(col("context"), lit("")))
    val completeUdf = udf((q: String, c: String) => completer.complete(q, c))
    enriched.withColumn("ai_response", completeUdf(col("user_query"), col("context")))
      .select(col("request_id"), col("job_id"), col("user_query"),
        col("ai_response"), col("ts"))
  }

  /** §3.3 step 3's fallback branch: requests with no direct rag context
    * get the top-1 vector match from the knowledge base (the reference's
    * `match_documents_by_document_type` with the embedded description,
    * `pubnub_job_processor.py:84-107`). Batch-context enrichment — run
    * it inside foreachBatch where window functions are legal.
    *
    * @param batch    deduped micro-batch with (request_id, job_id, user_query, ts)
    * @param ragContent static (document_id, document_type, context)
    * @param kb       knowledge base with (content, embedding) for the fallback
    */
  def enrichBatch(
      batch: DataFrame, ragContent: DataFrame, kb: DataFrame,
      embedder: graft.search.Embedder): DataFrame = {
    val direct = batch.join(
        broadcast(ragContent.filter(col("document_type") === "job")
          .select(col("document_id").as("job_id"), col("context"))),
        Seq("job_id"), "left")
    val hit = direct.filter(col("context").isNotNull)
    val miss = direct.filter(col("context").isNull).drop("context")
    // no isEmpty short-circuit: every branch must stay lazy — an extra
    // action inside foreachBatch partially re-executes the upstream
    // stateful operators (see runWithVectorFallback)
    val embedded = embedder.embedColumn(miss, "user_query", "__qv")
    val top1 = graft.operators.SimilaritySearch.topKJoin(
        embedded.select(col("request_id").as("query_id_src"), col("__qv")),
        "query_id_src", "__qv",
        kb.select(col("content"), col("embedding")), "content", "embedding", k = 1)
      .select(col("query_id").as("request_id"), col("content").as("context"))
    val enrichedMiss = miss.join(top1, Seq("request_id"), "left")
      .withColumn("context", coalesce(col("context"), lit("")))
    hit.unionByName(enrichedMiss.select(hit.columns.map(col): _*))
  }

  /** Idempotent micro-batch write: the output is partitioned by
    * `batch_id` and written with dynamic partition overwrite, so a batch
    * replayed after a failure between sink write and checkpoint commit
    * OVERWRITES its own partition instead of appending duplicates —
    * upgrading foreachBatch's at-least-once to effectively-once. */
  private def writeBatchIdempotent(
      batch: DataFrame, batchId: Long, outPath: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)

  /** Full §3.3 pipeline with the vector-fallback enrichment: stream
    * dedup, then per-batch direct-context join + kNN top-1 fallback +
    * completion, idempotently written to the sink. */
  def runWithVectorFallback(
      spark: SparkSession, requests: DataFrame, ragContent: DataFrame,
      kb: DataFrame, embedder: graft.search.Embedder, completer: Completer,
      outPath: String, checkpoint: String,
      dedupWindow: String = "5 minutes"): org.apache.spark.sql.streaming.StreamingQuery = {
    val deduped = StreamingOps.dedupWithinWindow(requests, "request_id", "ts", dedupWindow)
    val completeUdf = udf((q: String, c: String) => completer.complete(q, c))
    deduped.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // MUST persist AND fully materialize (count): any later scan of an
        // un-persisted (or partially cached) foreachBatch frame RE-EXECUTES
        // the upstream stateful dedup — the second scan finds the first
        // scan's entries in the state store and silently drops the batch's
        // own rows as "duplicates". A limit-style action (isEmpty) caches
        // only the partitions it touches, so count() it is.
        batch.persist()
        try {
          batch.count()
          writeBatchIdempotent(
            enrichBatch(batch.toDF(), ragContent, kb, embedder)
              .withColumn("ai_response", completeUdf(col("user_query"), col("context")))
              .select("request_id", "job_id", "user_query", "ai_response", "ts"),
            id, outPath)
        } finally batch.unpersist()
      }
      .start()
  }

  /** Stream → KEYED STORAGE UPSERT: the reference's actual continuous
    * loop — job processor output upserted into the versioned store by
    * request_id (`pubnub_job_processor.py` handing results to
    * `vector_service.py:119-125`'s `ON CONFLICT DO UPDATE`), with
    * [[graft.sources.MergeTable]] as the storage layer.
    *
    * Exactly-once ROW STATE under at-least-once foreachBatch: a batch
    * replayed after a failure between merge and checkpoint commit
    * re-merges the same request_ids, and the keyed MERGE replaces the
    * matched rows instead of appending — the table converges to the
    * same state (versions advance; rows don't duplicate). OCC commit
    * retries inside [[graft.sources.MergeTable.merge]] handle racing
    * writers on the same table.
    *
    * `rowLevel` routes each micro-batch through
    * [[graft.sources.MergeTable.mergeLite]] instead of the rewrite
    * merge — the REPLAY-HEAVY deployment's knob: a redelivered batch
    * whose keys spread across the table rewrites every touched file
    * under the default path (StreamMergeBloomDemo's honest ~1x replay
    * number; the demo is since removed:
    * git show c10dac1:src/main/scala/graft/StreamMergeBloomDemo.scala), while
    * the row-level path writes only the batch (MergeLiteDemo: 9.5x
    * median replay wall at 40M rows). The
    * exactly-once convergence argument is unchanged — a replayed batch
    * re-combines the same keys last-wins, so the delta converges to
    * the same rows. The read tax is SCOPED: the manifest records which
    * base files hold superseded rows, so insert-only batches leave
    * reads join-free and a replay taxes only its touched files
    * (MergeLiteDemo phase 2b); disjoint-key batches APPEND their own
    * delta file set, so sustained traffic writes O(batch) per commit
    * (phase 4). Keep the default for insert-mostly streams anyway:
    * an insert-only rewrite merge already writes just the batch (no
    * file is hit), and its rows land in the BASE once — the row-level
    * path parks them in the delta and later pays the fold's full-table
    * rewrite for no replay benefit. */
  def runToMergeTable(
      spark: SparkSession, requests: DataFrame, ragContent: DataFrame,
      completer: Completer, tablePath: String,
      checkpoint: String,
      rowLevel: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    responses(requests, ragContent, completer)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // one materialization (see run); empty batches commit nothing
        batch.persist()
        try {
          if (batch.count() > 0)
            mergeResponsesBatch(spark, batch.toDF(), tablePath, rowLevel)
          ()
        } finally batch.unpersist()
      }
      .start()

  /** One micro-batch of [[runToMergeTable]]: last-state-wins per
    * request_id, then keyed MERGE (init on first use).
    *
    * The within-batch dedup matters even though [[responses]] already
    * deduplicates upstream: `runToMergeTable` is public API over ANY
    * response-shaped stream, and an at-least-once source can deliver
    * the same request_id twice in one micro-batch (replay, re-request).
    * Without it, `merge()`'s uniqueness require would kill the whole
    * streaming query; with it, the newest `ts` wins — the documented
    * MERGE semantics. */
  private[graft] def mergeResponsesBatch(
      spark: SparkSession, batch: DataFrame, tablePath: String,
      rowLevel: Boolean = false): Unit = {
    def mergeInto(updates: DataFrame): Unit = {
      if (rowLevel) graft.sources.MergeTable.mergeLite(
        spark, tablePath, updates, Seq("request_id"))
      else graft.sources.MergeTable.merge(
        spark, tablePath, updates, Seq("request_id"))
      ()
    }
    // tie-break equal-ts duplicates on a content fingerprint: row_number
    // over a tied sort key is partition-order-dependent, and a replay of
    // this batch after a crash must pick the SAME winner or the
    // exactly-once table state breaks (the upsertByKey doc's hazard)
    val contentTie = xxhash64(
      to_json(struct(batch.columns.map(col): _*))).asc
    val deduped = graft.operators.Dedup.firstWins(
      batch, Seq("request_id"), Seq(col("ts").desc, contentTie))
    if (!graft.sources.MergeTable.exists(spark, tablePath)) {
      // init path scans deduped twice (NULL-key probe + the write) —
      // cache it so the window + json-hash dedup runs once (merge()'s
      // path needs no persist: it localCheckpoints updates itself)
      deduped.persist()
      try {
        // init bypasses merge()'s guards — enforce the NULL-key contract
        // here so a bad first batch fails loudly instead of planting rows
        // no later merge can ever match
        require(deduped.filter(col("request_id").isNull).isEmpty,
          "batch contains NULL request_id; merge-table keys must be non-null")
        // exists→init is a TOCTOU race: a concurrent query targeting the
        // same path can win the init; the loser merges instead of dying
        // (the OCC contract runToMergeTable's doc promises)
        // bloom on the unique key: request ids are a uuid-shaped domain
        // where min/max stats cover every probe, so both the merge's
        // touched-file discovery (small batches push the exact key
        // list as one In predicate) and any point lookup need the
        // filters to skip row groups
        try {
          graft.sources.MergeTable.init(spark, tablePath, deduped,
            bloomKeys = Seq("request_id")); ()
        }
        catch {
          case _: IllegalArgumentException |
               _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            mergeInto(deduped)
        }
      } finally deduped.unpersist()
    } else mergeInto(deduped)
    ()
  }

  /** Stream of CDC OPERATIONS → keyed MergeTable: the retraction-aware
    * completion of [[runToMergeTable]] (which is upsert-only — a `D`
    * op had no path to the tombstone delete until this). The
    * reference's retraction (`DELETE FROM knowledge_base WHERE
    * content_hash = $1`, `vector_service.py`) gained a batch API in
    * [[graft.kb.KnowledgeBase.retractByContentHash]]; this is its
    * streaming twin: each micro-batch's upserts and deletes land in ONE
    * [[graft.sources.MergeTable.applyChanges]] commit — an O(batch)
    * write, and one manifest version per non-empty micro-batch, so no
    * reader can pin a version holding only part of a batch.
    *
    * Per-batch semantics match [[graft.query.Relational.applyChanges]]:
    * last-op-wins per key under `(seq desc, content fingerprint)` —
    * the fingerprint tie-break keeps a replayed batch picking the SAME
    * winner (the mergeResponsesBatch hazard) — so after the window a
    * key is EITHER upserted or deleted, never both, which is what the
    * one-commit writer requires of its two sides. Cross-batch ordering
    * is the UPSTREAM's contract: feed this sink
    * [[StreamingCdc.changelog]] (whose per-key state admits only
    * monotone-seq winners) when the source can deliver stragglers; a
    * raw at-least-once source applies each batch's winners as newest.
    *
    * Exactly-once row state under at-least-once foreachBatch, the
    * runToMergeTable argument extended to deletes: a replayed batch
    * re-upserts the same rows (last-wins, converges) and re-tombstones
    * the same keys (tombstoning an absent key is a no-op) — the table
    * converges to the same live rows either way. */
  def runChangesToMergeTable(
      spark: SparkSession, ops: DataFrame, tablePath: String,
      checkpoint: String, keyCols: Seq[String] = Seq("key"),
      seqCol: String = "seq", opCol: String = "op",
      deleteValue: String = "D"): org.apache.spark.sql.streaming.StreamingQuery =
    ops.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyCdcBatch(spark, batch.toDF(), tablePath, keyCols, seqCol,
          opCol, deleteValue)
      }
      .start()

  /** One micro-batch of [[runChangesToMergeTable]]: reconcile the
    * batch's ops per key, then commit the winners — upserts and
    * deletes together — as one row-level change. An empty batch
    * commits nothing.
    *
    * The winners are materialized ONCE, as a lazy local checkpoint
    * whose first pass is one bounded collect of (key, route): it
    * routes the batch, refuses a NULL op, shows an empty batch and
    * validates both key sides on the driver ([[graft.sources.KeySet
    * .routed]]). The writer reads the upsert side from that checkpoint
    * and takes the validated sides as they are — past the literal
    * budget as one held key set — so it neither re-materializes nor
    * re-validates them. Keys that cannot be held on the driver
    * (several key columns, an unstable key type, a batch past
    * [[graft.sources.KeySet.HeldLimit]]) take one routing aggregate
    * and the writer's own validation instead. */
  private[graft] def applyCdcBatch(
      spark: SparkSession, batch: DataFrame, tablePath: String,
      keyCols: Seq[String], seqCol: String, opCol: String,
      deleteValue: String): Unit = {
    val MT = graft.sources.MergeTable
    val KS = graft.sources.KeySet
    // deterministic winner under replay (the mergeResponsesBatch
    // rationale): seq first, content fingerprint breaking exact ties
    val contentTie = xxhash64(
      to_json(struct(batch.columns.map(col): _*))).asc
    val winners = graft.operators.Dedup.firstWins(
      batch, keyCols, Seq(col(seqCol).desc, contentTie)).localCheckpoint(false)
    try {
      val upsert = col(opCol) =!= deleteValue
      // a NULL op matches NEITHER route — the row would vanish
      // silently — so it is refused loudly like the NULL-key contract
      val noRoute = s"batch contains NULL in op column '$opCol'; every CDC op must " +
        s"be an upsert marker or '$deleteValue'"
      val sides = KS.routed(winners, keyCols, upsert, noRoute)
      // the frame path: ONE aggregate in a single task (no exchange)
      val (nU, nD) = sides.fold {
        val r = winners.coalesce(1).select(
          count(when(col(opCol).isNull, lit(1))),
          count(when(upsert, lit(1))), count(when(!upsert, lit(1)))).head()
        require(r.getLong(0) == 0L, noRoute)
        (r.getLong(1), r.getLong(2))
      } { case (u, d) => (u.size.toLong, d.size.toLong) }
      val ups = Option.when(nU > 0)(winners.filter(upsert).drop(opCol))
      def commit(): Unit = {
        val ch = sides match {
          case Some((u, d)) => KS.collectedChanges(keyCols.head,
            winners.schema(keyCols.head).dataType, u, d, hasDeletes = d.nonEmpty)
          case None => KS.validatedChanges(ups, Option.when(nD > 0)(
            winners.filter(!upsert).select(keyCols.map(col): _*)), keyCols)
        }
        try { MT.applyValidated(spark, tablePath, ups, ch); () }
        finally ch.deletes.foreach(graft.util.Checkpoints.free)
      }
      if (nU == 0 && nD == 0) () // an empty batch commits nothing
      else if (MT.exists(spark, tablePath)) commit()
      else ups.foreach { u =>
        // the first batch creates the table from its upserts alone: its
        // deletes name keys the upserts do not hold (one op per key
        // after the window), so on a table that did not exist they
        // remove nothing, and init IS the batch's one version. Init
        // bypasses the writer's guards — enforce the NULL-key contract
        // here (the mergeResponsesBatch rationale) — and a lost
        // exists→init race commits the whole batch instead, per the
        // OCC contract.
        require(sides.fold(u.filter(keyCols.map(col(_).isNull).reduce(_ || _)).isEmpty)(
            !_._1.contains(null)),
          s"batch contains NULL in key (${keyCols.mkString(",")}); " +
            "merge-table keys must be non-null")
        try { MT.init(spark, tablePath, u, bloomKeys = keyCols); () }
        catch {
          case _: IllegalArgumentException |
               _: org.apache.hadoop.fs.FileAlreadyExistsException => commit()
        }
      }
    } finally graft.util.Checkpoints.free(winners)
  }

  /** Run to a parquet `job_responses` sink with checkpointing; the
    * `foreachBatch` shape also side-publishes counts (the reference's
    * publish tap) via the provided callback. */
  def run(
      spark: SparkSession, requests: DataFrame, ragContent: DataFrame,
      completer: Completer, outPath: String, checkpoint: String,
      onBatch: (Long, Long) => Unit = (_, _) => ()): org.apache.spark.sql.streaming.StreamingQuery =
    responses(requests, ragContent, completer)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // one execution of the micro-batch: count() + write would run the
        // plan (and the external completer) twice per row
        batch.persist()
        try {
          val n = batch.count()
          writeBatchIdempotent(batch.toDF(), id, outPath)
          onBatch(id, n)
        } finally batch.unpersist()
      }
      .start()
}
