package graft

import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Scale validation for the retrieval/curation operators at 1M+ docs:
  * repeated-span dedup (q99), BM25 (q100), RRF fusion (q101), and the
  * true vector+lexical hybridSearch (q102) over a corpus built by
  * replicating sf0.1's 5k documents/embeddings `RETRIEVAL_COPIES`
  * (default 200) times. Each copy's vocabulary is prefixed so repeated
  * spans exist only within a copy (the honest case for span dedup: the
  * gram table grows with the corpus, not just the counts); embeddings
  * keep their float values (identical across copies), which makes the
  * vector leg's top-k maximally tie-heavy — a worst case for the heap,
  * not a shortcut. Run manually: `sbt "runMain graft.RetrievalScaleDemo"`.
  */
object RetrievalScaleDemo {
  def main(args: Array[String]): Unit = {
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)
    // the recorded numbers ran 2 shuffle partitions per core (64 on local[32])
    spark.conf.set("spark.sql.shuffle.partitions", 2L * cpus)
    val d = "/root/testdata/sf0.1"
    val copies = sys.env.getOrElse("RETRIEVAL_COPIES", "200").toInt
    val base = s"/tmp/graft_retrieval_$copies"

    import graft.util.Timing.time

    // ---- build the scaled corpus once (documents written LAST, and its
    // _SUCCESS file — not the directory, which Spark creates before the
    // write finishes — is the build-complete marker; EVERY other
    // artifact this revision reads is checked too, so a cache dir built
    // by an older demo revision that wrote fewer artifacts cannot be
    // half-reused) --------------------------------------------------------
    val docsPath = s"$base/documents.parquet"
    val artifacts = Seq(docsPath, s"$base/kb.parquet",
      s"$base/kb_ivf.parquet", s"$base/kb_cents.parquet")
    if (!artifacts.forall(p => new java.io.File(p, "_SUCCESS").exists())) {
      val reps = spark.range(copies).select(col("id").as("copy"))
      Tables.embeddings(spark, d).crossJoin(reps)
        .select((col("vec_id") + col("copy") * 1000000L).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
      val scaledDocs = Tables.documents(spark, d).crossJoin(reps)
        .select((col("doc_id") + col("copy") * 1000000L).as("doc_id"),
          // copy-prefixed vocabulary: spans/terms never match across copies
          concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
            w => concat(lit("c"), col("copy"), lit("_"), w))).as("text"))
      // the knowledge base is ONE stored table (text + embedding), as in
      // the reference's knowledge_base — hybridSearch must be measured
      // over that, not over an in-flight fixture join
      scaledDocs
        .join(spark.read.parquet(s"$base/embeddings.parquet"),
          scaledDocs("doc_id") === col("vec_id"))
        .select(scaledDocs("doc_id"), col("text"), col("embedding"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$base/kb.parquet")
      // IVF-clustered twin of the kb table + its coarse quantizer, for
      // the planner-transparent pruned variant below
      val kbBuilt = spark.read.parquet(s"$base/kb.parquet")
      val cents = operators.SimilaritySearch.kmeansCentroids(
        kbBuilt, "doc_id", "embedding", k = 16, iters = 3)
      cents.write.mode("overwrite").parquet(s"$base/kb_cents.parquet")
      operators.SimilaritySearch.assignClusters(kbBuilt, "embedding", cents)
        .withColumnRenamed("cluster", "ivf_cluster")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$base/kb_ivf.parquet")
      scaledDocs.repartition(64).write.mode("overwrite").parquet(docsPath)
    }
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val kbTable = spark.read.parquet(s"$base/kb.parquet")
    val nDocs = docs.count()
    val nKb = kbTable.count() // outside every timed region, like the warmup
    println(s"documents=$nDocs embeddings=${emb.count()} kb=$nKb")
    docs.agg(sum(length(col("text")))).head() // warmup: footers + codegen

    time(s"repeated 8-gram spans ($nDocs docs)") {
      val spans = operators.Curation
        .repeatedNgramSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
      println(s"  spans=${spans.count()}")
    }

    time(s"BM25 top-100 x 2 queries + RRF ($nDocs docs)") {
      val rankings = operators.Lexical.bm25TopKMany(docs, "doc_id", "text",
        Seq(Seq("c0_spark", "c0_join", "c0_slow"), Seq("c0_vector", "c0_stream")),
        k = 100)
      println(s"  fused=${operators.Lexical.rrfFuse(rankings, "doc_id", 20).count()}")
    }

    val q = Tables.embeddings(spark, d).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    time(s"hybridSearch: cosine + BM25 + RRF ($nKb-row kb)") {
      val hits = graft.kb.KnowledgeBase.hybridSearch(
        kbTable, "doc_id", "text", "c0_spark c0_join c0_slow", q,
        k = 20, poolSize = 100)
      println(s"  hits=${hits.count()}")
    }

    // the same call over the IVF-clustered twin with a registered
    // quantizer: matchDocuments' ranked-distance sort is rewritten at
    // plan time to probe 2 of 16 clusters — hybridSearch's vector leg
    // scans ~1/8th of the corpus without the caller changing anything
    val kbIvf = spark.read.parquet(s"$base/kb_ivf.parquet")
    val cents = spark.read.parquet(s"$base/kb_cents.parquet")
    kbIvf.count() // metadata warm, matching the unindexed measurement
    graft.plans.IvfIndex.register(
      spark, kbIvf, "ivf_cluster", "embedding", cents, nprobe = 2)
    try time("hybridSearch, vector leg IVF-pruned (nprobe=2/16)") {
      val hits = graft.kb.KnowledgeBase.hybridSearch(
        kbIvf, "doc_id", "text", "c0_spark c0_join c0_slow", q,
        k = 20, poolSize = 100)
      println(s"  hits=${hits.count()}")
    } finally graft.plans.IvfIndex.unregister(spark, "embedding")

    // ---- persisted lexical index: the serving path. Build once (the
    // one-time cost a deployment pays at ingest), then serve the same
    // hybrid search with the lexical leg reading ONLY the query terms'
    // postings — vs re-tokenizing the whole corpus per session above.
    val lexPath = s"$base/lex_index"
    if (!operators.LexicalIndex.exists(spark, lexPath)) {
      // a reused /tmp dir may hold a pre-composite-layout index from an
      // older build of this demo — publish it instead of rebuilding
      // (build refuses to destroy a legacy layout)
      if (sources.MergeTable.exists(spark, s"$lexPath/postings"))
        operators.LexicalIndex.migrate(spark, lexPath)
      else time(s"LexicalIndex.build ($nKb docs, one-time)") {
        operators.LexicalIndex.build(spark, lexPath, kbTable, "doc_id", "text")
        operators.LexicalIndex.compact(spark, lexPath, numFiles = 32)
      }
    }
    time(s"hybridSearchIndexed: cosine + indexed BM25 + RRF ($nKb-row kb)") {
      val hits = graft.kb.KnowledgeBase.hybridSearchIndexed(
        kbTable, "doc_id", "c0_spark c0_join c0_slow", q, lexPath,
        k = 20, poolSize = 100)
      println(s"  hits=${hits.count()}")
    }
    time(s"BM25 top-100 x 2 queries from the index ($nKb docs)") {
      val rankings = operators.LexicalIndex.bm25TopKMany(spark, lexPath, "doc_id",
        Seq(Seq("c0_spark", "c0_join", "c0_slow"), Seq("c0_vector", "c0_stream")),
        k = 100)
      println(s"  fused=${operators.Lexical.rrfFuse(rankings, "doc_id", 20).count()}")
    }

    // ---- compact(): quantify the footer-pruning claim. compact
    // range-sorts the postings on term, so every file (and every row
    // group inside it) covers a narrow [min,max] term range and a
    // `term IN (...)` scan decodes only the row groups whose range can
    // match — against the uncompacted build (term order scattered by
    // the hash-partitioned MERGE write) the same query must decode the
    // whole table. Measured as task-level input IO around the one
    // postings action. ---------------------------------------------------
    def postingsScanIo(label: String, path: String): Unit = {
      val terms = Seq("c0_spark", "c0_join", "c0_slow", "c0_vector", "c0_stream")
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val records = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
            records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
            ()
          }
      }
      val df = sources.MergeTable.read(
          spark, sources.CompositeIndex.pinnedPath(spark, path, "postings"))
        .filter(col("term").isin(terms: _*))
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val matched = df.collect().length // same QueryExecution → live metrics
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2000) // listener bus drains async
      spark.sparkContext.removeSparkListener(listener)
      val filesScanned = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
      // MergeTable lays files out under versioned subdirectories —
      // count the parquet leaves recursively
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(sources.CompositeIndex.pinnedPath(spark, path, "postings")))
      val onDisk =
        try walk.filter(p => p.toString.endsWith(".parquet")).count()
        finally walk.close()
      println(f"  $label: filesOnDisk=$onDisk filesScanned=$filesScanned " +
        f"bytesRead=${bytes.get / 1048576.0}%.1f MiB " +
        f"recordsDecoded=${records.get} matchedPostings=$matched " +
        f"scan=$secs%.2fs")
    }
    val lexRaw = s"$base/lex_uncompacted"
    if (!operators.LexicalIndex.exists(spark, lexRaw)) {
      if (sources.MergeTable.exists(spark, s"$lexRaw/postings"))
        operators.LexicalIndex.migrate(spark, lexRaw)
      else operators.LexicalIndex.build(spark, lexRaw, kbTable, "doc_id", "text")
    }
    postingsScanIo("postings scan, UNCOMPACTED", lexRaw)
    postingsScanIo("postings scan, compacted(32)", lexPath)
    spark.stop()
  }
}
