package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch
import graft.util.Sessions

/** Measured recall / latency / IO tradeoff for the IVF ANN serving path
  * — the numbers a deployment actually tunes (`nprobe`, and the
  * persisted layout) quantified against exact brute-force, instead of
  * asserted qualitatively.
  *
  * Corpus: 1M DISTINCT 64-d vectors drawn as a mixture of 256 latent
  * centers plus per-dim noise — the clustered geometry real embedding
  * spaces have (on uniform random data no coarse quantizer can work).
  * Distinctness matters: the 400k retrieval kb replicates identical
  * vectors 80×, so recall@20 there would measure tie-picking, not ANN
  * quality. Queries are 50 real corpus vectors nudged by ±0.01 — their
  * true neighbors are their latent-center siblings.
  *
  * Three measurements per nprobe through the REGISTERED planner rule
  * ([[graft.plans.IvfIndex]] — `matchDocuments` unchanged, the rewrite
  * injects the probe filter):
  *   recall@20 vs exact, wall s/query, and the scan's own output-row
  *   count (rows that survived pruning and reached the cosine).
  * Two persisted layouts:
  *   - FLAT parquet (what `indexKnowledge` wrote before round 8): the
  *     probe filter skips the cosine on non-probed rows but every file
  *     is read — IO stays corpus-sized;
  *   - PARTITIONED by cluster (the ivfflat list layout
  *     `indexKnowledge` writes now): the same filter prunes at the
  *     directory level — IO drops to ~nprobe/nClusters of the corpus.
  * nprobe = nClusters probes everything and MUST recall 1.0 (the
  * exactness gate). Run: `sbt "runMain graft.AnnRecallDemo"`. */
object AnnRecallDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)

    val nVecs = sys.env.getOrElse("ANN_VECS", "1000000").toLong
    val dim = 64
    val latent = 256
    val kmeansK = 32
    val k = 20
    val nQueries = 50
    val base = java.nio.file.Files.createTempDirectory("graft_ann").toString

    def centerExpr(c: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(c * 131071L + i * 524287L), lit(2000)).cast("float") / 1000f) - 1f
    def noiseExpr(id: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(id * 7919L + i * 104729L + 13L), lit(300)).cast("float") / 1000f) - 0.15f

    val corpus = spark.range(nVecs).select(
        col("id").as("doc_id"),
        pmod(col("id"), lit(latent)).as("__c"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => centerExpr(col("__c"), i) + noiseExpr(col("doc_id"), i))
          // float/float division still promotes to double under Spark's
          // numeric rules; every consumer getSeq[Float]s this column
          .cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    println(s"corpus=${corpus.count()} vectors, $latent latent centers")

    val t0 = System.nanoTime()
    // coarse quantizer trained on a 2% sample — standard IVF practice
    val cents = SimilaritySearch.kmeansCentroids(
      corpus.sample(withReplacement = false, 0.02, seed = 42),
      "doc_id", "embedding", k = kmeansK, iters = 5)
      .localCheckpoint(true)
    val clustered = SimilaritySearch.assignClusters(corpus, "embedding", cents)
    println(f"k-means($kmeansK, 5 iters, 20k sample): ${(System.nanoTime() - t0) / 1e9}%.1f s (one-time)")

    // the two persisted layouts under test
    clustered.write.mode("overwrite").parquet(s"$base/flat")
    clustered.repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$base/parted")
    val flat = spark.read.parquet(s"$base/flat")
    val parted = spark.read.parquet(s"$base/parted")

    // EASY queries: real corpus vectors, nudged — all true neighbors are
    // latent-center siblings living in one coarse cluster (the geometry
    // IVF is built for). HARD queries: 60/40 blends of two corpus
    // vectors from DIFFERENT centers — the true top-20 straddles
    // clusters, so nprobe=1 must miss and the recall curve shows the
    // tradeoff being tuned.
    val qStep = nVecs / (nQueries * 2)
    require(qStep >= 1, s"ANN_VECS=$nVecs too small for ${nQueries * 2} queries")
    // hard pairs blend row i with row i+nQueries·qStep; if that offset
    // is ≡ 0 (mod latent) every pair would share a center and the
    // between-cluster curve would silently measure the easy case
    require((nQueries.toLong * qStep) % latent != 0,
      s"degenerate ANN_VECS=$nVecs: hard-query pairs would share centers")
    val qRows = corpus.filter(pmod(col("doc_id"), lit(qStep)) === 3)
      .orderBy("doc_id").limit(nQueries * 2).collect()
      .map(_.getSeq[Float](1).toArray)
    val easyQueries: Seq[Array[Float]] = qRows.take(nQueries).zipWithIndex.map {
      case (v, _) => v.zipWithIndex.map { case (x, i) => x + 0.001f * ((i % 21) - 10) }
    }.toSeq
    val hardQueries: Seq[Array[Float]] = qRows.take(nQueries)
      .zip(qRows.drop(nQueries))
      .map { case (a, b) => a.zip(b).map { case (x, y) => 0.6f * x + 0.4f * y } }
      .toSeq

    def topIds(df: DataFrame): Set[Long] =
      // collect from df ITSELF: a .select would derive a new
      // QueryExecution and leave df's plan (whose metrics we read)
      // unexecuted
      df.collect().map(_.getAs[Long]("doc_id")).toSet

    def measure(label: String, kb: DataFrame, queries: Seq[Array[Float]],
        truth: Option[Seq[Set[Long]]]): (Seq[Set[Long]], Double, Long) = {
      var secs = 0.0
      var scanRows = 0L
      val results = queries.map { q =>
        val df = graft.kb.KnowledgeBase.matchDocuments(kb, q, k)
        val t = System.nanoTime()
        val ids = topIds(df)
        secs += (System.nanoTime() - t) / 1e9
        // the scan node's own numOutputRows = rows that survived
        // partition pruning and reached the cosine — the IO evidence
        // (the task-level bytesRead metric under-reports on local fs)
        scanRows += graft.util.Plans.flatten(df.queryExecution.executedPlan)
          .collect {
            case s: org.apache.spark.sql.execution.FileSourceScanExec =>
              s.metrics("numOutputRows").value
          }.sum
        ids
      }
      val rowsPerQ = scanRows / queries.size
      val recall = truth.map(ts => results.zip(ts)
        .map { case (g, t) => g.intersect(t).size.toDouble / k }.sum / queries.size)
      println(f"| $label | ${recall.map(r => f"$r%.3f").getOrElse("—")} | " +
        f"${secs / queries.size}%.3f | $rowsPerQ%d |")
      (results, secs, rowsPerQ)
    }

    Seq(("EASY (within-cluster)", easyQueries),
        ("HARD (between-cluster)", hardQueries)).foreach { case (setName, qs) =>
      println(s"\n$setName queries:")
      println("| path | recall@20 | s/query | scan rows/query |")
      println("|---|---|---|---|")
      val (exact, _, _) = measure("exact full scan (flat)", flat, qs, None)
      Seq(1, 2, 4, 8, kmeansK).foreach { nprobe =>
        graft.plans.IvfIndex.register(spark, parted, "cluster", "embedding", cents, nprobe)
        val (got, _, _) =
          measure(f"ivf parted nprobe=$nprobe%2d", parted, qs, Some(exact))
        graft.plans.IvfIndex.unregister(spark, "embedding")
        if (nprobe == kmeansK) {
          val recall = got.zip(exact)
            .map { case (g, t) => g.intersect(t).size.toDouble / k }.sum / qs.size
          assert(recall == 1.0, f"nprobe=all must be exact, got $recall%.3f")
        }
      }
      // the counterfactual layout: same rule, flat files — IO stays full
      graft.plans.IvfIndex.register(spark, flat, "cluster", "embedding", cents, 1)
      measure("ivf FLAT   nprobe= 1", flat, qs, Some(exact))
      graft.plans.IvfIndex.unregister(spark, "embedding")
    }

    // ---- PQ: recall vs compression, and the shortlist-rerank repair ----
    // m=8 subspaces × 256 byte codes over d=64 → 8 bytes/vector (32×
    // compression). ADC-only ranks by quantized distance; the standard
    // repair reranks an ADC shortlist exactly. Ground truth is exact
    // squared-L2 (PQ's metric — the cosine tables above are the IVF
    // story, this one is the compression story).
    //
    // This corpus is PQ's ADVERSARIAL case, on purpose: ~3,900
    // same-center siblings all quantize to (nearly) the same codes, so
    // ADC distinguishes clusters but NOT neighbors within one — the
    // true top-20 are code-tied with thousands of rows and ADC-only
    // recall collapses to ~k/cluster-size. The numbers below show the
    // shortlist-rerank repairing exactly as the tie math predicts
    // (recall ≈ shortlist/cluster-size until the shortlist covers the
    // cluster), which is the real sizing rule: the ADC shortlist must
    // cover the quantization-tied neighborhood, not just exceed k.
    // Real embedding spaces sit far from this extreme (within-
    // neighborhood spread >> quantization error), and q86/q86b pin the
    // machinery's exactness independently.
    import graft.functions.{PqFunctions, PqUtil, VectorFunctions}
    val tPq = System.nanoTime()
    val cb = SimilaritySearch.pqTrain(
      corpus.sample(withReplacement = false, 0.02, seed = 7),
      "doc_id", "embedding", m = 8, k = 256, iters = 3)
    val encoded = SimilaritySearch.pqEncodeAll(corpus, "embedding", cb)
      .localCheckpoint(true)
    println(f"\npqTrain(m=8, 20k sample) + encode 1M: ${(System.nanoTime() - tPq) / 1e9}%.1f s (one-time)")

    def exactL2(q: Array[Float]): Set[Long] = {
      val qNormSq = q.map(x => x.toDouble * x).sum
      topIds(corpus
        .withColumn("l2sq",
          VectorFunctions.dotProduct(col("embedding"), col("embedding"))
            + lit(qNormSq)
            - lit(2.0) * VectorFunctions.dotProduct(col("embedding"), typedlit(q)))
        .orderBy(asc("l2sq"), asc("doc_id")).limit(k))
    }
    val l2Truth = hardQueries.map(exactL2)
    println("| PQ path | recall@20 | s/query |")
    println("|---|---|---|")
    def pqMeasure(label: String)(run: Array[Float] => DataFrame): Unit = {
      var secs = 0.0
      val recalls = hardQueries.zip(l2Truth).map { case (q, truth) =>
        val t = System.nanoTime()
        val got = topIds(run(q))
        secs += (System.nanoTime() - t) / 1e9
        got.intersect(truth).size.toDouble / k
      }
      println(f"| $label | ${recalls.sum / recalls.size}%.3f | ${secs / recalls.size}%.3f |")
    }
    pqMeasure("ADC only (8 bytes/vec)")(q =>
      SimilaritySearch.pqTopK(encoded, "doc_id", "pq_codes", q, cb, k))
    Seq(1000, 4000, 8000).foreach { shortlist =>
      pqMeasure(f"ADC shortlist=$shortlist%4d + exact rerank")(q =>
        SimilaritySearch.pqTopKExact(encoded, "doc_id", "embedding",
          "pq_codes", q, cb, k, shortlist))
    }

    // ---- amortized ivfpq serving vs in-query training ----
    // The q86 bench convention times pqTrain INSIDE the query (oracle
    // self-containment); the deployment story is the opposite: encode
    // once into the cluster-partitioned layout, persist the codebooks
    // beside it, and every later query deserializes + scans codes only.
    // Same shortlist/rerank as the 8000-row line above, but from DISK
    // through the persisted layout instead of a pre-trained in-memory
    // frame — plus the one-query-pays-everything counterfactual.
    val ivfpqPath = s"$base/ivfpq"
    val tPersist = System.nanoTime()
    SimilaritySearch.pqEncodeAll(clustered, "embedding", cb)
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(ivfpqPath)
    SimilaritySearch.pqSaveCodebooks(spark, s"$ivfpqPath/_pq_codebooks", cb)
    println(f"persist ivfpq layout (encode+write 1M): ${(System.nanoTime() - tPersist) / 1e9}%.1f s (one-time)")
    val served = spark.read.parquet(ivfpqPath)
    val cbLoaded = SimilaritySearch.pqLoadCodebooks(spark, s"$ivfpqPath/_pq_codebooks")
    println("| serving path | recall@20 | s/query |")
    println("|---|---|---|")
    pqMeasure("amortized: persisted codes + loaded codebooks, shortlist=8000")(q =>
      SimilaritySearch.pqTopKExact(served, "doc_id", "embedding",
        "pq_codes", q, cbLoaded, k, 8000))
    locally {
      val q = hardQueries.head
      val t1 = System.nanoTime()
      val cb1 = SimilaritySearch.pqTrain(
        corpus.sample(withReplacement = false, 0.02, seed = 7),
        "doc_id", "embedding", m = 8, k = 256, iters = 3)
      val enc1 = SimilaritySearch.pqEncodeAll(corpus, "embedding", cb1)
      SimilaritySearch.pqTopKExact(enc1, "doc_id", "embedding",
        "pq_codes", q, cb1, k, 8000).collect()
      println(f"in-query-trained single query (the q86 accounting): " +
        f"${(System.nanoTime() - t1) / 1e9}%.1f s — training dominates; " +
        "the amortized row above is the per-query serving cost")
    }
    spark.stop()
  }
}
