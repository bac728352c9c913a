package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Serving-cost measurement for the persisted near-dup index: at 1M
  * indexed docs, what does the per-batch admission probe actually
  * cost versus the only alternative the batch operators offer —
  * re-running MinHash over the full corpus?
  *
  *  - **build** ([[operators.DedupIndex.build]]): shingle + sign the
  *    corpus once, persist bands + shingles (one-time, amortized);
  *  - **probe** ([[operators.DedupIndex.nearDupsAgainst]]) of a 4k
  *    batch (half planted near-dups of indexed docs, half novel):
  *    pushed `bucket IN` band scan + candidate-pruned verification;
  *  - **fresh recompute** ([[operators.Dedup.minHashNearDups]] over
  *    corpus ∪ batch, filtered to batch-touching pairs): what every
  *    ingest batch would pay without the index.
  *
  * Reported: wall time for each, pair counts (probe and recompute
  * must agree exactly — same banding, shared code), and the planted-
  * dup recall check. The probe's independence from corpus size is the
  * scale story: its band scan reads only the batch's buckets (footer-
  * pruned after [[operators.DedupIndex.compact]]) and its verify join
  * only the collision candidates' shingle rows.
  * Run: `sbt "runMain graft.DedupIndexScaleDemo"`; `DEDUP_DOCS` /
  * `DEDUP_BATCH` size the corpus/batch. */
object DedupIndexScaleDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)
    import spark.implicits._

    val nDocs = sys.env.getOrElse("DEDUP_DOCS", "1000000").toLong
    val nBatch = sys.env.getOrElse("DEDUP_BATCH", "4000").toInt
    val words = 30
    val vocab = 50000L
    // DEDUP_PATH reuses an already-built index (iterating on probe cost
    // without paying the build)
    val reuse = sys.env.get("DEDUP_PATH")
    val path = reuse.getOrElse(java.nio.file.Files
      .createTempDirectory("graft_dedup_idx").toString + "/idx")
    println(s"index path: $path")

    // DEDUP_HOT=k plants a k-doc IDENTICAL boilerplate family at the
    // tail of the corpus — the degenerate-bucket hazard the
    // maxBucketPostings guard bounds
    val nHot = sys.env.getOrElse("DEDUP_HOT", "0").toInt
    val nUnique = nDocs - nHot

    // deterministic ~unique 30-word docs: at 50k vocab the chance of
    // two random docs sharing most shingles is negligible, so every
    // high-Jaccard pair found is a PLANTED one
    def wordExpr(seed: Column, j: Column): Column =
      concat(lit("w"), pmod(xxhash64(seed * 1000003L + j * 8191L), lit(vocab)))
    def textFor(seed: Column): Column =
      concat_ws(" ", transform(sequence(lit(0), lit(words - 1)),
        j => wordExpr(seed, j)))
    val hotText = "hot boilerplate " + (0 until words - 2).map(j => s"h$j").mkString(" ")

    val corpus = spark.range(nDocs).toDF("doc_id")
      .select(col("doc_id"),
        when(col("doc_id") >= nUnique, lit(hotText))
          .otherwise(textFor(col("doc_id"))).as("text"))
      .localCheckpoint(true)
    println(s"corpus=${corpus.count()} docs" +
      (if (nHot > 0) s" (incl. $nHot-doc identical family)" else ""))

    // batch: even slots perturb an indexed doc's LAST word (30 words →
    // 28 shingles; one changed word kills 3 → jaccard 25/31 ≈ 0.81 ≥
    // 0.8), odd slots are novel (seed range disjoint from the corpus)
    val stride = nUnique / (nBatch / 2).max(1)
    val batch = spark.range(nBatch).toDF("i")
      .select((col("i") + nDocs).as("doc_id"),
        when(col("i") % 2 === 0,
            concat_ws(" ",
              transform(sequence(lit(0), lit(words - 2)),
                // floor-div then cast BEFORE the multiply: the seed must
                // be a LONG or xxhash64 hashes a double and the planted
                // words stop matching the corpus's
                j => wordExpr((col("i") / 2).cast("long") * stride, j)),
              lit("changed")))
          .otherwise(textFor(col("i") + 2L * nDocs))
          .as("text"))
      .localCheckpoint(true)
    println(s"batch=${batch.count()} docs (${nBatch / 2} planted near-dups)")

    import graft.util.Timing.time

    if (reuse.isEmpty) {
      time(s"build index ($nDocs docs, one-time)") {
        operators.DedupIndex.build(spark, path, corpus, "doc_id", "text")
      }
      time("compact (bucket-major locality, one-time)") {
        operators.DedupIndex.compact(spark, path, numFiles = 32)
      }
    }

    val probe = time(s"PROBE $nBatch-doc batch against the index") {
      operators.DedupIndex.nearDupsAgainst(
        spark, path, batch, "doc_id", "text", threshold = 0.8)
    }
    val probePairs = probe.count()
    val planted = probe.filter(col("id_a") < nDocs).count()
    println(s"probe pairs=$probePairs (planted corpus-hits=$planted of ${nBatch / 2})")

    if (nHot > 0) {
      // the degenerate case: ONE batch doc matching the identical
      // family makes every one of its buckets hold nHot corpus
      // postings — unguarded, that's nHot candidate pairs to verify;
      // guarded, the hot buckets drop whole before pairs form
      val hotBatch = batch.unionByName(
        Seq((nDocs + nBatch.toLong, hotText)).toDF("doc_id", "text"))
        .localCheckpoint(true)
      val un = time(s"probe incl. family-matching doc, UNGUARDED") {
        operators.DedupIndex.nearDupsAgainst(
          spark, path, hotBatch, "doc_id", "text", threshold = 0.8)
      }
      println(s"  unguarded pairs=${un.count()} (family contributes $nHot)")
      val gd = time(s"probe incl. family-matching doc, maxBucketPostings=1000") {
        operators.DedupIndex.nearDupsAgainst(
          spark, path, hotBatch, "doc_id", "text", threshold = 0.8,
          maxBucketPostings = Some(1000))
      }
      println(s"  guarded pairs=${gd.count()} (family bounded out)")
    }

    if (!sys.env.contains("DEDUP_SKIP_FRESH")) {
      val fresh = time("FRESH recompute (minHashNearDups over corpus ∪ batch)") {
        val pairs = operators.Dedup.minHashNearDups(
          corpus.unionByName(batch), "doc_id", "text", threshold = 0.8)
        pairs.filter(col("id_a") >= nDocs || col("id_b") >= nDocs)
      }
      val freshPairs = fresh.count()
      println(s"fresh batch-touching pairs=$freshPairs " +
        s"(probe/fresh agree: ${freshPairs == probePairs})")
    }

    spark.stop()
  }
}
