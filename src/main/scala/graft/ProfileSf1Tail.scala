package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Curation, Dedup}
import graft.util.Sessions

/** Stage decomposition for the three standing >2x rows of the sf1
  * scale-step bench (q70 curation, q43 embedding near-dups, q73
  * quality cut) — run back-to-back on two SF dirs in ONE session
  * window so the ratios are host-comparable:
  * `sbt "runMain graft.ProfileSf1Tail /root/testdata/sf0.1 /tmp/graft_sf1"`.
  *
  * The question each decomposition answers: is the >2x-for-10x ratio
  * a fixed-cost denominator artifact, or does a stage grow
  * superlinearly? (Linear-in-bytes expression scans are EXPECTED to
  * approach 10x once local[32] is saturated — they scale out across
  * executors at 100 TB, unlike a superlinear pair stage, which would
  * not.) */
object ProfileSf1Tail {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf1")

    def t(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-52s ${(System.nanoTime() - t0) / 1e9}%7.3f s  (rows=$n%,d)")
    }

    for (d <- dirs) {
      println(s"== $d ==")
      val docs = Tables.documents(spark, d)
      t("q70 a: bare documents scan (text bytes)") {
        docs.select(count(col("text"))).head().getLong(0)
      }
      t("q70 b: + annotate (fused TextSignals pass)") {
        // the exact shape Curation.curate uses: one bound signal struct
        docs.filter(col("text").isNotNull)
          .select(TF.textSignals(col("text")).as("__ts"))
          .select(
            col("__ts").getField("n_tokens").cast("long").as("n_tokens"),
            TF.punctRatioFromSignals(col("__ts")).as("punct_ratio"),
            TF.langFromScores(col("__ts").getField("lang_hits")).as("lang_pred"))
          .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
            col("punct_ratio") <= 0.1 && col("lang_pred") === "en")
          .count()
      }
      t("q70 c: full curate (+ exact dedup + hash sample)") {
        Curation.curate(docs, "doc_id", "text",
          Curation.Config(lang = Some("en"), minTokens = 20,
            maxTokens = 1000, maxPunctRatio = 0.1, sampleFraction = 0.5))
          .count()
      }
      val emb = Tables.embeddings(spark, d)
      t("q43 a: embeddings scan") {
        emb.select(count(col("embedding"))).head().getLong(0)
      }
      t("q43 b: within-label pair counts (pre-cosine)") {
        val n = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
        n.select(sum((col("n") * (col("n") - 1) / 2).cast("long")))
          .head().getLong(0)
      }
      t("q43 c: full embeddingNearDups") {
        Dedup.embeddingNearDups(emb, "vec_id", "embedding",
          clusterCol = "label", minCosine = 0.3).count()
      }
      // q77 (distinctive terms): the largest un-adjudicated sf1 ratio of
      // r13 (5.0x for 10x). Candidate growth drivers: the (doc_id, term)
      // tf shuffle (rows = total token occurrences, linear in corpus
      // bytes) and the term-df join fan-in. The stages isolate them.
      t("q77 a: tokenize + explode (scan leg)") {
        docs.select(col("doc_id"),
          explode(TF.words(lower(col("text")))).as("term")).count()
      }
      t("q77 b: + tf agg (shuffle on doc_id,term)") {
        docs.select(col("doc_id"),
          explode(TF.words(lower(col("text")))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
          .count()
      }
      t("q77 c: + df agg (second shuffle, term)") {
        docs.select(col("doc_id"),
          explode(TF.words(lower(col("text")))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
          .count()
      }
      t("q77 d: full query (join + per-doc top-1 window)") {
        SparkEntry.queries("q77_distinctive_terms")(spark, d).count()
      }
      t("q73 a: stopwordRatio scan") {
        docs.select(col("doc_id"), col("lang"),
          TF.stopwordRatio(col("text")).as("sw")).count()
      }
      t("q73 b: full quality cut") {
        val scored = docs.select(col("doc_id"), col("lang"),
          TF.stopwordRatio(col("text")).as("sw")).localCheckpoint(true)
        val cuts = scored.groupBy(col("lang"))
          .agg(expr("percentile(sw, 0.25)").as("cut"))
        val r = scored.join(broadcast(cuts), Seq("lang"))
          .filter(col("sw") > col("cut"))
          .groupBy(col("lang")).agg(count(lit(1)).as("kept")).count()
        graft.operators.Dedup.freeCheckpoint(scored)
        r
      }
    }
    spark.stop()
  }
}
