package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Bm25, TextFunctions}

/** Lexical retrieval — the BM25 sibling of the vector-search path, and
  * the rank-fusion glue for hybrid retrieval. The reference's RAG stack
  * is vector-only (`knowledge_base-RAG.sql:43-67`); a production corpus
  * at 100 TB pairs that with a lexical ranker (exact identifiers, rare
  * terms, error codes — everything embeddings blur) and fuses the two
  * rankings. Both operators here are deterministic and engine-portable
  * (fixed-order floating-point sums, md5-free), so the driver's DuckDB
  * oracle checks them end to end.
  */
object Lexical {

  /** Okapi BM25 top-k for one bag-of-terms query.
    *
    * Plan shape — ONE tokenizing pass over the corpus, total:
    *  1. the text is word-split once and immediately narrowed to
    *     (id, dl, query-term occurrences), then `localCheckpoint`ed —
    *     the regex tokenization of the full corpus is the dominant cost
    *     at scale, and without the checkpoint every downstream pass
    *     (N/avgdl aggregate, df shuffle, each query's scoring scan)
    *     re-pays it: measured at 1M docs, 58 s re-splitting vs ~20 s
    *     checkpointed for a two-query fusion;
    *  2. N/avgdl and the per-term document frequencies (|terms| driver
    *     rows, small by construction) aggregate off the narrow frame;
    *  3. per query, one shuffle-free scoring pass over the narrow frame:
    *     the [[graft.functions.Bm25Score]] kernel counts each term's tf
    *     in the (tiny) occurrence array and sums the Okapi terms
    *     LEFT-TO-RIGHT over `terms` with the oracle's exact operator
    *     association ((b*dl)/avgdl), so the floating-point result is
    *     bit-reproducible across engines. The query's terms, idfs and
    *     avgdl reach the generated code as referenced objects, never as
    *     inlined literals: the stage's Java source depends only on the
    *     plan shape, so it compiles once per JVM, not once per query;
    *     TakeOrderedAndProject keeps per-partition k-row heaps (no
    *     corpus sort, no shuffle).
    * EAGER (the minHashNearDups discipline): the k-row results are
    * materialized and the corpus-sized frame is freed before returning
    * — a serving loop calling this per user query must not pin one
    * corpus-sized block set per in-flight query waiting on driver GC.
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene's non-negative
    * smoothing); docs matching no term are dropped. Ties break by id.
    */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKMany(docs, idCol, textCol, Seq(terms), k, k1, b).head

  /** [[bm25TopK]] for SEVERAL queries over one corpus, sharing the
    * statistics work: one N/avgdl aggregate and ONE document-frequency
    * shuffle over the union of all query terms serve every ranking
    * (a hybrid-search caller otherwise pays the stats passes per
    * ranking). Returns one (idCol, score) frame per query, in order. */
  def bm25TopKMany(
      docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[Seq[String]], k: Int, k1: Double = 1.2,
      b: Double = 0.75): Seq[DataFrame] = {
    require(queries.nonEmpty && queries.forall(_.nonEmpty),
      "every query needs at least one term")
    require(k >= 1, s"k must be >= 1, got $k")
    // strict List: the map over queries below MUST run its checkpoints
    // before the finally frees the corpus frame (a lazy Seq would
    // compute them after the blocks are gone)
    val lowered = queries.toList.map(_.map(_.toLowerCase(java.util.Locale.ROOT)).distinct)
    val allTerms = lowered.flatten.distinct
    // ONE tokenizing scan of the corpus: split, keep (id, dl, just the
    // query-term occurrences), checkpoint. __wq is bounded by each doc's
    // matching words (typically a handful), so the materialized frame is
    // narrow; every stats/scoring pass below reads it instead of
    // re-splitting the text, and per-term tf scans only __wq — a
    // 20-term query costs the same corpus work as a 2-term one.
    val termsLit = typedlit(allTerms)
    val scored = docs.select(col(idCol).as("id"),
        TextFunctions.wordsLower(col(textCol)).as("__ws"))
      .select(col("id"), size(col("__ws")).cast("double").as("__dl"),
        filter(col("__ws"), w => array_contains(termsLit, w)).as("__wq"))
      .localCheckpoint(true)

    // EVERYTHING that can throw after the checkpoint sits inside the try
    // — the empty-corpus require (a serving loop's realistic input) and
    // the stats/df actions included; a throw before the finally would
    // pin the corpus-sized blocks until driver GC.
    try {
      val stats = scored.agg(count(lit(1)).as("n"), avg(col("__dl")).as("avgdl")).head()
      val n = stats.getLong(0)
      require(n > 0, "corpus is empty")
      val avgdl = stats.getDouble(1)
      // df per term off the narrow frame; array_intersect dedups, so a
      // doc counts once per term it contains — identical to the old
      // full-array formulation
      val dfCounts = scored
        .select(explode(array_intersect(col("__wq"), termsLit)).as("__t"))
        .groupBy(col("__t")).agg(count(lit(1)).as("__df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      lowered.map { termsLower =>
        val idfs = termsLower.map(t => Bm25.idf(n, dfCounts.getOrElse(t, 0L)))
        topKByScore(scored,
          Bm25.score(col("__wq"), col("__dl"), termsLower, idfs, avgdl, k1, b), idCol, k)
          .localCheckpoint(true)
      }
    } finally graft.util.Checkpoints.free(scored)
  }

  /** The top-k tail both BM25 paths share: rows scoring > 0, ordered
    * (score DESC, id ASC), scores rounded to 6 places. `frame` carries
    * `id`. Returns the LAZY plan: eager callers materialize it before
    * freeing their inputs, and the indexed single-query ranking stays
    * lazy so a fused hybrid plan runs it in the same action as the
    * vector leg. The `> 0` filter runs AFTER the limit — equivalent,
    * because positive scores sort ahead of zeros under (score DESC,
    * id ASC) — so Catalyst cannot inline the score alias into a
    * pushed-down Filter and run the kernel twice per row. */
  private[operators] def topKByScore(
      frame: DataFrame, score: Column, idCol: String, k: Int): DataFrame =
    frame.withColumn("__score", score)
      .orderBy(desc("__score"), asc("id"))
      .limit(k)
      .filter(col("__score") > 0)
      .select(col("id").as(idCol), round(col("__score"), 6).as("score"))

  /** Reciprocal-rank fusion over any number of (idCol, score) rankings:
    * rrf(id) = sum over rankings of 1/(c + rank), rank 1-based by
    * (score DESC, id ASC). The standard hybrid-retrieval combiner
    * (Cormack et al. 2009) — rank-space fusion is immune to the
    * incomparable score scales of BM25 vs cosine. Inputs are top-k
    * frames (small by construction), so the single-partition rank
    * windows are bounded; the fused frame is at most the union of the
    * inputs. Summation folds over the rankings in argument order for
    * cross-engine reproducibility. */
  def rrfFuse(
      rankings: Seq[DataFrame], idCol: String, k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1, s"k must be >= 1, got $k")
    val contribs = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol).as("id"),
          row_number().over(Window.orderBy(desc("score"), asc(idCol)))
            .cast("double").as("__r"))
        .select(col("id"), (lit(1.0) / (lit(c.toDouble) + col("__r"))).as(s"__c$i"))
    }
    val joined = contribs.zipWithIndex
      .map { case (d, i) => (d, s"__c$i") }
      .reduceLeft[(DataFrame, String)] { case ((acc, accCol), (d, dCol)) =>
        val merged = acc.join(d, Seq("id"), "full_outer")
          .select(col("id"),
            (coalesce(col(accCol), lit(0.0)) + coalesce(col(dCol), lit(0.0)))
              .as("__fused"))
        (merged.withColumnRenamed("__fused", "__acc"), "__acc")
      }
    joined._1
      .orderBy(desc(joined._2), asc("id"))
      .limit(k)
      .select(col("id").as(idCol), round(col(joined._2), 6).as("rrf_score"))
  }
}
