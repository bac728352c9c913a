package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Shared pushable-literal-list probe for the index serving paths
  * (DedupIndex buckets, shingle candidate ids, SemanticIndex clusters)
  * and the touched-file discovery of a small
  * [[graft.sources.KeySet.Frame]] — one place for the
  * collect-bounded-then-isin idiom and its truncation subtlety.
  */
object Pushdown {

  /** The distinct values of `keyCol` IF there are at most `limit` of
    * them. `Some(keys)` means the list is COMPLETE — safe to push as an
    * exact `isin` membership filter (one parquet In predicate, checked
    * against footer stats and bloom filters). `None` means the
    * cardinality exceeded the limit and the caller must fall back
    * (broadcast semi-join / range): a literal list that size costs more
    * in Catalyst ANALYSIS than the scan it prunes (measured in
    * DedupIndex: 128k literals turned a ~10 s probe into 32 s). */
  def keyLiterals(df: DataFrame, keyCol: String, limit: Int): Option[Seq[Any]] = {
    val keys = df.select(col(keyCol)).distinct()
      .limit(limit + 1).collect().map(_.get(0)).toSeq
    if (keys.length <= limit) Some(keys) else None
  }

  /** Per-call bound for bulk id-predicate lists (retraction purges):
    * above a few thousand isin literals, Catalyst analysis costs more
    * than the filter prunes (the measured 128k-literal lesson). ONE
    * constant for every chunked purge ([[graft.streaming
    * .IndexMaintenance]], [[graft.operators.ImageDedupIndex]]) so the
    * bound cannot drift per call site. */
  val RetractChunk = 5000
}
