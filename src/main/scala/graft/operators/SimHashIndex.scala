package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, TextFunctions}

/** Persisted SimHash near-dup index for TEXT at ingest — the text
  * facade over the kernel-agnostic 64-bit Hamming core
  * ([[ImageDedupIndex]]'s banded (id, band, bucket, fp) table, probe
  * and admission gate; the scaladoc there owns the layout, recall and
  * scale contracts).
  *
  * [[Dedup.simHashNearDups]] (q34) is the batch sweep: it re-hashes
  * and re-pairs the whole corpus per call. Steady-state text ingest
  * wants the same question the MinHash index answers — "is this batch
  * near-anything we hold?" — but at SimHash's cost point: ONE 64-bit
  * fingerprint per document (no shingle store, no per-doc signature
  * array), exact at `maxHamming <= 3` by the 4×16-bit pigeonhole.
  * MinHash-LSH ([[DedupIndex]]) stays the recall-tunable instrument
  * (Jaccard thresholds, shingle evidence); THIS index is the cheap
  * always-on gate — the two compose, they do not compete.
  *
  * The pinned kernel is index state (the [[ImageDedupIndex]] rule):
  *  - [[Md5Kernel]] (default) — [[HashExpressions.simhash64Md5]],
  *    engine-portable bits (the q34 DuckDB oracle re-derives them);
  *  - [[XxKernel]] — [[HashExpressions.simhash64]], ~3× cheaper per
  *    token, Spark-only.
  * Tokenization is [[TextFunctions.words]] on both, so indexed probes
  * and `Dedup.simHashNearDups` fingerprints agree bit-for-bit
  * (spec-pinned: indexed probe ≡ the batch sweep's pair set
  * restricted to batch-touching pairs).
  *
  * A NULL-text row is a CONTENT RETRACTION ([[DedupIndex.upsert]]'s
  * rule): its id's bands delete, so dead documents stop rejecting
  * future lookalikes. */
object SimHashIndex {

  /** Engine-portable md5-bit kernel (the q34 oracle contract). */
  val Md5Kernel = "simhash64md5"
  /** xxhash64 token-bit kernel — ~3× cheaper, Spark-only. */
  val XxKernel = "simhash64"

  private def fpOf(algo: String)(text: Column): Column = algo match {
    case Md5Kernel => HashExpressions.simhash64Md5(TextFunctions.words(text))
    case XxKernel => HashExpressions.simhash64(TextFunctions.words(text))
    case other if ImageDedupIndex.KnownKernels.contains(other) =>
      throw new IllegalArgumentException(
        s"'$other' is a PIXEL kernel — this index serves images; " +
          "probe it through ImageDedupIndex, not the text wrappers")
    case other => throw new IllegalArgumentException(
      s"unknown simhash kernel '$other' ($Md5Kernel|$XxKernel)")
  }

  /** The index's pinned kernel, refused loudly when it is not a text
    * kernel (a dHash index probed with text would hash differently
    * than the corpus it probes — the exact mistake kernel pinning
    * exists to prevent). */
  private def textAlgo(spark: SparkSession, path: String): String = {
    val a = ImageDedupIndex.algo(spark, path)
    fpOf(a)(lit("probe")) // validates; throws the directional message
    a
  }

  def exists(spark: SparkSession, path: String): Boolean =
    ImageDedupIndex.exists(spark, path)

  def algo(spark: SparkSession, path: String): String =
    ImageDedupIndex.algo(spark, path)

  /** Build from documents (id unique, text the content). CREATE INDEX
    * semantics — the [[ImageDedupIndex.build]] contract. */
  def build(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, algo: String = Md5Kernel): Unit = {
    fpOf(algo)(lit("validate"))
    ImageDedupIndex.build(spark, path,
      docs.select(col(idCol).as("id"), fpOf(algo)(col(textCol)).as("fp")),
      "id", "fp", algo)
  }

  /** Incrementally admit a document batch, hashing with the pinned
    * kernel; NULL text retracts the id ([[ImageDedupIndex.upsert]]'s
    * NULL-fp rule — NULL tokens hash to a NULL fingerprint). */
  def upsert(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val a = textAlgo(spark, path)
    ImageDedupIndex.upsert(spark, path,
      docs.filter(col(idCol).isNotNull)
        .select(col(idCol), fpOf(a)(col(textCol)).as("fp")),
      idCol, "fp")
  }

  /** [[upsert]] from an already-fingerprinted frame — the admit
    * survivors' `fpColOut`, applied with NO re-hash (the admit →
    * upsert loop's cost contract). NULL fps retract, the
    * [[ImageDedupIndex.upsert]] rule. */
  def upsertHashed(
      spark: SparkSession, path: String, hashes: DataFrame,
      idCol: String, fpCol: String): Unit = {
    textAlgo(spark, path) // refuse pixel indexes before writing
    ImageDedupIndex.upsert(spark, path, hashes, idCol, fpCol)
  }

  /** Remove ids outright — [[ImageDedupIndex.delete]] (chunked);
    * frame-sized sets go through [[ImageDedupIndex.deleteKeys]]. */
  def delete(spark: SparkSession, path: String, ids: Seq[Any]): Unit =
    ImageDedupIndex.delete(spark, path, ids)

  /** Bucket-major locality pass — [[ImageDedupIndex.compact]]. */
  def compact(spark: SparkSession, path: String, numFiles: Int): Unit =
    ImageDedupIndex.compact(spark, path, numFiles)

  def vacuum(
      spark: SparkSession, path: String,
      retainMillis: Long = 15L * 60L * 1000L): Int =
    ImageDedupIndex.vacuum(spark, path, retainMillis)

  /** Near-duplicate (id_a, id_b, hamming) pairs between a document
    * batch and the indexed corpus — [[ImageDedupIndex.nearDupsAgainst]]
    * with the batch fingerprinted by the pinned text kernel. */
  def nearDupsAgainst(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3,
      includeBatchPairs: Boolean = true): DataFrame = {
    val a = textAlgo(spark, path)
    ImageDedupIndex.nearDupsAgainst(spark, path,
      batch.select(col(idCol), fpOf(a)(col(textCol)).as("fp")),
      idCol, "fp", maxHamming, includeBatchPairs)
  }

  /** The admission gate — [[ImageDedupIndex.admit]]'s survivor rule
    * (incumbents win; one survivor per in-batch clique) over documents,
    * with the fingerprint appended as `fpColOut` on the survivors so
    * the follow-up [[upsertHashed]] needs no re-hash. A NULL-text row
    * passes the gate (no content to be a duplicate of) — route it to
    * the caller's retraction path. */
  def admit(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3,
      fpColOut: String = "fp"): DataFrame = {
    require(!batch.columns.contains(fpColOut),
      s"batch already carries a '$fpColOut' column — pass fpColOut")
    val a = textAlgo(spark, path)
    val withFp = batch.withColumn(fpColOut, fpOf(a)(col(textCol)))
    ImageDedupIndex.admitOnePerId(spark, path,
      Dedup.onePerIdNullsKept(withFp, idCol), idCol, fpColOut, maxHamming)
  }
}
