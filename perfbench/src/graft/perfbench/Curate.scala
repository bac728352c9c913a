package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Corpus
import graft.analytics.CorpusStats
import graft.functions.HashExpressions
import graft.operators.{Curation, Decontaminate, Dedup}

/** The batch LLM-data path, as direct calls of the ingest workload's
  * traced run: one `Corpus.fullPipeline` pass (op kind `pass`, checked
  * against the planted answer) over a seeded batch with planted
  * near-duplicate clusters and eval contamination, then each dedup-side
  * layer on its own. A timed `curate` workload does not fit the run-time
  * budget on a 4-vCPU host: one pass over 500 docs takes 12-17 s. */
final class Curate(in: CurateInput, dir: Path) {
  private def batchDir = dir.resolve("input/curate_batch").toString
  private def evalDir = dir.resolve("input/curate_eval").toString
  private var recall = 0.0
  private var waste = 0.0

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    in.eval.toSeq.toDF("id", "text").write.parquet(evalDir)
    in.batch.docs.toSeq.toDF("id", "text").write.parquet(batchDir)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def probe(spark: SparkSession, c: Client): Unit = {
    val docs = spark.read.parquet(batchDir)
    val eval = spark.read.parquet(evalDir)
    val out = dir.resolve("curate_out").toString
    c.op("pass", in.batch.docs.length) {
      Corpus(docs, "id", "text").fullPipeline(Curation.PipelineConfig(evalSet = Some(eval)))
        .toDF.write.parquet(out)
    } { _ =>
      val kept = spark.read.parquet(out).select("id", "split").collect()
        .toSeq.map(r => (r.getLong(0), r.getString(1)))
      Checks.pass(kept, Ref.curateKept(in.batch, in.eval.toSeq))
    }
    c.trace("analytics.repetition", 0)(noop(CorpusStats.repetitionMetrics(docs, "id", "text")))
    c.trace("operators.quality", 0)(noop(Curation.curate(docs, "id", "text", Curation.Config())))
    val sh = Dedup.shingleFrame(docs, "id", "text", 3).localCheckpoint(true)
    c.trace("functions.minhash_signature", 0)(noop(sh.select(
      HashExpressions.minhashSignatureLongs(col("shingles"), 128).as("sig"))))
    val pairs = c.trace("operators.near_dup", 0)(
      Dedup.minHashNearDups(docs, "id", "text", threshold = 0.8)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // the banding minHashNearDups runs with its defaults (128 hashes, 32 bands)
    val banded = Dedup.bandFrame(sh, 128, 32)
    val candidates = banded.select(col("band"), col("bucket"), col("id").as("a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("b")), Seq("band", "bucket"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val planted = Ref.plantedPairs(in.batch)
    recall = (planted & pairs).size.toDouble / planted.size
    waste = candidates.toDouble / math.max(1, pairs.size)
    c.trace("operators.decontam", 0)(noop(
      Decontaminate.decontaminate(docs, eval, "id", "text", 8, hashGrams = true)))
    sh.unpersist()
  }

  def layerMetrics(c: Client, work: Map[Int, SpanWork]): Map[String, Double] = {
    import Workload._
    def ms(n: String) = medianOf(spansOf(c, work, n))(_.span.durMs)
    Map(
      "functions.minhash_signature_ms" -> ms("functions.minhash_signature"),
      "operators.near_dup_ms" -> ms("operators.near_dup"),
      "operators.candidate_pairs_per_dup_pair" -> waste,
      "operators.planted_dup_recall" -> recall,
      "operators.decontam_ms" -> ms("operators.decontam"),
      "operators.quality_ms" -> ms("operators.quality"),
      "analytics.repetition_ms" -> ms("analytics.repetition"))
  }
}
