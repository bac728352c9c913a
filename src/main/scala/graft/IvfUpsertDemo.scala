package graft

import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Maintenance-cost measurement for the IVF serving index: at 1M
  * vectors, what does keeping the index fresh actually cost?
  *
  *  - **full rebuild** ([[GraftSession.indexKnowledge]]): retrain the
  *    quantizer (2% sample) + rewrite all 32 cluster directories;
  *  - **keyed upsert** ([[GraftSession.upsertIndexedKnowledge]]) of a
  *    10k batch (0.5% updates of existing ids + new ids): assign to the
  *    EXISTING centroids and rewrite only the touched cluster
  *    directories via dynamic partition overwrite.
  *
  * Reported: wall time for each, cluster directories rewritten (from
  * file mtimes), and correctness spot-checks (row count, no duplicate
  * ids, an updated doc served with its new vector's ranking). The
  * upsert's touched-directory count is the scale story: a batch that
  * lands in k of 32 clusters rewrites k directories no matter how big
  * the corpus is. Run: `sbt "runMain graft.IvfUpsertDemo"`. */
object IvfUpsertDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)

    val nVecs = sys.env.getOrElse("ANN_VECS", "1000000").toLong
    val dim = 64
    val latent = 256
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_up").toString + "/kb"

    def centerExpr(c: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(c * 131071L + i * 524287L), lit(2000)).cast("float") / 1000f) - 1f
    def noiseExpr(id: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(id * 7919L + i * 104729L + 13L), lit(300)).cast("float") / 1000f) - 0.15f
    def mkKb(ids: org.apache.spark.sql.DataFrame, idOffsetForVec: Long) = ids
      .select(col("id"),
        pmod(col("id"), lit(latent)).as("__c"))
      .select(col("id"),
        concat(lit("doc "), col("id")).as("content"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => centerExpr(col("__c"), i) + noiseExpr(col("id") + idOffsetForVec, i))
          .cast("array<float>").as("embedding"))

    val kb = mkKb(spark.range(nVecs).toDF("id"), 0L).localCheckpoint(true)
    println(s"kb=${kb.count()} vectors")
    val g = GraftSession(spark, search.HashEmbedder(dim)).loadKnowledgeBase(kb)

    import graft.util.Timing.time
    time(s"indexKnowledge full build ($nVecs vecs, 32 clusters, 2% sample)") {
      g.indexKnowledge(path, nClusters = 32, nprobe = 4,
        kmeansIters = 5, trainSampleFraction = 0.02)
    }
    def dirMtimes(): Map[String, Long] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("cluster="))
        .map(d => d.getName -> d.listFiles().map(_.lastModified).max).toMap
    val before = dirMtimes()

    // a LOCALIZED 4k batch — the realistic ingest shape (one tenant /
    // one topic): 2k updates all from latent center 3 (ids ≡ 3 mod
    // 256, re-noised vectors stay near their center) + 2k new docs all
    // landing on one other center (ids ≡ 3 mod 256 above 2·nVecs).
    // Only the clusters covering those two centers may be rewritten.
    val batch = mkKb(
      spark.range(2000).select((col("id") * 256 + 3).as("id"))
        .unionByName(spark.range(2000)
          .select((lit(nVecs * 2) + col("id") * 256 + 3).as("id"))),
      idOffsetForVec = 7777L)
    time("upsertIndexedKnowledge (4k localized batch: 2k updates + 2k new)") {
      g.upsertIndexedKnowledge(batch)
    }
    val rewritten = dirMtimes().count { case (dirName, m) =>
      before.get(dirName).forall(_ != m)
    }
    println(s"cluster dirs rewritten: $rewritten of ${before.size}")

    val kb2 = g.knowledgeBase
    val n = kb2.count()
    val dups = kb2.groupBy("id").count().filter(col("count") > 1).count()
    println(s"rows=$n (expected ${nVecs + 2000}) dupIds=$dups")
    assert(n == nVecs + 2000 && dups == 0)
    assert(rewritten < before.size,
      s"a localized batch must not rewrite every cluster ($rewritten/${before.size})")
    graft.plans.IvfIndex.unregister(spark, "embedding")
    spark.stop()
  }
}
