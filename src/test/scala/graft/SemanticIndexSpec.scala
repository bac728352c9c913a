package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SemanticIndex, SimilaritySearch}
import graft.sources.CompositeIndex

/** Persisted semantic-dedup index: probes must report BIT-IDENTICAL
  * batch-touching pairs to [[Dedup.semanticDedup]]'s tau-ball rule
  * over (corpus ∪ batch) under the same quantizer, survive keyed
  * maintenance and retraction, and gate admission by the
  * keep-the-outlier policy. */
class SemanticIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("sem_index").toString + "/idx"

  /** Two well-separated modes with planted near-dup structure: family
    * f's vectors point near axis f with deterministic jitter; every
    * (id % 9 == 0) vector is a near-clone of its family anchor. */
  private def vecs(n: Int): Seq[(Long, Array[Float])] =
    (1L to n.toLong).map { id =>
      val f = (id % 3).toInt
      val base = Array.fill(8)(0f)
      base(f) = 1f
      val j = if (id % 9 == 0) 0.001f else (id % 17).toInt / 20f
      base((f + 3) % 8) = j
      base((f + 5) % 8) = (id % 5).toInt / 50f
      (id, base)
    }

  private def cents(df: DataFrame): DataFrame =
    SimilaritySearch.kmeansCentroids(df, "id", "vec", k = 3, iters = 5)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"), col("cosine"))
      .as[(Long, Long, Double)].collect().toSet

  test("probe == semanticDedup's pair rule on the batch-touching set") {
    val all = vecs(60)
    val (corp, batch) = all.partition(_._1 % 4 != 0)
    val allDf = all.toDF("id", "vec")
    val c = cents(allDf).localCheckpoint(true)
    val path = freshPath()
    SemanticIndex.build(spark, path, corp.toDF("id", "vec"), "id", "vec", c)
    assert(SemanticIndex.exists(spark, path))

    val tau = 0.97
    val probed = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, batch.toDF("id", "vec"), "id", "vec", tau))

    // fresh truth: same assignment, all same-cluster pairs >= tau,
    // restricted to pairs touching the batch
    val assigned = SimilaritySearch.assignClustersWithSim(allDf, "vec", c)
    val fresh = pairSet(
      assigned.select(col("cluster"), col("id").as("id_a"), col("vec").as("va"))
        .join(assigned.select(col("cluster"), col("id").as("id_b"), col("vec").as("vb")),
          Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cosine",
          graft.functions.VectorFunctions.cosineSimilarity(col("va"), col("vb")))
        .filter(col("cosine") >= tau)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine")))
    val batchIds = batch.map(_._1).toSet
    val freshTouching =
      fresh.filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))

    assert(probed === freshTouching)
    assert(probed.nonEmpty, "vacuous: planted near-dups not found")
    assert(probed.exists(p => batchIds.contains(p._1) != batchIds.contains(p._2)))
    assert(probed.exists(p => batchIds.contains(p._1) && batchIds.contains(p._2)))
  }

  test("upsert maintains probe parity; NULL-vec retracts; delete purges") {
    val all = vecs(45)
    val (corp, rest) = all.partition(_._1 % 5 != 0)
    val path = freshPath()
    val c = cents(all.toDF("id", "vec")).localCheckpoint(true)
    SemanticIndex.build(spark, path, corp.toDF("id", "vec"), "id", "vec", c)
    SemanticIndex.upsert(spark, path, rest.toDF("id", "vec"), "id", "vec")

    // after upsert the index holds all ids
    val held = graft.sources.MergeTable.read(
        spark, CompositeIndex.pinnedPath(spark, path, "vectors"))
      .select("id").as[Long].collect().toSet
    assert(held === all.map(_._1).toSet)

    // a clone of id 9 (a family anchor clone) must now collide
    val clone = Seq((1000L, all.find(_._1 == 9L).get._2)).toDF("id", "vec")
    val hits = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, clone, "id", "vec", tau = 0.999))
    assert(hits.exists(p => p._1 == 9L && p._2 == 1000L))

    // retraction: NULL vec for id 9 deletes it; the clone stops colliding with 9
    val retract = Seq((9L, null.asInstanceOf[Array[Float]])).toDF("id", "vec")
    SemanticIndex.upsert(spark, path, retract, "id", "vec")
    val hits2 = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, clone, "id", "vec", tau = 0.999))
    assert(!hits2.exists(p => p._1 == 9L || p._2 == 9L))

    // delete purges outright
    SemanticIndex.delete(spark, path, Seq(18L))
    val held2 = graft.sources.MergeTable.read(
        spark, CompositeIndex.pinnedPath(spark, path, "vectors"))
      .select("id").as[Long].collect().toSet
    assert(!held2.contains(9L) && !held2.contains(18L))
  }

  test("replacement: a batch id's stale corpus copy never pairs with itself") {
    val all = vecs(30)
    val path = freshPath()
    val c = cents(all.toDF("id", "vec")).localCheckpoint(true)
    SemanticIndex.build(spark, path, all.toDF("id", "vec"), "id", "vec", c)
    // resubmit id 9 with its own unchanged vector: identical content,
    // must NOT self-pair at cosine 1.0
    val re = Seq((9L, all.find(_._1 == 9L).get._2)).toDF("id", "vec")
    val hits = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, re, "id", "vec", tau = 0.9999999))
    assert(!hits.exists(p => p._1 == 9L && p._2 == 9L))
  }

  test("admit: incumbents win; in-batch keeps the low-centroid-sim outlier") {
    val anchor = Array(1f, 0f, 0f, 0f)
    val nearA  = Array(1f, 0.001f, 0f, 0f)   // ~anchor
    val nearB  = Array(1f, 0.002f, 0f, 0f)   // ~anchor, farther from centroid
    val other  = Array(0f, 1f, 0f, 0f)
    val path = freshPath()
    val c = Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
      .toDF("cluster", "centroid")
    SemanticIndex.build(spark, path,
      Seq((1L, anchor)).toDF("id", "vec"), "id", "vec", c)

    // batch: 10 collides with incumbent 1 -> dies. 20/21 form an
    // in-batch ball in cluster 0 far enough from the incumbent: the
    // LOWER-centroid-sim one survives. 30 is alone in cluster 1.
    val ballA = Array(0.8f, 0f, 0.6f, 0f)       // cluster 0, away from anchor
    val ballB = Array(0.79f, 0f, 0.613f, 0f)    // near-dup of ballA, lower csim
    val batch = Seq((10L, nearA), (20L, ballA), (21L, ballB), (30L, other))
      .toDF("id", "vec")
    val admitted = SemanticIndex.admit(spark, path, batch, "id", "vec", tau = 0.999)
      .select("id").as[Long].collect().toSet
    assert(!admitted.contains(10L), "incumbent collision must die")
    assert(admitted.contains(30L))
    // keep-the-outlier: ballB has lower centroid_sim than ballA
    val ranked = SimilaritySearch.assignClustersWithSim(
        batch, "vec", c)
      .filter(col("id").isin(20L, 21L))
      .select(col("id"), col("centroid_sim")).as[(Long, Double)].collect().toMap
    val keeper = if (ranked(20L) < ranked(21L)) 20L else 21L
    assert(admitted.contains(keeper) && !admitted.contains(
      if (keeper == 20L) 21L else 20L))
    // NULL-vec and NULL-id rows pass through the gate
    val weird = Seq((Some(40L), Option.empty[Array[Float]]),
        (None, Some(other))).toDF("id", "vec")
    val passed = SemanticIndex.admit(spark, path, weird, "id", "vec", tau = 0.9)
    assert(passed.count() === 2)
  }

  test("maxClusterPostings drops degenerate clusters whole, both legs") {
    val path = freshPath()
    val c = Seq((0, Array(1f, 0f)), (1, Array(0f, 1f))).toDF("cluster", "centroid")
    // hot cluster 0: 6 near-identical incumbents; cluster 1: one
    val corp = (1L to 6L).map(i => (i, Array(1f, i / 5000f))) :+ (7L, Array(0f, 1f))
    SemanticIndex.build(spark, path, corp.toDF("id", "vec"), "id", "vec", c)
    val batch = Seq((10L, Array(1f, 0.0001f)), (11L, Array(1f, 0.0002f)),
      (12L, Array(0.001f, 1f))).toDF("id", "vec")
    val exact = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, batch, "id", "vec", tau = 0.999))
    assert(exact.exists(p => p._2 == 10L || p._1 == 10L))
    assert(exact.exists(p => p._1 == 7L || p._2 == 7L || p._1 == 12L || p._2 == 12L))
    val guarded = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, batch, "id", "vec", tau = 0.999,
      maxClusterPostings = Some(3)))
    // the hot CORPUS cluster is dropped from the corpus leg: no
    // corpus id 1-6 appears; the in-batch leg counts the BATCH side
    // (2 <= cap), so the (10, 11) in-batch pair legitimately remains,
    // as does the cool cluster 1 pair (7, 12)
    assert(!guarded.exists(p => Set(p._1, p._2).intersect(Set(1L, 2L, 3L, 4L, 5L, 6L)).nonEmpty))
    assert(guarded.contains((10L, 11L, guarded.find(x => x._1 == 10L && x._2 == 11L).map(_._3).getOrElse(-1.0))))
    assert(guarded.exists(p => p._1 == 7L && p._2 == 12L))
    // an in-batch degenerate family (5 near-identical rows > cap)
    // dies whole in the batch leg too
    val hotBatch = (20L to 24L).map(i => (i, Array(1f, i / 9000f))).toDF("id", "vec")
    val guardedB = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, hotBatch, "id", "vec", tau = 0.999,
      maxClusterPostings = Some(3)))
    assert(!guardedB.exists(p => p._1 >= 20L && p._2 >= 20L),
      "in-batch pairs of the hot family must be dropped")
  }

  test("build refuses an existing index; compact preserves content") {
    val all = vecs(20)
    val path = freshPath()
    val c = cents(all.toDF("id", "vec")).localCheckpoint(true)
    SemanticIndex.build(spark, path, all.toDF("id", "vec"), "id", "vec", c)
    intercept[IllegalArgumentException] {
      SemanticIndex.build(spark, path, all.toDF("id", "vec"), "id", "vec", c)
    }
    val before = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, vecs(8).toDF("id", "vec"), "id", "vec", tau = 0.97))
    SemanticIndex.compact(spark, path, numFiles = 2)
    val after = pairSet(SemanticIndex.nearDupsAgainst(
      spark, path, vecs(8).toDF("id", "vec"), "id", "vec", tau = 0.97))
    assert(after === before)
  }
}
