package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.ImageDedupIndex
import graft.sources.CompositeIndex

/** Persisted perceptual-hash (dHash) image dedup index: an indexed
  * probe must report BIT-IDENTICAL batch-touching pairs to a fresh
  * [[Multimodal.imageNearDups]] over (corpus ∪ batch), survive keyed
  * maintenance and retraction, and gate admission with incumbency
  * across batches. */
class ImageDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("image_dedup_index").toString + "/idx"

  /** Deterministic fake decode — the shared [[TestImages.img]]. */
  private def img(seed: Int, tweak: Int = 0): (Int, Int, Array[Byte]) =
    TestImages.img(seed, tweak)

  /** Images with planted classes: ids sharing `id % families` render
    * identically (hamming 0); every 10th id gets a tweaked variant of
    * its family (small hamming). */
  private def images(ids: Seq[Long], families: Int = 8): DataFrame =
    ids.map { id =>
      val (w, h, buf) = img((id % families).toInt,
        tweak = if (id % 10 == 0) 3 else 0)
      (id, w, h, buf)
    }.toDF("img_id", "w", "h", "rgb")

  private def pairs(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"),
      col("hamming").cast("long")).as[(Long, Long, Long)].collect().toSet

  test("indexed probe == fresh imageNearDups on the batch-touching pair set") {
    val all = (1L to 80L)
    val (corpIds, batchIds) = all.partition(_ % 4 != 0)
    val path = freshPath()
    ImageDedupIndex.buildFromImages(spark, path, images(corpIds),
      "img_id", "w", "h", "rgb")
    assert(ImageDedupIndex.algo(spark, path) === "dhash64")
    val got = pairs(ImageDedupIndex.nearDupsAgainst(spark, path,
      images(batchIds).select(col("img_id"),
        graft.functions.ImageFunctions.dhash64(col("w"), col("h"), col("rgb"))
          .as("fp")),
      "img_id", "fp"))
    val batchSet = batchIds.toSet
    val oracle = pairs(Multimodal.imageNearDups(
        images(all), "img_id", "w", "h", "rgb"))
      .filter(p => batchSet.contains(p._1) || batchSet.contains(p._2))
    assert(got === oracle, s"indexed=${got.size} fresh=${oracle.size}")
    assert(got.nonEmpty, "the planted families must produce pairs")
    // the semi-join fallback (idPushLimit=0) is bit-identical
    val got0 = pairs(ImageDedupIndex.nearDupsAgainst(spark, path,
      images(batchIds).select(col("img_id"),
        graft.functions.ImageFunctions.dhash64(col("w"), col("h"), col("rgb"))
          .as("fp")),
      "img_id", "fp", idPushLimit = 0))
    assert(got0 === oracle)
    // includeBatchPairs=false drops exactly the in-batch pairs
    val noBatch = pairs(ImageDedupIndex.nearDupsAgainst(spark, path,
      images(batchIds).select(col("img_id"),
        graft.functions.ImageFunctions.dhash64(col("w"), col("h"), col("rgb"))
          .as("fp")),
      "img_id", "fp", includeBatchPairs = false))
    assert(noBatch === oracle.filterNot(p =>
      batchSet.contains(p._1) && batchSet.contains(p._2)))
  }

  test("upsert replaces an id (no stale-copy pairing); NULL-fp retracts; delete purges") {
    val path = freshPath()
    ImageDedupIndex.buildFromImages(spark, path, images(1L to 20L),
      "img_id", "w", "h", "rgb")
    // re-hash id 3 to a brand-new family: it must not pair with its
    // own stale copy, and future probes see only the new content
    val (w2, h2, b2) = img(77)
    ImageDedupIndex.upsertImages(spark, path,
      Seq((3L, w2, h2, b2)).toDF("img_id", "w", "h", "rgb"),
      "img_id", "w", "h", "rgb")
    val probe3 = pairs(ImageDedupIndex.nearDupsAgainst(spark, path,
      Seq((100L, w2, h2, b2)).toDF("img_id", "w", "h", "rgb")
        .select(col("img_id"),
          graft.functions.ImageFunctions.dhash64(col("w"), col("h"), col("rgb"))
            .as("fp")),
      "img_id", "fp"))
    assert(probe3 === Set((3L, 100L, 0L)),
      s"the replaced id must pair under its NEW content only: $probe3")
    // NULL-fp retraction: id 3's bands delete; the same probe finds nothing
    ImageDedupIndex.upsert(spark, path,
      Seq((3L, None: Option[Long])).toDF("img_id", "fp"), "img_id", "fp")
    assert(pairs(ImageDedupIndex.nearDupsAgainst(spark, path,
      Seq((100L, w2, h2, b2)).toDF("img_id", "w", "h", "rgb")
        .select(col("img_id"),
          graft.functions.ImageFunctions.dhash64(col("w"), col("h"), col("rgb"))
            .as("fp")),
      "img_id", "fp")).isEmpty, "a retracted image must stop pairing")
    // delete purges by id alone
    ImageDedupIndex.delete(spark, path, Seq(1L, 2L))
    val left = graft.sources.MergeTable.read(spark,
      CompositeIndex.pinnedPath(spark, path, "bands"))
      .select(col("id")).distinct().count()
    assert(left === 17) // 20 − replaced-then-retracted 3 − deleted 1,2
  }

  test("admit: incumbency across batches, one survivor per clique, un-hashable rows pass") {
    val path = freshPath()
    // seed corpus: one family-0 incumbent
    ImageDedupIndex.buildFromImages(spark, path, images(Seq(5L)),
      "img_id", "w", "h", "rgb")
    // batch 1: a dup of the incumbent (dies), a new family (survives),
    // two same-family batchmates (one survivor), a 1-byte buffer
    // (un-hashable: passes the gate)
    val (w0, h0, b0) = img(5 % 8)
    val (wN, hN, bN) = img(40)
    val batch1 = Seq(
      (201L, w0, h0, b0),       // dup of incumbent 5
      (202L, wN, hN, bN),       // new family — survivor
      (203L, wN, hN, bN),       // batchmate dup of 202 — dies (larger id)
      (204L, 5, 5, Array[Byte](1, 2, 3))) // sub-grid: NULL fp, passes
      .toDF("img_id", "w", "h", "rgb")
    val adm1 = ImageDedupIndex.admitImages(spark, path, batch1,
      "img_id", "w", "h", "rgb")
    assert(adm1.select(col("img_id")).as[Long].collect().sorted.toSeq ===
      Seq(202L, 204L))
    // survivors upsert; batch 2 re-sends 202's content under a new id:
    // the incumbent from batch 1 now rejects it (incumbency persists)
    ImageDedupIndex.upsert(spark, path,
      adm1.filter(col("fp").isNotNull).select(col("img_id"), col("fp")),
      "img_id", "fp")
    val adm2 = ImageDedupIndex.admitImages(spark, path,
      Seq((301L, wN, hN, bN)).toDF("img_id", "w", "h", "rgb"),
      "img_id", "w", "h", "rgb")
    assert(adm2.isEmpty, "batch-1's admitted survivor must reject its dup")
    // replay convergence: re-admitting batch 1 AFTER its upsert returns
    // the same survivors (batch ids self-exclude from the corpus probe)
    val adm1b = ImageDedupIndex.admitImages(spark, path, batch1,
      "img_id", "w", "h", "rgb")
    assert(adm1b.select(col("img_id")).as[Long].collect().sorted.toSeq ===
      Seq(202L, 204L), "replayed admission must converge")
  }

  test("params pin the kernel: an ahash64 index hashes wrappers with ahash64") {
    val path = freshPath()
    ImageDedupIndex.buildFromImages(spark, path, images(1L to 10L),
      "img_id", "w", "h", "rgb", algo = "ahash64")
    assert(ImageDedupIndex.algo(spark, path) === "ahash64")
    val (w0, h0, b0) = img(1)
    // id 9 is family 1 (9 % 8): its ahash must match this probe exactly
    val got = pairs(ImageDedupIndex.nearDupsAgainst(spark, path,
      Seq((500L, w0, h0, b0)).toDF("img_id", "w", "h", "rgb")
        .select(col("img_id"),
          graft.functions.ImageFunctions.ahash64(col("w"), col("h"), col("rgb"))
            .as("fp")),
      "img_id", "fp"))
    assert(got.exists(p => p._1 === 9L && p._3 === 0L),
      s"ahash probe must hit the family incumbents: $got")
    intercept[IllegalArgumentException] {
      ImageDedupIndex.build(spark, freshPath(),
        Seq((1L, 2L)).toDF("id", "fp"), "id", "fp", algo = "phash")
    }
  }

  test("the probe's corpus band scan pushes `bucket IN` to parquet (plan gate)") {
    val path = freshPath()
    ImageDedupIndex.buildFromImages(spark, path, images(1L to 40L),
      "img_id", "w", "h", "rgb")
    ImageDedupIndex.compact(spark, path, numFiles = 2)
    val probeScan = graft.sources.MergeTable
      .read(spark, CompositeIndex.pinnedPath(spark, path, "bands"))
      .filter(col("bucket").isin(1L, 2L, 3L))
    val scan = graft.util.Plans.executedNodes(probeScan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.metadata.get("PushedFilters").exists(_.contains("In(bucket")),
      s"bucket IN not pushed: ${scan.metadata.get("PushedFilters")}")
  }
}
