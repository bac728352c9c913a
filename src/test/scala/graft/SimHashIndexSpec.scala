package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ImageDedupIndex, SimHashIndex}
import graft.sources.CompositeIndex

/** Persisted SimHash text near-dup index: the text facade over the
  * 64-bit Hamming core — an indexed probe must report BIT-IDENTICAL
  * batch-touching pairs to a fresh [[Dedup.simHashNearDups]] over
  * (corpus ∪ batch), NULL text must retract, admission must gate with
  * incumbency, and the kernel pin must refuse cross-facade misuse. */
class SimHashIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("simhash_index").toString + "/idx"

  /** Deterministic docs with planted classes: family = id % 10 (25
    * shared words → identical fingerprints, hamming 0); every 4th id
    * appends one extra word (a near variant — whether it lands within
    * hamming 3 is the kernel's business; the equality check below
    * covers both outcomes by construction). */
  private def docs(ids: Seq[Long]): DataFrame =
    ids.map { id =>
      val fam = id % 10
      val base = (0 until 25).map(j => s"w${fam}_$j").mkString(" ")
      (id, if (id % 4 == 3) base + s" extra$fam" else base)
    }.toDF("doc_id", "text")

  private def pairs(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"),
      col("hamming").cast("long")).as[(Long, Long, Long)].collect().toSet

  test("indexed probe == fresh simHashNearDups on the batch-touching pair set") {
    val all = (1L to 75L)
    val (corpusIds, batchIds) = all.partition(_ <= 60L)
    val path = freshPath()
    SimHashIndex.build(spark, path, docs(corpusIds), "doc_id", "text")
    SimHashIndex.compact(spark, path, numFiles = 2)
    val got = pairs(SimHashIndex.nearDupsAgainst(spark, path,
      docs(batchIds), "doc_id", "text"))
    val batchSet = batchIds.toSet
    val oracle = pairs(Dedup.simHashNearDups(docs(all), "doc_id", "text"))
      .filter(p => batchSet.contains(p._1) || batchSet.contains(p._2))
    assert(got === oracle, s"indexed=${got.size} fresh=${oracle.size}")
    assert(got.nonEmpty, "the planted families must produce pairs")
    // includeBatchPairs=false drops exactly the in-batch pairs
    val noBatch = pairs(SimHashIndex.nearDupsAgainst(spark, path,
      docs(batchIds), "doc_id", "text", includeBatchPairs = false))
    assert(noBatch === oracle.filterNot(p =>
      batchSet.contains(p._1) && batchSet.contains(p._2)))
  }

  test("upsert replaces; NULL text retracts; delete purges") {
    val path = freshPath()
    SimHashIndex.build(spark, path, docs(1L to 20L), "doc_id", "text")
    // replace id 3 with a brand-new vocabulary: it must not pair with
    // its own stale copy, and probes see only the new content
    val fresh = (0 until 25).map(j => s"novel_$j").mkString(" ")
    SimHashIndex.upsert(spark, path,
      Seq((3L, fresh)).toDF("doc_id", "text"), "doc_id", "text")
    val probe = pairs(SimHashIndex.nearDupsAgainst(spark, path,
      Seq((100L, fresh)).toDF("doc_id", "text"), "doc_id", "text"))
    assert(probe === Set((3L, 100L, 0L)),
      s"the replaced id must pair under its NEW content only: $probe")
    // NULL text retracts: the same probe then finds nothing
    SimHashIndex.upsert(spark, path,
      Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(pairs(SimHashIndex.nearDupsAgainst(spark, path,
      Seq((100L, fresh)).toDF("doc_id", "text"), "doc_id", "text")).isEmpty,
      "a retracted document must stop pairing")
    // delete purges by id alone
    SimHashIndex.delete(spark, path, Seq(1L, 2L))
    val left = graft.sources.MergeTable.read(spark,
      CompositeIndex.pinnedPath(spark, path, "bands"))
      .select(col("id")).distinct().count()
    assert(left === 17) // 20 − replaced-then-retracted 3 − deleted 1,2
  }

  test("admit: incumbency across batches, one survivor per clique, NULL text passes") {
    val path = freshPath()
    SimHashIndex.build(spark, path, docs(Seq(5L)), "doc_id", "text")
    val dupOf5 = docs(Seq(15L)).select(col("text")).as[String].head() // family 5
    val novel = (0 until 25).map(j => s"isle_$j").mkString(" ")
    val batch1 = Seq(
      (201L, dupOf5),                      // dup of incumbent 5 — dies
      (202L, novel),                       // new family — survivor
      (203L, novel),                       // batchmate dup — dies
      (204L, null.asInstanceOf[String]))   // NULL text — passes the gate
      .toDF("doc_id", "text")
    val adm1 = SimHashIndex.admit(spark, path, batch1, "doc_id", "text")
    assert(adm1.select(col("doc_id")).as[Long].collect().sorted.toSeq ===
      Seq(202L, 204L))
    // survivors land through the NO-RE-HASH path (admit's appended fp)
    SimHashIndex.upsertHashed(spark, path,
      adm1.filter(col("fp").isNotNull).select(col("doc_id"), col("fp")),
      "doc_id", "fp")
    // batch-1's admitted survivor now rejects its dup...
    assert(SimHashIndex.admit(spark, path,
      Seq((301L, novel)).toDF("doc_id", "text"), "doc_id", "text").isEmpty)
    // ...and a replayed batch 1 converges (ids self-exclude)
    val adm1b = SimHashIndex.admit(spark, path, batch1, "doc_id", "text")
    assert(adm1b.select(col("doc_id")).as[Long].collect().sorted.toSeq ===
      Seq(202L, 204L), "replayed admission must converge")
  }

  test("kernel pin refuses cross-facade misuse in both directions") {
    val textIdx = freshPath()
    SimHashIndex.build(spark, textIdx, docs(1L to 5L), "doc_id", "text")
    assert(SimHashIndex.algo(spark, textIdx) === SimHashIndex.Md5Kernel)
    val eImg = intercept[IllegalArgumentException] {
      ImageDedupIndex.admitImages(spark, textIdx,
        Seq((1L, 3, 3, Array.fill[Byte](27)(1))).toDF("img_id", "w", "h", "rgb"),
        "img_id", "w", "h", "rgb")
    }
    assert(eImg.getMessage.contains("TEXT kernel"), eImg.getMessage)
    val imgIdx = freshPath()
    ImageDedupIndex.build(spark, imgIdx,
      Seq((1L, 42L)).toDF("id", "fp"), "id", "fp", algo = "dhash64")
    val eTxt = intercept[IllegalArgumentException] {
      SimHashIndex.nearDupsAgainst(spark, imgIdx,
        docs(Seq(9L)), "doc_id", "text")
    }
    assert(eTxt.getMessage.contains("PIXEL kernel"), eTxt.getMessage)
    intercept[IllegalArgumentException] {
      SimHashIndex.build(spark, freshPath(), docs(Seq(1L)),
        "doc_id", "text", algo = "dhash64")
    }
  }

  test("the xxhash kernel pins and probes bit-identically to its batch fingerprints") {
    val path = freshPath()
    SimHashIndex.build(spark, path, docs(1L to 30L), "doc_id", "text",
      algo = SimHashIndex.XxKernel)
    assert(SimHashIndex.algo(spark, path) === SimHashIndex.XxKernel)
    val batch = docs(31L to 40L)
    val got = pairs(SimHashIndex.nearDupsAgainst(spark, path, batch,
      "doc_id", "text"))
    // the fresh sweep with the SAME xx fingerprints, batch-touching only
    val fp = docs(1L to 40L).select(col("doc_id").as("id"),
      graft.functions.HashExpressions.simhash64(
        graft.functions.TextFunctions.words(col("text"))).as("fp"))
    val batchSet = (31L to 40L).toSet
    val oracle = pairs(Dedup.bandedHammingPairs(fp, 3))
      .filter(p => batchSet.contains(p._1) || batchSet.contains(p._2))
    assert(got === oracle && got.nonEmpty)
  }
}
