package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupIndex}
import graft.sources.CompositeIndex

/** Persisted MinHash-LSH dedup index: a probe against the index must
  * report BIT-IDENTICAL batch-touching pairs to a fresh
  * [[Dedup.minHashNearDups]] over (corpus ∪ batch), survive keyed
  * maintenance, and gate admission deterministically. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("dedup_index").toString + "/idx"

  /** Corpus with planted near-dup structure: groups of 5-word docs
    * sharing most words, plus unique fillers. */
  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val vocab = (0 until 60).map(i => s"w$i")
    (1L to n.toLong).map { id =>
      val base = (id % 7).toInt // 7 families of similar docs
      val words = (0 until 12).map { j =>
        if (rng.nextDouble() < 0.85) vocab((base * 8 + j) % vocab.size)
        else vocab(rng.nextInt(vocab.size))
      }
      (id, words.mkString(" "))
    }
  }

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet

  test("probe == fresh recompute on the batch-touching pair set") {
    val all = corpus(11, 80)
    val (corp, batch) = all.partition(_._1 % 4 != 0)
    val path = freshPath()
    DedupIndex.build(spark, path, corp.toDF("doc_id", "text"), "doc_id", "text")
    assert(DedupIndex.exists(spark, path))

    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.6))

    val batchIds = batch.map(_._1).toSet
    val fresh = pairs(Dedup.minHashNearDups(
        all.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.6))
      .filter(p => batchIds.contains(p._1) || batchIds.contains(p._2))

    assert(probed === fresh)
    assert(probed.nonEmpty, "vacuous: planted near-dups not found")
    // both corpus-vs-batch and in-batch pairs must be exercised
    assert(probed.exists(p => batchIds.contains(p._1) != batchIds.contains(p._2)))
    assert(probed.exists(p => batchIds.contains(p._1) && batchIds.contains(p._2)))
  }

  test("includeBatchPairs=false drops exactly the in-batch pairs") {
    val all = corpus(12, 60)
    val (corp, batch) = all.partition(_._1 % 4 != 0)
    val path = freshPath()
    DedupIndex.build(spark, path, corp.toDF("doc_id", "text"), "doc_id", "text")
    val withB = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.6))
    val noB = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.6,
      includeBatchPairs = false))
    val batchIds = batch.map(_._1).toSet
    assert(noB === withB.filter(p => !(batchIds.contains(p._1) && batchIds.contains(p._2))))
    assert(noB.size < withB.size)
  }

  test("the semi-join fallback path (idPushLimit=0) is bit-identical") {
    val all = corpus(13, 60)
    val (corp, batch) = all.partition(_._1 % 4 != 0)
    val path = freshPath()
    DedupIndex.build(spark, path, corp.toDF("doc_id", "text"), "doc_id", "text")
    val pushed = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.6))
    val fallback = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.6,
      idPushLimit = 0))
    assert(fallback === pushed)
  }

  test("upsert replaces a doc: its stale text stops pairing, new text pairs") {
    val path = freshPath()
    val corp = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "unrelated words entirely different content here"))
    DedupIndex.build(spark, path, corp.toDF("doc_id", "text"), "doc_id", "text")

    // replace doc 2 with text matching doc 3's family instead of doc 1's
    DedupIndex.upsert(spark, path,
      Seq((2L, "unrelated words entirely different content there"))
        .toDF("doc_id", "text"), "doc_id", "text")

    // after replacement the index must behave as a fresh build over the
    // new corpus state — band rows fully replaced, no stale leftovers
    val state = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "unrelated words entirely different content there"),
      (3L, "unrelated words entirely different content here"))
    val probe = Seq((10L, "unrelated words entirely different content here"))
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path, probe.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5))
    val fresh = pairs(Dedup.minHashNearDups(
        (state ++ probe).toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5))
      .filter(p => p._1 == 10L || p._2 == 10L)
    assert(probed === fresh)
    assert(probed.map(p => (p._1, p._2)) === Set((2L, 10L), (3L, 10L)))

    // the band table holds exactly `bands` rows per doc — keyed merge
    // on (id, band) replaced, never appended
    val p = DedupIndex.params(spark, path)
    val perDoc = graft.sources.MergeTable
      .read(spark, CompositeIndex.pinnedPath(spark, path, "bands"))
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(perDoc.values.toSet === Set(p.bands.toLong))
  }

  test("a batch doc replacing an indexed id never pairs with its own stale copy") {
    val path = freshPath()
    val corp = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally disjoint vocabulary set occupying space"))
    DedupIndex.build(spark, path, corp.toDF("doc_id", "text"), "doc_id", "text")
    // batch carries id 1 with its text UNCHANGED: a self-pair (1,1)
    // or a pair against the stale copy must not appear
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set.empty[(Long, Long, Double)])
  }

  test("admit keeps one survivor per dup clique and respects incumbents") {
    val path = freshPath()
    val corp = Seq((1L, "alpha beta gamma delta epsilon zeta"))
    DedupIndex.build(spark, path, corp.toDF("doc_id", "text"), "doc_id", "text")
    val batch = Seq(
      // near-dup of the incumbent doc 1 — dies even though 0 < 1
      (0L, "alpha beta gamma delta epsilon eta"),
      // an in-batch clique: 5 survives (smallest), 6 dies
      (5L, "completely novel content about streaming joins here"),
      (6L, "completely novel content about streaming joins there"),
      // unique — survives
      (9L, "nothing like anything else in corpus or batch"))
    val admitted = DedupIndex.admit(
        spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(admitted === Set(5L, 9L))
  }

  test("admit reduces same-id batch rows to one survivor (no dup-key leak into upsert)") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    // two batch rows share id 7: strict id_a < id_b can never pair
    // them, so without the up-front reduction BOTH would pass the gate
    // and collapse arbitrarily in the follow-up keyed merge
    val batch = Seq(
      (7L, "completely novel content about streaming joins here"),
      (7L, "completely novel content about streaming joins here v2"),
      (9L, "nothing like anything else in corpus or batch"))
    val admitted = DedupIndex.admit(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
    assert(admitted.count() === 2L)
    assert(admitted.select(col("doc_id")).as[Long].collect().toSet === Set(7L, 9L))
    // deterministic winner: same single row for any input order
    val reversed = DedupIndex.admit(
      spark, path, batch.reverse.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
    assert(admitted.exceptAll(reversed).isEmpty && reversed.exceptAll(admitted).isEmpty)
  }

  test("probe parameters come from the index, not the caller") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      corpus(14, 20).toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16)
    val p = DedupIndex.params(spark, path)
    assert(p === DedupIndex.Params(2, 64, 16))
  }

  test("the probe's corpus band scan pushes `bucket IN` to parquet (plan gate)") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      corpus(15, 40).toDF("doc_id", "text"), "doc_id", "text")
    DedupIndex.compact(spark, path, numFiles = 2)
    // the scan nearDupsAgainst issues: bands table + bucket IN filter —
    // lost pushdown means every probe reads the corpus-sized collision
    // table whole at 100 TB
    val probeScan = graft.sources.MergeTable
      .read(spark, CompositeIndex.pinnedPath(spark, path, "bands"))
      .filter(col("bucket").isin(1, 2, 3))
    val scan = graft.util.Plans.executedNodes(probeScan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.metadata.get("PushedFilters").exists(_.contains("In(bucket")),
      s"bucket IN not pushed: ${scan.metadata.get("PushedFilters")}")
  }

  test("maxBucketPostings drops degenerate buckets, keeps normal pairs, default stays exact") {
    val path = freshPath()
    // a 40-doc IDENTICAL boilerplate family (every band bucket holds 40
    // postings) + one normal doc
    val family = (1L to 40L).map(i =>
      (i, "identical boilerplate navigation footer text repeated everywhere"))
    val normal = Seq((100L, "the quick brown fox jumps over the lazy dog today"))
    DedupIndex.build(spark, path, (family ++ normal).toDF("doc_id", "text"),
      "doc_id", "text")
    val batch = Seq(
      (200L, "identical boilerplate navigation footer text repeated everywhere"),
      (201L, "the quick brown fox jumps over the lazy dog tonight"))

    // default: exact — the family member pairs with all 40 incumbents
    val exact = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5))
    assert(exact.count(_._2 == 200L) === 40)
    assert(exact.exists(p => p._1 == 100L && p._2 == 201L))

    // guarded: the family's buckets (40 postings each) are dropped
    // whole; the normal near-dup (singleton buckets) survives
    val guarded = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5,
      maxBucketPostings = Some(10)))
    assert(guarded.count(_._2 == 200L) === 0,
      s"hot-family candidates not bounded: $guarded")
    assert(guarded.exists(p => p._1 == 100L && p._2 == 201L),
      s"guard over-killed the normal pair: $guarded")

    // a cap above the family size changes nothing
    val loose = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5,
      maxBucketPostings = Some(100)))
    assert(loose === exact)
  }

  test("the guard also bounds an in-batch boilerplate family") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((1L, "totally disjoint corpus content sitting here quietly"))
        .toDF("doc_id", "text"), "doc_id", "text")
    // 30 identical docs arrive INSIDE one batch + one normal near-pair
    val batch = (200L to 229L).map(i =>
      (i, "identical boilerplate navigation footer text repeated everywhere")) ++ Seq(
      (300L, "completely novel content about streaming joins here"),
      (301L, "completely novel content about streaming joins there"))
    val unguarded = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5))
    assert(unguarded.count(p => p._1 >= 200L && p._1 < 230L) === 30 * 29 / 2)
    val guarded = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5,
      maxBucketPostings = Some(10)))
    assert(guarded.count(p => p._1 >= 200L && p._1 < 230L) === 0,
      s"in-batch family not bounded: ${guarded.size} pairs")
    assert(guarded.exists(p => p._1 == 300L && p._2 == 301L),
      s"guard over-killed the normal in-batch pair: $guarded")
  }

  test("stale postings of replaced ids don't push a bucket over the guard cap") {
    val path = freshPath()
    // 12 identical corpus docs; cap 10. A batch REPLACING 3 of them
    // (new unrelated text) leaves 9 effective postings per bucket —
    // within cap — so a new near-dup of that family must still be found
    val family = (1L to 12L).map(i =>
      (i, "identical boilerplate navigation footer text repeated everywhere"))
    DedupIndex.build(spark, path, family.toDF("doc_id", "text"), "doc_id", "text")
    val batch = Seq(
      (1L, "replaced with totally new unrelated content one"),
      (2L, "swapped for different completely fresh payload two"),
      (3L, "rotated into novel text without any twin three"),
      (50L, "identical boilerplate navigation footer text repeated everywhere"))
    val guarded = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5,
      maxBucketPostings = Some(10)))
    // doc 50 pairs with the 9 surviving family incumbents (4..12)
    assert(guarded.map(_._1).filter(_ <= 12L).toSeq.sorted ===
      (4L to 12L).toSeq, s"stale postings inflated the count: $guarded")
  }

  test("upsert with NULL text retracts the id: stale signature stops serving") {
    val path = freshPath()
    val corp = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally disjoint vocabulary set occupying space"))
    DedupIndex.build(spark, path, corp.toDF("doc_id", "text"), "doc_id", "text")
    DedupIndex.upsert(spark, path,
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text")
    // the retracted content must no longer reject its lookalikes
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set.empty[(Long, Long, Double)],
      s"retracted content still pairing: $probed")
    // and its rows are physically gone from both component tables
    import graft.sources.MergeTable
    assert(MergeTable.read(spark, CompositeIndex.pinnedPath(spark, path, "bands"))
      .filter(col("id") === 1L).count() === 0L)
  }

  test("build is reader-atomic: unpublished crash leftovers are invisible and cleared by a rebuild") {
    val path = freshPath()
    // simulate a crashed build: a token-staged component committed, no
    // composite manifest — the index never existed for readers
    graft.sources.MergeTable.init(spark, s"$path/bands-deadbeef0000",
      Seq((1L, 0, 7)).toDF("id", "band", "bucket"))
    assert(!DedupIndex.exists(spark, path), "unpublished components must stay invisible")
    intercept[IllegalArgumentException](DedupIndex.pin(spark, path))
    // the next build clears the leftovers and publishes v1 atomically
    DedupIndex.build(spark, path,
      Seq((5L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(DedupIndex.exists(spark, path))
    assert(DedupIndex.pin(spark, path).version === 1L)
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path, Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set((5L, 9L, 1.0)), s"leftover band rows leaked into the rebuilt index: $probed")
    // the crashed build's token dir is physically gone, and the live
    // components sit in THIS build's token dirs (never the fixed names)
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(rootP).map(_.getPath.getName).toSet
    assert(!dirs.contains("bands-deadbeef0000"), s"leftover dir survived: $dirs")
    assert(!dirs.exists(Set("bands", "shingles", "params")),
      s"build used fixed component names: $dirs")
    val pin = DedupIndex.pin(spark, path)
    assert(pin("bands").dir.matches("bands-[0-9a-f]+") &&
      pin("shingles").dir.matches("shingles-[0-9a-f]+"), s"non-token pin: $pin")
    // a second build on the PUBLISHED index still fails (CREATE INDEX semantics)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.build(spark, path,
        Seq((1L, "some text here")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("a pre-composite legacy layout is refused by build and published by migrate") {
    val path = freshPath()
    // the layout the pre-token code wrote: components at fixed names,
    // each MergeTable-committed, no composite manifest
    val corp = Seq((1L, "alpha beta gamma delta epsilon zeta"))
    val sh = Dedup.shingleFrame(corp.toDF("doc_id", "text"), "doc_id", "text", 3)
    graft.sources.MergeTable.init(spark, s"$path/shingles", sh)
    graft.sources.MergeTable.init(spark, s"$path/bands",
      Dedup.bandFrame(sh, 128, 32))
    graft.sources.MergeTable.init(spark, s"$path/params",
      Seq((3, 128, 32)).toDF("shingle_size", "num_hashes", "bands"))
    // build must refuse — it cannot tell a serving legacy index from a
    // crashed legacy build, so it must never delete either
    val e = intercept[IllegalArgumentException] {
      DedupIndex.build(spark, path,
        Seq((2L, "other text")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e.getMessage.contains("migrate"), e.getMessage)
    assert(graft.sources.MergeTable.exists(spark, s"$path/bands"),
      "build destroyed the legacy components it refused")
    // migrate publishes it as composite v1; probes serve it unchanged
    DedupIndex.migrate(spark, path)
    assert(DedupIndex.exists(spark, path))
    assert(DedupIndex.pin(spark, path)("bands").dir === "bands")
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path, Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set((1L, 9L, 1.0)))
    // maintenance works on the migrated index (fixed-name dirs pinned)
    DedupIndex.upsert(spark, path,
      Seq((5L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(DedupIndex.pin(spark, path).version === 2L)
    // and a re-migrate is refused (already composite)
    intercept[IllegalArgumentException](DedupIndex.migrate(spark, path))
  }

  test("compact after a crashed upsert publishes the PINNED bands, not the unpublished merge") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    // simulate an upsert that crashed between its component merges and
    // its composite commit: doc 7's rows land in BOTH components'
    // latest versions, unpublished
    val sh7 = Dedup.shingleFrame(
      Seq((7L, "totally disjoint vocabulary set occupying space"))
        .toDF("doc_id", "text"), "doc_id", "text", 3)
    graft.sources.MergeTable.merge(
      spark, CompositeIndex.pinnedPath(spark, path, "shingles"), sh7, Seq("id"))
    graft.sources.MergeTable.merge(
      spark, CompositeIndex.pinnedPath(spark, path, "bands"),
      Dedup.bandFrame(sh7, 128, 32), Seq("id", "band"))
    // compact must rewrite the PINNED snapshot: publishing the crashed
    // merge's bands against the old pinned shingles would be a mixed
    // state (band hits with no shingles → silent admission of dups)
    DedupIndex.compact(spark, path, numFiles = 2)
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set.empty[(Long, Long, Double)],
      s"compact published the crashed upsert's unpublished bands: $probed")
    assert(graft.sources.MergeTable
      .read(spark, CompositeIndex.pinnedPath(spark, path, "bands"))
      .filter(col("id") === 7L).count() === 0L)
    // the replayed batch re-merges and publishes normally — convergence
    DedupIndex.upsert(spark, path,
      Seq((7L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text")
    val after = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(after === Set((7L, 9L, 1.0)))
  }

  test("vacuum reclaims orphan token dirs and dead component files; pinned state keeps serving") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    // an orphan from a build that lost the race after staging (its
    // token differs from the winner's) — no other path can reclaim it
    // once the composite manifest exists
    graft.sources.MergeTable.init(spark, s"$path/bands-0ddba11c0de5",
      Seq((9L, 0, 7)).toDF("id", "band", "bucket"))
    // superseded component versions: an upsert leaves v1's touched
    // files dead once vacuumed
    DedupIndex.upsert(spark, path,
      Seq((2L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text")
    val removed = DedupIndex.vacuum(spark, path, retainMillis = 0L)
    assert(removed === 1, s"expected the one orphan dir, removed $removed")
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = fs.listStatus(rootP).map(_.getPath.getName).toSet
    assert(!dirs.contains("bands-0ddba11c0de5"), s"orphan survived: $dirs")
    val pin = DedupIndex.pin(spark, path)
    assert(dirs.contains(pin("bands").dir) && dirs.contains(pin("shingles").dir),
      s"vacuum removed a referenced component: $dirs vs $pin")
    // the index still serves after the sweep
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set((1L, 9L, 1.0)))
    // a young orphan (inside the grace) is kept — a build mid-staging
    graft.sources.MergeTable.init(spark, s"$path/shingles-feedfacecafe",
      Seq((9L, Seq(1L))).toDF("id", "shingles"))
    assert(DedupIndex.vacuum(spark, path) === 0,
      "the retention grace must keep a possibly-mid-staging dir")
  }

  test("vacuum bounds the composite pin log: expired pins beyond the serving pin are swept") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    DedupIndex.upsert(spark, path,
      Seq((2L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text")
    DedupIndex.upsert(spark, path,
      Seq((3L, "another batch of unrelated words entirely")).toDF("doc_id", "text"),
      "doc_id", "text")
    val mdir = new org.apache.hadoop.fs.Path(path, "_manifests")
    val fs = mdir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.sources.Manifests.listVersions(fs, mdir) === Seq(1L, 2L, 3L),
      "build + two upserts must have committed three pins")
    DedupIndex.vacuum(spark, path, retainMillis = 0L)
    assert(graft.sources.Manifests.listVersions(fs, mdir) === Seq(3L),
      "expired pins beyond the serving pin must be swept (the pin log " +
        "otherwise grows one manifest per upsert, walked by every pin())")
    // the index still serves from the surviving pin
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "another batch of unrelated words entirely")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set((3L, 9L, 1.0)))
  }

  test("vacuum with the component tip ahead of the pin keeps the SERVING pin's files") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    // a published upsert, so the pinned component versions have
    // superseded predecessors (v1 files eligible for vacuum)
    DedupIndex.upsert(spark, path,
      Seq((2L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text")
    // crashed upsert REPLACING doc 2: its merges rewrite the files
    // holding doc 2 in BOTH component tips (superseding the pinned
    // files), and the composite never flips — tips AHEAD of the pin
    val sh7 = Dedup.shingleFrame(
      Seq((2L, "completely novel content about streaming joins here"))
        .toDF("doc_id", "text"), "doc_id", "text", 3)
    graft.sources.MergeTable.merge(
      spark, CompositeIndex.pinnedPath(spark, path, "shingles"), sh7, Seq("id"))
    graft.sources.MergeTable.merge(
      spark, CompositeIndex.pinnedPath(spark, path, "bands"),
      Dedup.bandFrame(sh7, 128, 32), Seq("id", "band"))
    DedupIndex.vacuum(spark, path, retainMillis = 0L)
    // a latest-only component vacuum would have deleted the pinned
    // version's rewritten files and broken every probe until replay
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set((2L, 9L, 1.0)),
      s"vacuum broke the serving pin while the tip was ahead: $probed")
  }

  test("delete purges ids outright: signatures stop serving; absent ids publish nothing") {
    val path = freshPath()
    DedupIndex.build(spark, path, Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text")
    DedupIndex.delete(spark, path, Seq(1L))
    assert(DedupIndex.pin(spark, path).version === 2L)
    // the purged content must no longer reject its lookalikes, while
    // the survivor keeps serving
    assert(pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)) === Set.empty[(Long, Long, Double)])
    assert(pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)) === Set((2L, 9L, 1.0)))
    // absent ids: no component changed, so nothing publishes
    DedupIndex.delete(spark, path, Seq(999L))
    assert(DedupIndex.pin(spark, path).version === 2L)
    // idempotent replay
    DedupIndex.delete(spark, path, Seq(1L))
    assert(pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((9L, "totally disjoint vocabulary set occupying space")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)) === Set((2L, 9L, 1.0)))
  }

  test("admitOnePerId on an already-reduced batch matches admit") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    val batch = Seq(
      (0L, "alpha beta gamma delta epsilon eta"),
      (5L, "completely novel content about streaming joins here"),
      (9L, "nothing like anything else in corpus or batch")).toDF("doc_id", "text")
    val viaAdmit = DedupIndex.admit(
      spark, path, batch, "doc_id", "text", threshold = 0.5)
    val viaPrepared = DedupIndex.admitOnePerId(
      spark, path, batch, "doc_id", "text", threshold = 0.5, None)
    assert(viaAdmit.exceptAll(viaPrepared).isEmpty &&
      viaPrepared.exceptAll(viaAdmit).isEmpty)
  }

  test("a probe racing an upsert reads ONE pinned composite version, never a mixed state") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    val batch = Seq((7L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    def probe() = pairs(DedupIndex.nearDupsAgainst(
      spark, path, batch, "doc_id", "text", threshold = 0.5))
    assert(probe() === Set((1L, 7L, 1.0)))
    // simulate an upsert IN FLIGHT: doc 1's retraction has hit the
    // shingles component but the composite commit hasn't published —
    // reading component-latest here would drop the pair at the verify
    // join (the pre-fix mixed state); a pinned reader must not notice
    graft.sources.MergeTable.deleteWhere(
      spark, CompositeIndex.pinnedPath(spark, path, "shingles"), col("id") === 1L)
    assert(probe() === Set((1L, 7L, 1.0)),
      "probe read a mixed state: component-latest shingles with pinned bands")
    // the PUBLISHED retraction (one composite commit) flips the whole view
    DedupIndex.upsert(spark, path,
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"), "doc_id", "text")
    assert(probe() === Set.empty[(Long, Long, Double)])
    assert(DedupIndex.pin(spark, path).version === 2L)
  }

  test("deterministicOnePerKey: same winner in any input order; version beats fingerprint") {
    def winner(rows: Seq[(Long, String, Long)], vc: Option[String]): String =
      Dedup.deterministicOnePerKey(rows.toDF("id", "text", "ver"), "id", vc)
        .filter(col("id") === 1L).select("text").as[String].head()
    val fwd = Seq((1L, "alpha", 5L), (1L, "beta", 5L), (2L, "noise", 1L))
    val rev = Seq((2L, "noise", 1L), (1L, "beta", 5L), (1L, "alpha", 5L))
    // equal versions: the fingerprint tie-break picks the SAME row
    // regardless of arrival order (replay convergence)
    assert(winner(fwd, Some("ver")) === winner(rev, Some("ver")))
    assert(winner(fwd, None) === winner(rev, None))
    // a higher version always beats the fingerprint order
    val versioned = Seq((1L, "alpha", 1L), (1L, "beta", 9L))
    assert(winner(versioned, Some("ver")) === "beta")
    assert(winner(versioned.reverse, Some("ver")) === "beta")
  }

  test("a NULL-id batch row never fabricates pairs (least/greatest null-skip trap)") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      Seq((5L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    // the NULL-id row's text collides with corpus doc 5 in every band;
    // without the id filter it would surface as a bogus (5, 5, 1.0)
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((null.asInstanceOf[java.lang.Long], "alpha beta gamma delta epsilon zeta"),
        (java.lang.Long.valueOf(9L), "unrelated novel content without any twin"))
        .toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set.empty[(Long, Long, Double)], s"fabricated: $probed")
  }

  test("NULL-text rows are excluded from build, upsert, and probes") {
    val path = freshPath()
    val corp = Seq((1L, "alpha beta gamma delta"), (2L, null.asInstanceOf[String]))
    DedupIndex.build(spark, path, corp.toDF("doc_id", "text"), "doc_id", "text")
    val probed = pairs(DedupIndex.nearDupsAgainst(
      spark, path,
      Seq((7L, "alpha beta gamma delta"), (8L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5))
    assert(probed === Set((1L, 7L, 1.0)))
  }
}
