package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.MergeTable
import graft.util.Sessions

/** The replay-merge answer, measured (r13 verdict #4): a REPLAY batch —
  * 10 redelivered request_ids spread across the table + 10 new, the
  * at-least-once crash-redelivery case — pays a full file rewrite per
  * touched file under [[MergeTable.merge]] (StreamMergeBloomDemo's
  * honest ~1x replay number: the bloom bounds discovery but nothing
  * bounds the rewrite; that demo is since removed:
  * git show c10dac1:src/main/scala/graft/StreamMergeBloomDemo.scala).
  * [[MergeTable.mergeLite]] bounds the rewrite:
  * the batch lands as a small DELTA file whose key set suppresses the
  * superseded base rows at read time (the keyed analog of Delta's
  * deletion vectors) — a 20-row replay is a 20-row write at any table
  * size.
  *
  * Three measured rows, cold page cache (the 100 TB regime —
  * drop_caches before every timed pass; requires root, else the demo
  * says its numbers are warm):
  *   1. replay-batch WALL: mergeLite vs rewrite merge, per micro-batch;
  *   2. READ TAX while delta state exists: a full-scan aggregate and a
  *      bloom-skipped point lookup on the DV table vs the same table
  *      after its fold (the anti-join's broadcast probe is the only
  *      plan delta) — with the spread replay keys this is the WORST
  *      case, the suppression scope covering every base file;
  *   3. the FOLD's own wall — the deferred compaction a deployment pays
  *      once per `maxDeltaRows` of absorbed updates instead of once per
  *      micro-batch;
  *   4. (phase 2b) the SCOPED tax: an insert-only delta (scope empty,
  *      reads join-free) and a localized replay (scope 1 of 16 files) —
  *      the regimes where the manifest-recorded scope turns the flat
  *      anti-join tax into a touched-fraction tax;
  *   5. (phase 4) append-vs-combine WRITE amplification: disjoint
  *      batches append their own delta file set (O(batch) per commit)
  *      while overlapping ones re-write the accumulated delta whole —
  *      the sustained-stream cost the append path removes;
  *   6. (phase 5, r15) the UNSCOPED tax and the maintenance RESCOPE: a
  *      past-the-In-limit batch commits unscoped, every scan pays the
  *      whole-base anti-join, and rescopeDelta bounds it with one
  *      deliberate off-write-path discovery scan;
  *   7. (phase 6, r15) SCOPE-AWARE FOLD: a fold seeded from the scope
  *      vs the same fold paying the base key-column discovery scan —
  *      identical rewrite, the scan isolated (A/B via zero-copy clones,
  *      one with its manifest scope re-committed stripped);
  *   8. (phase 7, r15) KEYED RETRACTION: deleteLite's tombstone write
  *      (the deletion-vector delete — O(keys) at any table size) vs
  *      deleteWhere's per-file rewrites on the same 10 spread keys.
  *
  * Run manually: `sbt "runMain graft.MergeLiteDemo"` (MERGE_LITE_ROWS
  * overrides the 40M default; idle host — timing).
  */
object MergeLiteDemo {

  private def dropCaches(): Boolean =
    try {
      new ProcessBuilder("sh", "-c", "sync; echo 1 > /proc/sys/vm/drop_caches")
        .start().waitFor() == 0
    } catch { case _: Exception => false }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)
    import graft.util.Timing.time

    val n = sys.env.getOrElse("MERGE_LITE_ROWS", "40000000").toLong
    require(n >= 1000000, s"MERGE_LITE_ROWS too small to mean anything (got $n)")
    val files = 16
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.block.size", 8 * 1024 * 1024)
    val base = java.nio.file.Files.createTempDirectory("merge_lite").toString
    val litePath = s"$base/lite"
    val fullPath = s"$base/rewrite"
    val cold = dropCaches()
    if (!cold) println("WARNING: cannot drop page cache (not root?) — " +
      "the numbers below are WARM-cache")

    // the JobProcessor response-table shape
    def responseRows(ids: DataFrame): DataFrame = ids
      .withColumn("request_id", sha2(concat(lit("req "),
        col("id").cast("string")), 256))
      .withColumn("job_id", pmod(col("id"), lit(1000L)).cast("string"))
      .withColumn("user_query", md5(col("id").cast("string")))
      .withColumn("ai_response", concat(md5(col("id").cast("string")),
        md5(concat(lit("x"), col("id").cast("string"))),
        md5(concat(lit("y"), col("id").cast("string")))))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("id") % 86400))
      .drop("id")

    val seed = responseRows(spark.range(n).repartition(files).toDF())
    time(f"init (x2 tables, bloomed request_id) $n%,d rows") {
      MergeTable.init(spark, litePath, seed, bloomKeys = Seq("request_id"))
      MergeTable.init(spark, fullPath, seed, bloomKeys = Seq("request_id"))
    }

    // replay micro-batch: 10 redelivered ids spread across the table
    // (≈ every file touched) + 10 new — the crash-redelivery shape
    def replayBatch(round: Int): DataFrame = {
      val replayed = spark.range(1, 11)
        .select((col("id") * (n / 11) + round).as("id"))
      val fresh = spark.range(2 * n + round * 10L, 2 * n + round * 10L + 10).toDF()
      responseRows(replayed.unionByName(fresh))
    }

    def stream(dir: String, label: String, rounds: Int, lite: Boolean): Seq[Double] =
      (1 to rounds).map { r =>
        val b = replayBatch(r)
        dropCaches()
        val t0 = System.nanoTime()
        if (lite) MergeTable.mergeLite(spark, dir, b, Seq("request_id"))
        else MergeTable.merge(spark, dir, b, Seq("request_id"))
        val w = (System.nanoTime() - t0) / 1e9
        println(f"  $label round $r%2d: wall $w%6.3f s")
        // reclaim superseded files between rounds (exclusive maintenance)
        // — the REWRITE arm otherwise accumulates ~4.5 GB per round
        MergeTable.vacuum(spark, dir, retainMillis = 0)
        w
      }

    println("phase 1 — replay-batch wall: 4 micro-batches of 10 replayed + " +
      "10 new request_ids, cache dropped before every merge" +
      (if (cold) " (cold cache)" else " (WARM cache)"))
    val wl = stream(litePath, "mergeLite", 4, lite = true)
    val wf = stream(fullPath, "rewrite  ", 4, lite = false)
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"replay wall: mergeLite median ${med(wl)}%6.3f s total ${wl.sum}%6.2f s | " +
      f"rewrite median ${med(wf)}%6.3f s total ${wf.sum}%6.2f s | " +
      f"median ${med(wf) / med(wl)}%.1fx, wall ${wf.sum / wl.sum}%.1fx")

    // both arms must converge to the same logical content
    val nExpect = n + 4 * 10L
    val cl = MergeTable.read(spark, litePath).count()
    val cf = MergeTable.read(spark, fullPath).count()
    require(cl == nExpect && cf == nExpect,
      s"arms diverged: lite $cl, rewrite $cf (expect $nExpect)")
    val dv = MergeTable.snapshot(spark, litePath)
    println(f"lite table state: ${dv.entries.size} base files untouched, " +
      f"${dv.delta.size} delta file(s) carrying the ${4 * 20} absorbed rows, " +
      f"suppression scope ${dv.dvFiles.map(_.size).getOrElse(-1)} of " +
      f"${dv.entries.size} base files (spread replay keys: the worst case)")

    // phase 2 — the read tax while delta state exists. Same table
    // before/after its fold, so the anti-join is the ONLY delta.
    def probeKey: String = MergeTable.read(spark, fullPath)
      .filter(col("job_id") === "42").select("request_id").head().getString(0)
    val k = probeKey
    def scanAgg(dir: String): Double = {
      dropCaches()
      val t0 = System.nanoTime()
      MergeTable.read(spark, dir)
        .agg(sum(length(col("user_query")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    def pointLookup(dir: String): Double = {
      dropCaches()
      val t0 = System.nanoTime()
      MergeTable.read(spark, dir).filter(col("request_id") === k).count()
      (System.nanoTime() - t0) / 1e9
    }
    // JVM-warm both paths once (codegen/readers), then time cold
    println("phase 2 — read tax while delta state exists (same table " +
      "before/after its fold; the broadcast anti-join is the only plan delta)")
    scanAgg(litePath); pointLookup(litePath)
    val aggDv = scanAgg(litePath)
    val lookDv = pointLookup(litePath)
    println("phase 3 — the fold (the deferred compaction, paid once per " +
      "maxDeltaRows instead of once per micro-batch)")
    dropCaches()
    val t0 = System.nanoTime()
    // an empty rewrite merge folds the delta state in one commit
    MergeTable.merge(spark, litePath,
      replayBatch(999).limit(0), Seq("request_id"))
    val foldWall = (System.nanoTime() - t0) / 1e9
    require(MergeTable.snapshot(spark, litePath).delta.isEmpty, "fold failed")
    MergeTable.vacuum(spark, litePath, retainMillis = 0)
    val aggPlain = scanAgg(litePath)
    val lookPlain = pointLookup(litePath)
    println(f"read tax (cold): full-scan agg $aggDv%6.3f s with delta vs " +
      f"$aggPlain%6.3f s folded (${aggDv / aggPlain}%.2fx); " +
      f"point lookup $lookDv%6.3f s vs $lookPlain%6.3f s " +
      f"(${lookDv / lookPlain}%.2fx)")
    println(f"fold wall (80-row combined delta against $n%,d rows): $foldWall%6.2f s")
    require(MergeTable.read(spark, litePath).count() == nExpect,
      "fold changed the logical content")

    // phase 2b — SCOPED suppression: the manifest records which base
    // files discovery proved to hold a superseded row, so the anti-join
    // applies only there. Two regimes against the same folded table:
    // an INSERT-ONLY delta (scope empty — the JobProcessor steady
    // state) and a LOCALIZED replay (10 redelivered keys all living in
    // one base file — time-correlated redelivery). Phase 2's number is
    // the adversarial ceiling: spread keys touch every file.
    println("phase 2b — scoped read tax: proportional to the touched " +
      "files, not the table")
    import spark.implicits._
    MergeTable.mergeLite(spark, litePath,
      responseRows(spark.range(3 * n, 3 * n + 20).toDF()), Seq("request_id"))
    val sIns = MergeTable.snapshot(spark, litePath)
    println(s"  insert-only delta: scope ${sIns.dvFiles.map(_.size)} " +
      s"(no base file can hold a superseded row — reads are join-free)")
    scanAgg(litePath); pointLookup(litePath) // JVM-warm the new plan shape
    val aggIns = scanAgg(litePath)
    val lookIns = pointLookup(litePath)
    // localized replay: 10 EXISTING keys sampled from one BASE file —
    // pinned by basename from the snapshot's entries, not head() over
    // the union (which could serve a delta partition first and quietly
    // measure the join-free regime instead)
    val b0 = new org.apache.hadoop.fs.Path(
      MergeTable.snapshot(spark, litePath).entries.head.path).getName
    val localKeys = MergeTable.read(spark, litePath)
      .filter(input_file_name().endsWith(b0))
      .select("request_id").limit(10).as[String].collect().toSeq
    require(localKeys.size == 10, s"base-file key sample came up short ($b0)")
    val localBatch = localKeys.toDF("request_id")
      .withColumn("job_id", lit("replay"))
      .withColumn("user_query", md5(col("request_id")))
      .withColumn("ai_response", concat(md5(col("request_id")),
        md5(concat(lit("x"), col("request_id"))),
        md5(concat(lit("y"), col("request_id")))))
      .withColumn("ts", timestamp_seconds(lit(1700000000L)))
    MergeTable.mergeLite(spark, litePath, localBatch, Seq("request_id"))
    val sLoc = MergeTable.snapshot(spark, litePath)
    println(s"  localized replay: scope ${sLoc.dvFiles.map(_.size)} of " +
      s"${sLoc.entries.size} base files")
    scanAgg(litePath); pointLookup(litePath)
    val aggLoc = scanAgg(litePath)
    val lookLoc = pointLookup(litePath)
    println(f"scoped read tax (cold, vs folded $aggPlain%6.3f s): " +
      f"insert-only agg $aggIns%6.3f s (${aggIns / aggPlain}%.2fx), " +
      f"localized-replay agg $aggLoc%6.3f s (${aggLoc / aggPlain}%.2fx) — " +
      f"vs ${aggDv / aggPlain}%.2fx when the scope covers every file; " +
      f"point lookups $lookIns%6.3f / $lookLoc%6.3f vs $lookPlain%6.3f s")
    require(MergeTable.read(spark, litePath).count() == nExpect + 20,
      "phase 2b changed the logical content beyond its 20 inserts")

    // phase 4 — append-vs-combine write amplification on a sustained
    // insert-heavy rowLevel stream: disjoint batches APPEND their own
    // file set (O(batch) per commit), while an overlapping stream
    // COMBINES — re-writes the accumulated delta whole each call (the
    // cost every batch paid before the append path existed). Warm
    // cache: this row is write-path cost, not IO-skipping.
    println("phase 4 — append-vs-combine write amplification " +
      "(4 x 200k-row batches into a 1M-row table, warm)")
    val bRows = 200000L
    val aPath = s"$base/append"
    val cPath = s"$base/combine"
    val seedSmall = responseRows(spark.range(1000000L).repartition(4).toDF())
    MergeTable.init(spark, aPath, seedSmall, bloomKeys = Seq("request_id"))
    MergeTable.init(spark, cPath, seedSmall, bloomKeys = Seq("request_id"))
    // append arm: batch i strictly new ids; combine arm: consecutive
    // batches share 1000 ids, so every call after the first overlaps
    def ids(lo: Long): DataFrame =
      responseRows(spark.range(10000000L + lo, 10000000L + lo + bRows).toDF())
    val (wa, wc) = (1 to 4).map { i =>
      val t0 = System.nanoTime()
      val sa = MergeTable.mergeLite(spark, aPath, ids(i * bRows), Seq("request_id"))
      val a = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val sc = MergeTable.mergeLite(spark, cPath,
        ids((i - 1) * (bRows - 1000)), Seq("request_id"))
      val c = (System.nanoTime() - t1) / 1e9
      println(f"  batch $i: append $a%6.3f s " +
        f"(wrote ${sa.filesWritten}, re-wrote ${sa.filesRewritten}) | " +
        f"combine $c%6.3f s (re-wrote ${sc.filesRewritten} delta sets whole)")
      (a, c)
    }.unzip
    println(f"append total ${wa.sum}%6.2f s (flat per batch) vs combine " +
      f"total ${wc.sum}%6.2f s (grows with the accumulated delta): " +
      f"${wc.sum / wa.sum}%.1fx")
    require(MergeTable.read(spark, aPath).count() == 1000000L + 4 * bRows,
      "append arm diverged")
    // combine arm: 4 batches overlapping 1000 keys pairwise cover
    // [0, 4*bRows - 3000) distinct new ids
    require(MergeTable.read(spark, cPath).count() == 1000000L + 4 * bRows - 3000,
      "combine arm diverged")

    // phase 5 — the UNSCOPED tax and the maintenance RESCOPE (r15):
    // a batch past the In-probe limit (1500 spread EXISTING keys)
    // commits unscoped, so every full scan pays the whole-base
    // anti-join until rescopeDelta runs the one deliberate discovery
    // scan off the write path. Measured: tax before, the rescope wall,
    // tax after.
    println("phase 5 — unscoped read tax, bounded by the maintenance rescope")
    // fold phase 2b's state first so this phase starts DV-free
    MergeTable.merge(spark, litePath, replayBatch(998).limit(0), Seq("request_id"))
    MergeTable.vacuum(spark, litePath, retainMillis = 0)
    // 1500 EXISTING keys — past the In-probe limit, so the write path
    // refuses discovery and commits UNSCOPED — all sampled from ONE
    // base file (a time-correlated bulk correction), so the rescope
    // has a real win to expose: unscoped reads anti-join all 16 files
    // for a delta that provably touches 1
    val b5 = new org.apache.hadoop.fs.Path(
      MergeTable.snapshot(spark, litePath).entries.head.path).getName
    val localIds5 = MergeTable.read(spark, litePath)
      .filter(input_file_name().endsWith(b5))
      .select("request_id").limit(1500).as[String].collect().toSeq
    require(localIds5.size == 1500, s"key sample came up short ($b5)")
    val batch5 = localIds5.toDF("request_id")
      .withColumn("job_id", lit("bulkfix"))
      .withColumn("user_query", md5(col("request_id")))
      .withColumn("ai_response", concat(md5(col("request_id")),
        md5(concat(lit("x"), col("request_id"))),
        md5(concat(lit("y"), col("request_id")))))
      .withColumn("ts", timestamp_seconds(lit(1700000000L)))
    MergeTable.mergeLite(spark, litePath, batch5, Seq("request_id"))
    val sUn = MergeTable.snapshot(spark, litePath)
    require(sUn.dvFiles.isEmpty, "1500 keys must commit unscoped")
    scanAgg(litePath) // JVM-warm the unscoped plan shape
    val aggUnscoped = scanAgg(litePath)
    dropCaches()
    val tRescope = System.nanoTime()
    val sRe = MergeTable.rescopeDelta(spark, litePath)
    val rescopeWall = (System.nanoTime() - tRescope) / 1e9
    println(s"  rescope scoped ${sRe.dvFiles.map(_.size).getOrElse(-1)} of " +
      s"${sRe.entries.size} base files")
    scanAgg(litePath) // JVM-warm the scoped plan shape
    val aggRescoped = scanAgg(litePath)
    println(f"unscoped tax: full-scan agg $aggUnscoped%6.3f s unscoped vs " +
      f"$aggRescoped%6.3f s rescoped (${aggUnscoped / aggRescoped}%.2fx); " +
      f"rescope wall $rescopeWall%6.2f s — one base key-column scan, " +
      "paid once in maintenance instead of on every read")
    require(MergeTable.read(spark, litePath).count() == nExpect + 20,
      "phase 5 replaced existing keys only")

    // phase 6 — SCOPE-AWARE FOLD (r15): a fold whose update set derives
    // from the delta seeds its touched-file set from the suppression
    // scope and SKIPS the base discovery scan. A/B on identical state:
    // the clone keeps its scope, the twin re-commits its manifest
    // scope-stripped (what a pre-scoping writer left behind).
    println("phase 6 — scope-aware fold: seeded vs discovery")
    val scopedPath = s"$base/fold_scoped"
    val strippedPath = s"$base/fold_stripped"
    MergeTable.cloneTable(spark, litePath, scopedPath)
    MergeTable.cloneTable(spark, litePath, strippedPath)
    locally { // strip the scope: the legacy-unscoped manifest shape
      val mdir = new org.apache.hadoop.fs.Path(strippedPath, "_manifests")
      val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val v = graft.sources.Manifests.latestVersion(fs, mdir).get
      graft.sources.Manifests.commit(fs, mdir, v + 1,
        graft.sources.Manifests.read(fs, mdir, v).filterNot(l =>
          l.startsWith("dvfiles\t") || l.startsWith("dvfile\t")))
    }
    require(MergeTable.snapshot(spark, strippedPath).dvFiles.isEmpty)
    def foldWallOf(dir: String): Double = {
      dropCaches()
      val t = System.nanoTime()
      MergeTable.merge(spark, dir, replayBatch(997).limit(0), Seq("request_id"))
      (System.nanoTime() - t) / 1e9
    }
    val wStripped = foldWallOf(strippedPath)
    val wScoped = foldWallOf(scopedPath)
    println(f"fold wall: scoped (discovery skipped) $wScoped%6.2f s vs " +
      f"unscoped (base key-column discovery scan) $wStripped%6.2f s " +
      f"(${wStripped / wScoped}%.2fx) — the delta IS the scan the seed removes")
    require(MergeTable.read(spark, scopedPath).count() ==
      MergeTable.read(spark, strippedPath).count(),
      "the seeded fold must produce the discovery fold's content")

    // phase 7 — KEYED RETRACTION (r15): deleteLite records the keys as
    // tombstones (one key-only file, no base rewrite — the deletion-
    // vector delete) while deleteWhere rewrites every file a key lives
    // in. 10 spread ids — the GDPR-erasure / bad-batch shape — against
    // the two identical folded 40M tables from phase 6.
    println("phase 7 — keyed retraction: deleteLite (tombstones) vs " +
      "deleteWhere (file rewrites), 10 spread keys")
    val retract = responseRows(
      spark.range(1, 11).select((col("id") * (n / 11) + 5).as("id")))
      .select("request_id").localCheckpoint(true)
    val retractKeys = retract.as[String].collect().toSeq
    dropCaches()
    val t7a = System.nanoTime()
    MergeTable.deleteLite(spark, scopedPath, retract, Seq("request_id"))
    val wLite = (System.nanoTime() - t7a) / 1e9
    dropCaches()
    val t7b = System.nanoTime()
    MergeTable.deleteWhere(spark, strippedPath,
      col("request_id").isin(retractKeys: _*))
    val wWhere = (System.nanoTime() - t7b) / 1e9
    val cLite = MergeTable.read(spark, scopedPath).count()
    val cWhere = MergeTable.read(spark, strippedPath).count()
    require(cLite == cWhere, s"retraction arms diverged: $cLite vs $cWhere")
    graft.util.Checkpoints.free(retract)
    val sDel = MergeTable.snapshot(spark, scopedPath)
    println(f"retraction wall: deleteLite $wLite%6.2f s (one ${sDel.deletes.size}-file " +
      f"tombstone set, scope ${sDel.dvFiles.map(_.size).getOrElse(-1)} of " +
      f"${sDel.entries.size} base files, zero rewrites) vs deleteWhere " +
      f"$wWhere%6.2f s (bloom-pruned discovery + per-file rewrites): " +
      f"${wWhere / wLite}%.1fx — both arms at ${cLite}%,d rows")

    // phase 8 — TOMBSTONE CREEP under sequential small deletes (r16):
    // a delete-heavy table accumulates tombstones one small deleteLite
    // at a time; the read's suppression broadcast must stay FLAT (the
    // key set is tiny) until the threshold-triggered fold clears it.
    // 1000 single-key retractions — the sustained GDPR-queue shape —
    // against the 40M scoped table, read wall sampled every 250.
    println("phase 8 — 1000 sequential single-key deleteLites: read wall " +
      "stays flat; maintain's fold policy clears at the threshold")
    val delIds = spark.range(12, 1012)
      .select((col("id") * (n / 1013)).as("id"))
    val delKeys = responseRows(delIds).select("request_id")
      .as[String].collect().toSeq
    def readWall(): Double = {
      dropCaches()
      val t0 = System.nanoTime()
      MergeTable.read(spark, scopedPath)
        .agg(count(lit(1)), sum(length(col("ai_response")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"  read wall at ${0}%4d tombstones: ${readWall()}%6.2f s")
    var deleteWall = 0.0
    delKeys.zipWithIndex.foreach { case (k, i) =>
      val t0 = System.nanoTime()
      MergeTable.deleteLite(spark, scopedPath,
        Seq(k).toDF("request_id"), Seq("request_id"))
      deleteWall += (System.nanoTime() - t0) / 1e9
      if ((i + 1) % 250 == 0) {
        val p = MergeTable.rowLevelPressure(spark, scopedPath)
        println(f"  read wall at ${i + 1}%4d tombstones: ${readWall()}%6.2f s " +
          f"(pressure: ${p.tombstoneRows} tombstone rows in " +
          f"${p.tombstoneFiles} file(s), scope ${p.scopeFiles} files; " +
          f"cumulative delete wall $deleteWall%6.1f s)")
      }
    }
    // threshold policy (maintain's fold branch alone): under stays put,
    // over folds — then reads are suppression-free again
    def foldPolicy(maxTombstoneRows: Long) = MergeTable.maintain(spark, scopedPath,
      MergeTable.MaintenancePolicy(rescope = false,
        foldAtTombstoneRows = Some(maxTombstoneRows), vacuumRetainMillis = None)).folded
    require(foldPolicy(2000L).isEmpty, "under-threshold must not fold")
    val t8 = System.nanoTime()
    val folded8 = foldPolicy(500L)
    val wFold8 = (System.nanoTime() - t8) / 1e9
    require(folded8.isDefined && !MergeTable.snapshot(spark, scopedPath).rowLevel,
      "over-threshold must fold to a DV-free manifest")
    println(f"  threshold fold: $wFold8%6.2f s " +
      f"(rewrote ${folded8.get.filesRewritten} of " +
      f"${MergeTable.snapshot(spark, scopedPath).entries.size} base files); " +
      f"read wall after fold: ${readWall()}%6.2f s")

    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(base))
    spark.stop()
  }
}
