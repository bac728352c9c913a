package graft

import org.apache.spark.sql.functions._

import graft.sources.MergeTable

/** Storage-level keyed MERGE: versioned manifests, touched-file-only
  * rewrites, OCC commits, vacuum — the `ON CONFLICT DO UPDATE` loop at
  * the file layer (`vector_service.py:119-125`). */
class MergeTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("merge_table").toString + "/t"

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, s"payload $i")).toDF("id", "tag", "body")

  /** Tamper with a table's TIP manifest in place (foreign-edit /
    * pre-scoping-writer simulation): read its lines, rewrite them
    * through `f`. */
  private def tamperManifest(path: String)(f: Seq[String] => Seq[String]): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    val v = graft.sources.Manifests.latestVersion(fs, mdir).get
    val vPath = graft.sources.Manifests.versionPath(mdir, v)
    val lines = f(graft.sources.Manifests.read(fs, mdir, v))
    fs.delete(vPath, false)
    val out = fs.create(vPath, false)
    out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")); out.close()
  }

  test("an empty committed file list round-trips as empty, not a phantom entry") {
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("manifests_empty").toString, "_m")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.Manifests.commit(fs, dir, 1L, Nil)
    assert(graft.sources.Manifests.read(fs, dir, 1L) === Nil,
      "commit(Nil) must not read back as Seq(\"\")")
  }

  test("init + read roundtrip at version 1; double init rejected") {
    val path = freshPath()
    val snap = MergeTable.init(spark, path, rows(1 to 50, "a"))
    assert(snap.version === 1L && snap.files.nonEmpty)
    assert(MergeTable.read(spark, path).count() === 50)
    intercept[IllegalArgumentException] {
      MergeTable.init(spark, path, rows(1 to 3, "x"))
    }
  }

  test("merge replaces matched keys, inserts new ones; result = anti-join ∪ updates") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))
    val updates = rows(90 to 110, "new") // 11 replacements + 10 inserts
    val stats = MergeTable.merge(spark, path, updates, Seq("id"))
    assert(stats.version === 2L && stats.rowsUpserted === 21L)
    val got = MergeTable.read(spark, path)
    assert(got.count() === 110)
    assert(got.filter($"tag" === "new").count() === 21)
    assert(got.filter($"id" === 95L).select("tag").head().getString(0) === "new")
    assert(got.filter($"id" === 5L).select("tag").head().getString(0) === "old")
    // equivalent to the DataFrame-level upsert on the same inputs
    val expected = rows(1 to 100, "old").join(updates, Seq("id"), "left_anti")
      .unionByName(updates)
    assert(got.orderBy("id").collect().toSeq ===
      expected.orderBy("id").collect().toSeq)
  }

  test("compactTableAt: plain claims snapshot+1 (loud conflict); pinned claims tip+1 with pinned content") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))            // v1
    MergeTable.merge(spark, path, rows(101 to 120, "b"), Seq("id")) // v2 (the "crashed, unpublished" commit)
    // pinned at v1: the rewrite supersedes v2's rows at the tip (v3)
    val pinned = MergeTable.compactTableAt(spark, path, "id", 2, Some(1L))
    assert(pinned.version === 3L)
    assert(MergeTable.read(spark, path).count() === 100,
      "pinned compaction leaked post-pin rows into the tip")
    assert(MergeTable.readAt(spark, path, 2L).count() === 120,
      "the superseded commit must stay time-travelable until vacuum")
    // plain path: claims snapshot+1 (the snap.version+1 arithmetic is
    // what turns a commit landing inside the read-rewrite window into
    // a loud FileAlreadyExists instead of silently dropping that
    // writer's rows — the window itself is not constructible from
    // outside the call, so assert the quiesced-path arithmetic)
    val plain = MergeTable.compactTable(spark, path, "id", 2)
    assert(plain.version === 4L)
    assert(MergeTable.read(spark, path).count() === 100)
  }

  test("readAt time-travels the manifest log; vacuum ends older versions' travel") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))
    MergeTable.merge(spark, path, rows(90 to 110, "new"), Seq("id"))
    assert(MergeTable.versions(spark, path) === Seq(1L, 2L))
    // v1 reads exactly the pre-merge table while v2 is the latest
    val v1 = MergeTable.readAt(spark, path, 1L)
    assert(v1.count() === 100 && v1.filter($"tag" === "new").count() === 0)
    assert(MergeTable.read(spark, path).count() === 110)
    intercept[IllegalArgumentException] {
      MergeTable.snapshotAt(spark, path, 7L)
    }
    // vacuum reclaims v1-only files — v1 is no longer travelable
    assert(MergeTable.vacuum(spark, path, retainMillis = 0) > 0)
    intercept[Exception] { MergeTable.readAt(spark, path, 1L).count() }
    assert(MergeTable.read(spark, path).count() === 110, "latest unaffected")
  }

  test("only files containing matched keys are rewritten; kept files carried by reference") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "old"))
    // range-sort into 8 disjoint-key files so a narrow update is localized
    val compacted = MergeTable.compactTable(spark, path, "id", numFiles = 8)
    assert(compacted.files.size === 8)
    val stats = MergeTable.merge(spark, path, rows(10 to 20, "new"), Seq("id"))
    assert(stats.filesRewritten >= 1 && stats.filesKept >= 6,
      s"narrow update should keep most files: $stats")
    val after = MergeTable.snapshot(spark, path)
    assert((compacted.files.toSet intersect after.files.toSet).size
      === stats.filesKept.toInt, "kept files must be the SAME paths, not copies")
    assert(MergeTable.read(spark, path).filter($"tag" === "new").count() === 11)
  }

  test("non-unique updates are rejected; empty updates are a cheap no-op commit") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path,
        rows(1 to 3, "x").unionAll(rows(3 to 3, "y")), Seq("id"))
    }
    val before = MergeTable.snapshot(spark, path)
    val stats = MergeTable.merge(spark, path, rows(1 to 0, "x"), Seq("id"))
    assert(stats.filesRewritten === 0L)
    assert(MergeTable.snapshot(spark, path).version === before.version)
  }

  test("deleteWhere rewrites only the files containing matches; null predicate rows survive") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "a"))
    MergeTable.compactTable(spark, path, "id", numFiles = 8)
    val stats = MergeTable.deleteWhere(spark, path, $"id" >= 10 && $"id" <= 25)
    assert(stats.filesRewritten >= 1 && stats.filesKept >= 6,
      s"narrow delete should keep most files: $stats")
    val got = MergeTable.read(spark, path)
    assert(got.count() === 984)
    assert(got.filter($"id" >= 10 && $"id" <= 25).count() === 0)
    // predicate that is NULL for some rows: only TRUE rows are deleted
    val withNull = rows(1 to 10, "x")
      .withColumn("flag", when($"id" <= 3, true).when($"id" <= 6, lit(null)).otherwise(false))
    val p2 = freshPath()
    MergeTable.init(spark, p2, withNull)
    MergeTable.deleteWhere(spark, p2, $"flag")
    assert(MergeTable.read(spark, p2).count() === 7) // nulls + false kept
    // no-match delete is a no-op commit
    val before = MergeTable.snapshot(spark, p2).version
    val s2 = MergeTable.deleteWhere(spark, p2, $"id" > 999)
    assert(s2.filesRewritten === 0L)
    assert(MergeTable.snapshot(spark, p2).version === before)
  }

  test("vacuum deletes data files the latest manifest no longer references") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 200, "a"))
    MergeTable.merge(spark, path, rows(50 to 60, "b"), Seq("id"))
    MergeTable.compactTable(spark, path, "id", numFiles = 2) // orphans everything prior

    // the default retention grace keeps the just-orphaned (young) files:
    // a concurrent writer's uncommitted batch must never be deleted
    assert(MergeTable.vacuum(spark, path) === 0,
      "files younger than the retention grace must survive vacuum")

    val removed = MergeTable.vacuum(spark, path, retainMillis = 0)
    assert(removed > 0, "compaction should have orphaned the old files")
    val got = MergeTable.read(spark, path)
    assert(got.count() === 200)
    assert(got.filter($"tag" === "b").count() === 11)
    assert(MergeTable.vacuum(spark, path, retainMillis = 0) === 0) // idempotent
  }

  test("vacuum sweeps manifest temp files stranded by a crashed commit") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 20, "a"))
    // simulate a writer that died between its temp write and the link(2)
    // claim: a `._v*_*.tmp` left in _manifests that nothing references
    val stranded = java.nio.file.Paths.get(path, "_manifests", "._v9_dead.tmp")
    java.nio.file.Files.write(stranded, "orphan\n".getBytes("UTF-8"))
    MergeTable.vacuum(spark, path) // young: grace keeps it (mid-commit writer)
    assert(java.nio.file.Files.exists(stranded),
      "temp files younger than the grace must survive (a commit may be in flight)")
    MergeTable.vacuum(spark, path, retainMillis = 0)
    assert(!java.nio.file.Files.exists(stranded),
      "expired stranded temp files must be swept")
    // the table itself is untouched
    assert(MergeTable.read(spark, path).count() === 20)
    assert(MergeTable.snapshot(spark, path).version === 1L)
  }

  test("reads resolve through ManifestFileIndex (zero-listing), sized exactly") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 200, "a"))
    MergeTable.merge(spark, path, rows(150 to 250, "b"), Seq("id"))
    val df = MergeTable.read(spark, path)
    val scans = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet scan")
    val loc = scans.head.relation.location
    assert(loc.isInstanceOf[graft.sources.ManifestFileIndex],
      s"read must resolve from manifest metadata, not a listing job: $loc")
    // the index's recorded sizes must be the files' exact on-disk sizes
    // (Spark plans splits from them — a drifted size truncates a scan)
    val snap = MergeTable.snapshot(spark, path)
    snap.entries.foreach { e =>
      val real = new java.io.File(new java.net.URI(e.path)).length()
      assert(e.size === real, s"manifest size drifted for ${e.path}")
    }
    assert(loc.sizeInBytes === snap.entries.map(_.size).sum)
    // a legacy (size-less) manifest takes the listing path, same rows
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    graft.sources.Manifests.commit(fs, mdir, 3L, snap.files) // paths only
    val legacy = MergeTable.read(spark, path)
    val legacyScan = legacy.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(!legacyScan.relation.location.isInstanceOf[graft.sources.ManifestFileIndex],
      "a size-less manifest must fall back to the listing relation")
    assert(legacy.orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
  }

  test("init refuses roots whose URI form does not round-trip (space/tab/%/#)") {
    // stored manifest paths are URI-encoded but new Path(stored) keeps
    // the escape literally (hadoop Path(String) never decodes) — such a
    // root would write data at the literal path, store unreadable
    // addresses, and make vacuum reclaim LIVE files
    val base = java.nio.file.Files.createTempDirectory("mt_root").toString
    for (bad <- Seq("has tab\there", "has space", "per%cent", "ha#sh")) {
      val e = intercept[IllegalArgumentException] {
        MergeTable.init(spark, s"$base/$bad/t", rows(1 to 3, "a"))
      }
      assert(e.getMessage.contains("round-trip"), s"'$bad': ${e.getMessage}")
    }
  }

  test("a pinned version swept mid-read fails with the travel-ended message, cause kept") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    MergeTable.merge(spark, path, rows(5 to 6, "b"), Seq("id")) // v2 = tip
    // simulate the retention sweep reclaiming v1 between a reader's
    // resolve and read (snapshotAt has no exists pre-check to fool)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      path, "_manifests", f"v${1L}%020d"))
    val e = intercept[IllegalArgumentException] {
      MergeTable.snapshotAt(spark, path, 1L)
    }
    assert(e.getMessage.contains("reclaimed by the retention sweep"), e.getMessage)
    assert(e.getCause.isInstanceOf[java.io.FileNotFoundException],
      "the FNFE naming the vanished file must survive as the cause")
    assert(MergeTable.read(spark, path).count() === 10) // tip unaffected
  }

  test("sweepLog: the keepFrom floor protects versions >= it regardless of mtime") {
    // the structural guarantee behind concurrent-commit safety: a
    // version at or above the sweeper's resolved tip survives even
    // with a backdated mtime and retain=0 (an mtime-only sweep would
    // reintroduce the swept-just-committed-pin bug)
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("sweep_floor").toString, "_m")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.Manifests.commit(fs, dir, 1L, Seq("a"))
    graft.sources.Manifests.commit(fs, dir, 2L, Seq("b"))
    graft.sources.Manifests.commit(fs, dir, 3L, Seq("c"))
    val old = java.nio.file.attribute.FileTime.fromMillis(1000L)
    (1L to 3L).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(
        graft.sources.Manifests.versionPath(dir, v).toUri.getPath), old)
    }
    // a stranded temp in the same directory is swept by the same listing
    val tmp = java.nio.file.Paths.get(dir.toUri.getPath, "._v9_dead.tmp")
    java.nio.file.Files.write(tmp, "orphan".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(tmp, old)
    graft.sources.Manifests.sweepLog(fs, dir,
      cutoff = System.currentTimeMillis(), keep = Set(1L), keepFrom = 3L)
    assert(graft.sources.Manifests.listVersions(fs, dir) === Seq(1L, 3L),
      "keep-set and keepFrom-floor versions must survive; v2 must not")
    assert(!java.nio.file.Files.exists(tmp), "the temp shares the one listing")
  }

  test("a reader pinned at version N survives a concurrent commit + vacuum with grace") {
    // the Manifests atomicity-for-readers claim as a test: a query
    // planned against version N keeps reading N's files while N+1 is
    // committed AND a graced vacuum runs — the grace (not luck) is what
    // keeps the superseded files alive for in-flight readers
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))               // v1
    val pinned = MergeTable.readAt(spark, path, 1L)                 // planned against v1
    MergeTable.merge(spark, path, rows(1 to 100, "b"), Seq("id"))   // v2 rewrites every v1 file
    assert(MergeTable.vacuum(spark, path) === 0,
      "v1's files are inside the retention grace and must survive")
    assert(pinned.count() === 100)
    assert(pinned.filter($"tag" === "a").count() === 100,
      "the pinned reader must still see version 1's content, not v2's")
    assert(MergeTable.read(spark, path).filter($"tag" === "b").count() === 100)
    // beyond the grace the pin ends, as documented: the files are gone
    // and a new reader of v1 fails instead of returning partial data
    assert(MergeTable.vacuum(spark, path, retainMillis = 0) > 0)
    intercept[Exception] { MergeTable.readAt(spark, path, 1L).count() }
    assert(MergeTable.read(spark, path).count() === 100) // the tip is intact
  }

  test("bloom temps stranded by a crashed publisher are swept by vacuum and by init's retry") {
    def plantExpired(dir: String, name: String): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, "partial".getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(p, // older than the grace
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - MergeTable.DefaultRetainMillis - 60000))
      p
    }
    // sweeping caller 1: vacuum on a committed table
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 20, "a").withColumn("h", sha2($"body", 256)),
      bloomKeys = Seq("h"))
    val litter = plantExpired(path, "._bloom_dead.tmp")
    MergeTable.vacuum(spark, path, retainMillis = MergeTable.DefaultRetainMillis)
    assert(!java.nio.file.Files.exists(litter),
      "vacuum must sweep expired bloom publication temps in the table root")
    assert(MergeTable.bloomConfig(spark, path) === Seq("h")) // config untouched
    // sweeping caller 2: a crashed FIRST init leaves no manifest, so
    // vacuum cannot run — the retry init's writeBloomProps is the only
    // sweeper that can reach the litter, and the commit must still land
    val path2 = freshPath()
    val litter2 = plantExpired(path2, "._bloom_dead.tmp")
    val young = java.nio.file.Paths.get(path2, "._bloom_inflight.tmp")
    java.nio.file.Files.write(young, "racing".getBytes("UTF-8")) // fresh: kept
    MergeTable.init(spark, path2, rows(1 to 20, "a").withColumn("h", sha2($"body", 256)),
      bloomKeys = Seq("h"))
    assert(!java.nio.file.Files.exists(litter2),
      "init's retry path must sweep expired bloom temps before publishing")
    assert(java.nio.file.Files.exists(young),
      "a younger temp may belong to a mid-publication racer and must be kept")
    assert(MergeTable.bloomConfig(spark, path2) === Seq("h"))
    assert(MergeTable.read(spark, path2).count() === 20)
  }

  test("touched-file discovery pushes keys into the parquet scan (In small, range large)") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "a"))
    MergeTable.compactTable(spark, path, "id", numFiles = 8)
    val snap = MergeTable.snapshot(spark, path)
    def pushedFor(updates: org.apache.spark.sql.DataFrame,
        nKeys: Long): (String, String) = {
      val df = graft.sources.KeySet.Frame(updates, Seq("id"), nKeys)
        .discoveryFrame(MergeTable.relationFor(spark, snap.entries))
      val scans = graft.util.Plans.executedNodes(df).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "expected a parquet scan in the discovery plan")
      (scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString,
        scans.head.metadata.getOrElse("ReadSchema", ""))
    }
    // small batch: the EXACT key list as one In predicate — what the
    // reader checks against the table's bloom filters on hash domains
    val (pushedIn, readIn) = pushedFor(rows(10 to 20, "new"), 11)
    assert(pushedIn.contains("In(id"),
      s"small-batch keys must push as one In predicate, got: $pushedIn")
    // the scan reads only the key column (+ synthetic file name)
    assert(!readIn.contains("tag"), s"discovery must not read data columns: $readIn")
    // large batch (> DiscoveryInLimit distinct keys): the [min,max]
    // range, which prunes on the compacted (key-range-sorted) layout
    val (pushedRange, readRange) = pushedFor(rows(1 to 1500, "new"), 1500)
    assert(pushedRange.contains("GreaterThanOrEqual(id") &&
      pushedRange.contains("LessThanOrEqual(id"),
      s"large-batch key range must reach the footer level, got: $pushedRange")
    assert(!readRange.contains("tag"),
      s"range-path discovery must not read data columns: $readRange")
  }

  test("merge rejects NULL keys and schema drift loudly") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    // NULL in a key column: would silently re-insert as a duplicate on
    // every merge (joins never match NULL), so it must be refused
    val nullKey = rows(11 to 11, "x")
      .withColumn("id", lit(null).cast("long"))
    val e1 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, nullKey, Seq("id"))
    }
    assert(e1.getMessage.contains("NULL"))
    // extra column: must fail loudly, not silently project it away
    val extraCol = rows(1 to 2, "y").withColumn("extra", lit(1))
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, extraCol, Seq("id"))
    }
    assert(e2.getMessage.contains("schema"))
    // missing column: same
    val missingCol = rows(1 to 2, "z").drop("tag")
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, missingCol, Seq("id"))
    }
    // same names but a drifted type (id INT vs the table's LONG): would
    // commit parquet files with mixed physical types — must be refused
    val typeDrift = rows(1 to 2, "w").withColumn("id", col("id").cast("int"))
    val e3 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, typeDrift, Seq("id"))
    }
    assert(e3.getMessage.contains("type") || e3.getMessage.contains("int"))
    // a key column absent from the UPDATE frame fails with the friendly
    // message, not dropDuplicates' raw AnalysisException
    val e4 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, rows(1 to 2, "v"), Seq("idd"))
    }
    assert(e4.getMessage.contains("missing from updates"))
    // table unchanged by the rejected merges
    assert(MergeTable.snapshot(spark, path).version === 1L)
    assert(MergeTable.read(spark, path).count() === 10)
  }

  test("racing writers: concurrent merges all land via OCC retry, no update lost") {
    // 4 writers race on ONE table: each updates 25 existing keys (their
    // base files overlap, so late writers re-plan against re-snapshotted
    // manifests) and inserts 50 new ones. Every commit that loses the
    // version race must retry and land — the FileAlreadyExists path that
    // only shows up under real concurrency.
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "base"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 4).map { i =>
      Future {
        val upd = (i * 25 + 1) to (i * 25 + 25)      // existing keys
        val ins = (101 + i * 50) to (150 + i * 50)   // fresh keys
        MergeTable.merge(spark, path,
          (upd ++ ins).map(j => (j.toLong, s"w$i", s"payload $j"))
            .toDF("id", "tag", "body"),
          Seq("id"))
      }
    }
    Await.result(Future.sequence(writers), 180.seconds)
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.version === 5L,
      s"4 concurrent merges must commit 4 linear versions, got ${snap.version}")
    val got = MergeTable.read(spark, path)
    assert(got.count() === 300, "100 updated + 200 inserted rows")
    assert(got.filter(col("tag") === "base").count() === 0,
      "every base row was claimed by exactly one writer")
    (0 until 4).foreach { i =>
      assert(got.filter(col("tag") === s"w$i").count() === 75,
        s"writer $i must land all 75 of its rows despite losing commit races")
    }
  }

  test("knowledge-base ingest loop: content-hash upsert commits versions, dedupes by content") {
    val path = freshPath()
    def docs(xs: Seq[(String, String)]) = xs.toDF("content", "source_type")
    graft.kb.KnowledgeBase.upsertDocumentsToTable(spark, path,
      docs(Seq(("how to join", "so"), ("how to agg", "so"))))
    // re-ingest one identical content (new source) + one new doc
    graft.kb.KnowledgeBase.upsertDocumentsToTable(spark, path,
      docs(Seq(("how to join", "gh"), ("how to stream", "docs"))))
    val got = MergeTable.read(spark, path)
    assert(got.count() === 3) // same content upserted, not duplicated
    assert(got.filter($"content" === "how to join")
      .select("source_type").head().getString(0) === "gh") // incoming wins
    assert(MergeTable.snapshot(spark, path).version === 2L)
    // the retraction path (DELETE WHERE content_hash = $1) is a
    // tombstone write: no base file rewritten, the row is gone, and a
    // later re-ingest of the same content comes back (the tombstone
    // leaves with it)
    val h = got.filter($"content" === "how to agg")
      .select("content_hash").head().getString(0)
    val before = MergeTable.snapshot(spark, path)
    graft.kb.KnowledgeBase.retractByContentHash(spark, path, Seq(h))
    val after = MergeTable.snapshot(spark, path)
    assert(after.entries.map(_.path) === before.entries.map(_.path),
      "retraction must not rewrite base files")
    assert(after.deletes.nonEmpty)
    val g2 = MergeTable.read(spark, path)
    assert(g2.count() === 2 && g2.filter($"content" === "how to agg").isEmpty)
    graft.kb.KnowledgeBase.upsertDocumentsToTable(spark, path,
      docs(Seq(("how to agg", "re-ingested"))))
    val g3 = MergeTable.read(spark, path)
    assert(g3.count() === 3)
    assert(g3.filter($"content" === "how to agg")
      .select("source_type").head().getString(0) === "re-ingested")
  }

  test("knowledge-base TTL sweep rides the tombstone path (cleanupExpiredTable)") {
    val path = freshPath()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val later = java.sql.Timestamp.valueOf("2026-12-31 00:00:00")
    val docs = Seq(
      ("stale doc a", t0), ("stale doc b", t0),
      ("fresh doc", later), ("immortal doc", null: java.sql.Timestamp))
      .toDF("content", "expires_at")
    graft.kb.KnowledgeBase.upsertDocumentsToTable(spark, path, docs)
    val before = MergeTable.snapshot(spark, path)
    val st = graft.kb.KnowledgeBase.cleanupExpiredTable(spark, path,
      now = lit(java.sql.Timestamp.valueOf("2026-06-01 00:00:00")))
    assert(st.version === before.version + 1)
    val after = MergeTable.snapshot(spark, path)
    assert(after.entries.map(_.path) === before.entries.map(_.path),
      "the sweep must land as tombstones, not file rewrites")
    assert(after.deletes.nonEmpty)
    val got = MergeTable.read(spark, path)
    assert(got.count() === 2, "expired rows gone; NULL expiry survives")
    assert(got.filter($"content".startsWith("stale")).isEmpty)
    // idempotent: nothing left to expire → no commit
    val v = MergeTable.snapshot(spark, path).version
    assert(graft.kb.KnowledgeBase.cleanupExpiredTable(spark, path,
      now = lit(java.sql.Timestamp.valueOf("2026-06-01 00:00:00")))
      .version === v)
  }

  test("versions are linear across operations") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    MergeTable.merge(spark, path, rows(5 to 6, "b"), Seq("id"))
    MergeTable.merge(spark, path, rows(11 to 12, "c"), Seq("id"))
    val s = MergeTable.compactTable(spark, path, "id", 1)
    assert(s.version === 4L)
    assert(MergeTable.read(spark, path).count() === 12)
  }

  private def bloomAudit(
      files: Seq[String], column: String, probe: String): (Long, Long, Long) =
    BloomAudit.audit(spark.sessionState.newHadoopConf(), files, column, probe)

  test("bloom config: persisted at init, applied by every writer path, skips absent keys") {
    val path = freshPath()
    val hashed = (1 to 2000).map(i => (i.toLong, s"key $i")).toDF("id", "k")
      .withColumn("h", sha2($"k", 256))
    MergeTable.init(spark, path, hashed.repartition(4), bloomKeys = Seq("h"))
    assert(MergeTable.bloomConfig(spark, path) === Seq("h"))
    assert(MergeTable.bloomConfig(spark, freshPath() + "_none") === Nil)

    def hOf(id: Long): String = MergeTable.read(spark, path)
      .filter($"id" === id).select("h").head().getString(0)

    // every init-written block carries the filter; a present key matches
    val v1 = MergeTable.snapshot(spark, path).files
    val (wb1, m1, t1) = bloomAudit(v1, "h", hOf(7L))
    assert(wb1 === t1 && t1 > 0, s"init blocks missing blooms ($wb1/$t1)")
    assert(m1 >= 1, "present key must match at least one block's bloom")

    // absent keys: ~1% fpp per block — across 20 probes, require that
    // the large majority match NO block (min/max stats would match ALL
    // of them on this uniform hash domain; that contrast is the point)
    val absentHits = (1 to 20).count { i =>
      val p = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"absent $i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      bloomAudit(v1, "h", p)._2 > 0
    }
    assert(absentHits <= 4, s"absent keys matched $absentHits/20 — blooms absent or mis-sized")

    // merge: replacement files inherit the table's bloom property
    val updates = (1 to 100).map(i => (i.toLong, s"key $i")).toDF("id", "k")
      .withColumn("h", sha2($"k", 256))
    MergeTable.merge(spark, path, updates, Seq("h"))
    val v2 = MergeTable.snapshot(spark, path).files
    val newFiles = v2.filterNot(v1.toSet)
    assert(newFiles.nonEmpty)
    val (wbM, _, tM) = bloomAudit(newFiles, "h", hOf(7L))
    assert(wbM === tM && tM > 0, s"merge-written blocks missing blooms ($wbM/$tM)")

    // compact: the full rewrite keeps the filters too
    MergeTable.compactTable(spark, path, "h", 2)
    val v3 = MergeTable.snapshot(spark, path).files
    val (wbC, mC, tC) = bloomAudit(v3, "h", hOf(7L))
    assert(wbC === tC && tC > 0, s"compacted blocks missing blooms ($wbC/$tC)")
    assert(mC >= 1)

    // reader end-to-end: the point lookup still answers correctly
    assert(MergeTable.read(spark, path).filter($"h" === hOf(7L))
      .select("k").head().getString(0) === "key 7")
  }

  test("Catalog.compact bloomKeys writes the filters on the compacted layout") {
    val tmp = java.nio.file.Files.createTempDirectory("cat_bloom")
    try {
      val out = tmp.toString + "/t"
      val df = (1 to 1000).map(i => (i.toLong, s"key $i")).toDF("id", "k")
        .withColumn("h", sha2($"k", 256))
      intercept[IllegalArgumentException] {
        graft.sources.Catalog.compact(df, "h", out, numFiles = 2,
          bloomKeys = Seq("no_such_column")) // loud, not a silent no-filter write
      }
      graft.sources.Catalog.compact(df, "h", out, numFiles = 2,
        bloomKeys = Seq("h"))
      val files = spark.read.parquet(out).inputFiles.toSeq
      val probe = df.filter($"id" === 3).select("h").head().getString(0)
      val (wb, m, t) = bloomAudit(files, "h", probe)
      assert(wb === t && t > 0 && m >= 1)
    } finally graft.util.Fs.deleteRecursively(tmp)
  }

  test("bloom props survive a failed first init and tolerate the concurrent-init race") {
    val path = freshPath()
    val df = rows(1 to 20, "a").withColumn("h", sha2($"body", 256))
    // simulate a crashed init: props file exists, NO manifest committed
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fs.mkdirs(root)
    val props = new org.apache.hadoop.fs.Path(root, "_bloom.properties")
    val out = fs.create(props, false)
    out.write("h\n#end\n".getBytes("UTF-8")); out.close()
    // retry with the SAME keys succeeds (idempotent, not poisoned)
    MergeTable.init(spark, path, df, bloomKeys = Seq("h"))
    assert(MergeTable.bloomConfig(spark, path) === Seq("h"))
    assert(MergeTable.read(spark, path).count() === 20)
    // a writer disagreeing on the table's keys fails loudly — with
    // IllegalStateException, NOT the IllegalArgumentException the
    // KnowledgeBase TOCTOU fallback catches (the actionable message
    // must not be buried under the fallback merge's "no merge table")
    val path2 = freshPath()
    val (fs2, root2) = {
      val p = new org.apache.hadoop.fs.Path(path2)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fs2.mkdirs(root2)
    val o2 = fs2.create(new org.apache.hadoop.fs.Path(root2, "_bloom.properties"), false)
    o2.write("other\n#end\n".getBytes("UTF-8")); o2.close()
    val e = intercept[IllegalStateException] {
      MergeTable.init(spark, path2,
        df.withColumn("other", lit("x")), bloomKeys = Seq("h"))
    }
    assert(e.getMessage.contains("different columns"))
    // padded/multiline names are rejected before anything is written
    // (readBloomProps trims lines, so they could never round-trip)
    intercept[IllegalArgumentException] {
      MergeTable.init(spark, freshPath(),
        df.withColumn("h ", $"h"), bloomKeys = Seq("h "))
    }
  }

  test("bloom props: leftover keyed config is not adopted by a bloom-less init") {
    // a crashed/raced earlier init named keys; re-initializing WITHOUT
    // bloomKeys must not silently inherit them as this table's config
    val path = freshPath()
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fs.mkdirs(root)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "_bloom.properties"), false)
    out.write("h\n#end\n".getBytes("UTF-8")); out.close()
    val df = rows(1 to 5, "a").withColumn("h", sha2($"body", 256))
    val e = intercept[IllegalStateException] {
      MergeTable.init(spark, path, df) // no bloomKeys
    }
    assert(e.getMessage.contains("requested none"))
    assert(!MergeTable.exists(spark, path)) // nothing was committed
  }

  test("a foreign tab-suffixed manifest line decodes as legacy, not a NumberFormatException") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    val real = MergeTable.snapshot(spark, path).files.head
    val (fs, mdir) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(p, "_manifests"))
    }
    // a hand-edited line with a non-numeric suffix, and one whose
    // "size" overflows Long — snapshot() must classify both as legacy
    // size-less entries instead of throwing from the codec
    graft.sources.Manifests.commit(fs, mdir, 2L,
      Seq(real + "\tnot_a_size", real + "\t99999999999999999999"))
    val snap = MergeTable.snapshot(spark, path) // must not throw
    assert(snap.version === 2L)
    assert(snap.entries.forall(_.size === -1L),
      "unparseable size suffixes must be treated as legacy entries")
    assert(snap.entries.forall(_.path.contains("\t")),
      "the WHOLE offending line is kept as the path so the downstream " +
        "read failure names it")
  }

  test("a legacy size-less table's first merge upgrades its manifest to sized entries") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 200, "a"))
    MergeTable.compactTable(spark, path, "id", numFiles = 4)
    val sized = MergeTable.snapshot(spark, path)
    val (fs, mdir) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(p, "_manifests"))
    }
    // rewrite the tip as a LEGACY manifest (paths only, pre-size codec)
    graft.sources.Manifests.commit(fs, mdir, 3L, sized.files)
    assert(MergeTable.snapshot(spark, path).entries.forall(_.size < 0))
    // a narrow merge touches 1 file; the other 3 are carried by
    // reference — but now WITH their stat'ed sizes
    MergeTable.merge(spark, path, rows(5 to 6, "b"), Seq("id"))
    val after = MergeTable.snapshot(spark, path)
    assert(after.entries.forall(_.size >= 0),
      "kept legacy entries must be upgraded with sizes at commit time")
    after.entries.foreach { e =>
      assert(e.size === new java.io.File(new java.net.URI(e.path)).length(),
        s"migrated size must be the exact on-disk size for ${e.path}")
    }
    // and the read path is back on the zero-listing index
    val scan = MergeTable.read(spark, path).queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.relation.location.isInstanceOf[graft.sources.ManifestFileIndex])
    assert(MergeTable.read(spark, path).count() === 200)
    // deleteWhere upgrades too
    graft.sources.Manifests.commit(fs, mdir, 5L,
      MergeTable.snapshot(spark, path).files)
    MergeTable.deleteWhere(spark, path, $"id" === 7L)
    assert(MergeTable.snapshot(spark, path).entries.forall(_.size >= 0))
  }

  test("latestLines: the swept-tip interleave recovers; exhaustion fails with context") {
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("latest_retry").toString, "_m")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val M = graft.sources.Manifests
    M.commit(fs, dir, 1L, Seq("a"))
    // the retry's reason-for-existing, driven deterministically through
    // the onResolve seam: reader resolves the tip → a writer commits
    // v+1 AND a retention sweep reclaims the resolved tip → the read
    // FNFs → the retry re-resolves the necessarily-newer latest
    var interleaved = false
    val (v, lines) = M.latestLines(fs, dir, onResolve = v =>
      if (!interleaved) {
        interleaved = true
        M.commit(fs, dir, v + 1, Seq("b")) // concurrent writer
        fs.delete(M.versionPath(dir, v), false) // concurrent sweeper
      })(throw new IllegalStateException("no versions"))
    assert(v === 2L && lines === Seq("b"),
      "the retry must land on the post-sweep tip")
    // exhaustion: an adversarial sweeper that reclaims EVERY resolved
    // tip — after the bounded retries the failure carries the log dir,
    // the version, and the FNFE cause
    var next = 2L
    val e = intercept[IllegalStateException] {
      M.latestLines(fs, dir, onResolve = v => {
        next += 1
        M.commit(fs, dir, next, Seq("x"))
        fs.delete(M.versionPath(dir, v), false)
      })(throw new IllegalStateException("no versions"))
    }
    assert(e.getMessage.contains("vanished") && e.getMessage.contains("_m"),
      e.getMessage)
    assert(e.getCause.isInstanceOf[java.io.FileNotFoundException])
  }

  test("insert-only lineage: vacuum keeps old manifests while their data stays live") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 50, "a"))                  // v1
    MergeTable.merge(spark, path, rows(51 to 60, "b"), Seq("id"))     // v2: pure insert
    MergeTable.merge(spark, path, rows(61 to 70, "c"), Seq("id"))     // v3: pure insert
    // every v1/v2 file is still referenced by the tip — a default
    // vacuum past the grace must NOT end their time travel
    assert(MergeTable.vacuum(spark, path, retainMillis = 0) === 0)
    assert(MergeTable.versions(spark, path) === Seq(1L, 2L, 3L),
      "manifests of versions whose files are all live must survive")
    assert(MergeTable.readAt(spark, path, 1L).count() === 50)
    assert(MergeTable.readAt(spark, path, 2L).count() === 60)
    // a compaction orphans the old files; the SAME vacuum semantics now
    // sweep both the files and the manifests that reference them
    MergeTable.compactTable(spark, path, "id", numFiles = 2)          // v4
    assert(MergeTable.vacuum(spark, path, retainMillis = 0) > 0)
    assert(MergeTable.versions(spark, path) === Seq(4L),
      "once the data is reclaimed the manifests go with it")
    assert(MergeTable.read(spark, path).count() === 70)
  }

  test("adoptBloomConfig migrates a pre-terminator config; refuses foreign content") {
    val path = freshPath()
    val df = rows(1 to 20, "a").withColumn("h", sha2($"body", 256))
    MergeTable.init(spark, path, df, bloomKeys = Seq("h"))
    // simulate a config written by the pre-terminator library version
    val props = java.nio.file.Paths.get(path, "_bloom.properties")
    java.nio.file.Files.write(props, "h\n".getBytes("UTF-8"))
    intercept[IllegalStateException] { MergeTable.bloomConfig(spark, path) }
    // the one-time migration validates against the schema and republishes
    assert(MergeTable.adoptBloomConfig(spark, path) === Seq("h"))
    assert(MergeTable.bloomConfig(spark, path) === Seq("h"))
    // idempotent: an already-terminated config returns unchanged
    assert(MergeTable.adoptBloomConfig(spark, path) === Seq("h"))
    // and the table's writers work again (merge by the hash key: the
    // identical bodies hash to EXISTING keys, so the rows are replaced)
    MergeTable.merge(spark, path,
      rows(1 to 3, "b").withColumn("h", sha2($"body", 256)), Seq("h"))
    val got = MergeTable.read(spark, path)
    assert(got.count() === 20)
    assert(got.filter($"tag" === "b").count() === 3)
    // foreign content: a name no table column has is refused
    java.nio.file.Files.write(props, "h\nno_such_col\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      MergeTable.adoptBloomConfig(spark, path)
    }
    assert(e.getMessage.contains("no_such_col"))
    // implausible line (tab) refused before any schema read
    java.nio.file.Files.write(props, "h\ta\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] { MergeTable.adoptBloomConfig(spark, path) }
  }

  test("mergeLite: absorbs updates without touching any base file; read equals rewrite merge") {
    val pLite = freshPath()
    val pFull = freshPath()
    MergeTable.init(spark, pLite, rows(1 to 1000, "old"))
    MergeTable.init(spark, pFull, rows(1 to 1000, "old"))
    MergeTable.compactTable(spark, pLite, "id", 8)
    MergeTable.compactTable(spark, pFull, "id", 8)
    val updates = rows(990 to 1010, "new") // 11 replacements + 10 inserts
    val base = MergeTable.snapshot(spark, pLite)
    val stats = MergeTable.mergeLite(spark, pLite, updates, Seq("id"))
    MergeTable.merge(spark, pFull, updates, Seq("id"))
    assert(stats.version === 3L && stats.rowsUpserted === 21L)
    val after = MergeTable.snapshot(spark, pLite)
    assert(after.entries.map(_.path) === base.entries.map(_.path),
      "mergeLite must carry every base file by reference, untouched")
    assert(after.delta.nonEmpty && after.dvKeys === Seq("id"))
    // logical content identical to the rewrite merge on the same inputs
    assert(MergeTable.read(spark, pLite).orderBy("id").collect().toSeq ===
      MergeTable.read(spark, pFull).orderBy("id").collect().toSeq)
    assert(MergeTable.read(spark, pLite).count() === 1010)
  }

  test("mergeLite: consecutive calls combine deltas last-wins; threshold folds to DV-free") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, path, rows(5 to 9, "first"), Seq("id"))
    MergeTable.mergeLite(spark, path, rows(7 to 12, "second"), Seq("id"))
    val got = MergeTable.read(spark, path)
    assert(got.count() === 100)
    assert(got.filter($"tag" === "first").count() === 2)   // 5,6
    assert(got.filter($"tag" === "second").count() === 6)  // 7..12
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.delta.nonEmpty, "still row-level state")
    // the combined delta is unique per key (the invariant the fold and
    // the read suppression both lean on)
    val deltaRows = MergeTable.readAt(spark, path, snap.version)
      .filter($"tag" =!= "old").count()
    assert(deltaRows === 8)
    // exceeding maxDeltaRows folds: ONE rewrite commit, no delta lines
    MergeTable.mergeLite(spark, path, rows(20 to 40, "third"), Seq("id"),
      maxDeltaRows = 10)
    val folded = MergeTable.snapshot(spark, path)
    assert(folded.delta.isEmpty && folded.dvKeys.isEmpty,
      "past the read-tax bound the call must fold to a DV-free manifest")
    val after = MergeTable.read(spark, path)
    assert(after.count() === 100)
    assert(after.filter($"tag" === "first").count() === 2)
    assert(after.filter($"tag" === "second").count() === 6)
    assert(after.filter($"tag" === "third").count() === 21)
  }

  test("mergeLite interop: merge/deleteWhere/compact fold; deletes don't resurrect") {
    // full merge folds
    val p1 = freshPath()
    MergeTable.init(spark, p1, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, p1, rows(5 to 9, "lite"), Seq("id"))
    MergeTable.merge(spark, p1, rows(8 to 12, "full"), Seq("id"))
    val s1 = MergeTable.snapshot(spark, p1)
    assert(s1.delta.isEmpty, "a rewrite merge must fold the row-level state")
    val g1 = MergeTable.read(spark, p1)
    assert(g1.count() === 100)
    assert(g1.filter($"tag" === "lite").count() === 3)  // 5,6,7
    assert(g1.filter($"tag" === "full").count() === 5)  // 8..12
    // deleteWhere folds the delta in its own version — deleting the
    // delta's copy of a key must not resurrect the superseded base row
    val p2 = freshPath()
    MergeTable.init(spark, p2, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, p2, rows(50 to 54, "lite"), Seq("id"))
    MergeTable.deleteWhere(spark, p2, $"tag" === "lite")
    val g2 = MergeTable.read(spark, p2)
    assert(g2.count() === 95, "the 5 lite rows are gone")
    assert(g2.filter($"id" === 52L).count() === 0,
      "the superseded base row must NOT be resurrected by the delete")
    // compactTable folds
    val p3 = freshPath()
    MergeTable.init(spark, p3, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, p3, rows(5 to 9, "lite"), Seq("id"))
    val s3 = MergeTable.compactTable(spark, p3, "id", 2)
    assert(MergeTable.snapshotAt(spark, p3, s3.version).delta.isEmpty)
    val g3 = MergeTable.read(spark, p3)
    assert(g3.count() === 100 && g3.filter($"tag" === "lite").count() === 5)
    // mismatched keys against persisted row-level state: loud, typed
    val p4 = freshPath()
    MergeTable.init(spark, p4, rows(1 to 10, "old"))
    MergeTable.mergeLite(spark, p4, rows(1 to 2, "lite"), Seq("id"))
    val byTag = Seq((3L, "t3", "b3"), (4L, "t4", "b4")).toDF("id", "tag", "body")
    intercept[IllegalStateException] {
      MergeTable.mergeLite(spark, p4, byTag, Seq("tag"))
    }
    intercept[IllegalStateException] {
      MergeTable.merge(spark, p4, byTag, Seq("tag"))
    }
    // contract checks shared with merge: NULL keys refused
    intercept[IllegalArgumentException] {
      MergeTable.mergeLite(spark, p4,
        rows(11 to 11, "x").withColumn("id", lit(null).cast("long")), Seq("id"))
    }
    // ...but a REORDERED spelling of the same key set is accepted
    // (join keys are unordered — set equality, not Seq equality)
    val p5 = freshPath()
    MergeTable.init(spark, p5, rows(1 to 10, "old"))
    MergeTable.mergeLite(spark, p5,
      Seq((1L, "t1", "b1")).toDF("id", "tag", "body"), Seq("id", "tag"))
    MergeTable.mergeLite(spark, p5,
      Seq((2L, "t2", "b2")).toDF("id", "tag", "body"), Seq("tag", "id"))
    MergeTable.merge(spark, p5,
      Seq((3L, "t3", "b3")).toDF("id", "tag", "body"), Seq("tag", "id"))
    assert(MergeTable.read(spark, p5).count() === 13)
    assert(MergeTable.snapshot(spark, p5).delta.isEmpty, "the merge folded")
  }

  test("mergeLite: time travel and vacuum account for delta files") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))               // v1
    MergeTable.mergeLite(spark, path, rows(5 to 9, "lite"), Seq("id")) // v2 (DV)
    MergeTable.merge(spark, path, rows(20 to 22, "full"), Seq("id"))   // v3 (folds)
    // the DV version stays travelable: its delta files must be LIVE to
    // a graced vacuum even though the tip no longer references them
    val v2 = MergeTable.readAt(spark, path, 2L)
    assert(v2.count() === 100 && v2.filter($"tag" === "lite").count() === 5)
    assert(v2.filter($"tag" === "full").count() === 0)
    assert(MergeTable.vacuum(spark, path) === 0,
      "delta files inside the grace must survive")
    assert(MergeTable.readAt(spark, path, 2L).filter($"tag" === "lite").count() === 5)
    // keepVersions pins the DV version past the grace — delta included
    assert(MergeTable.vacuum(spark, path, retainMillis = 0,
      keepVersions = Seq(2L)) >= 0)
    assert(MergeTable.readAt(spark, path, 2L).filter($"tag" === "lite").count() === 5,
      "a kept DV version's delta files must be in the liveness set")
    // unpinned: the fold's vacuum reclaims the superseded delta files
    assert(MergeTable.vacuum(spark, path, retainMillis = 0) > 0)
    intercept[Exception] { MergeTable.readAt(spark, path, 2L).count() }
    assert(MergeTable.read(spark, path).count() === 100)
  }

  test("mergeLite read plan: both legs scan through ManifestFileIndex with pushed filters") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "old"))
    MergeTable.mergeLite(spark, path, rows(500 to 509, "lite"), Seq("id"))
    val df = MergeTable.read(spark, path).filter($"id" === 505L)
    // AQE-aware: the join+union plan finalizes only after execution
    val scans = graft.util.Plans.executedNodes(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // base leg + delta leg + the broadcast key-set build scan
    assert(scans.size >= 2, s"expected base+delta scans, got ${scans.size}")
    scans.foreach { s =>
      assert(s.relation.location.isInstanceOf[graft.sources.ManifestFileIndex],
        s"every leg must stay on the zero-listing index: ${s.relation.location}")
    }
    // the user predicate reaches BOTH data scans' parquet footers
    val dataScans = scans.filter(_.metadata.getOrElse("ReadSchema", "").contains("tag"))
    assert(dataScans.size >= 2, "base and delta data scans expected")
    dataScans.foreach { s =>
      val pushed = s.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("EqualTo(id,505"),
        s"user predicate must push into the scan: $pushed")
    }
    assert(df.count() === 1)
    assert(df.select("tag").head().getString(0) === "lite")
  }

  test("mergeLite scope: only touched base files pay the anti-join") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "old"))
    MergeTable.compactTable(spark, path, "id", 8) // 8 range-sorted files
    // 10 contiguous replacement keys live in ONE range-sorted file
    MergeTable.mergeLite(spark, path, rows(10 to 19, "lite"), Seq("id"))
    val snap = MergeTable.snapshot(spark, path)
    val basePaths = snap.entries.map(_.path).toSet
    assert(snap.dvFiles.isDefined, "new mergeLites must commit a scope")
    assert(snap.dvFiles.get.size === 1,
      s"10 contiguous keys live in one range-sorted file: ${snap.dvFiles.get}")
    assert(snap.dvFiles.get.toSet.subsetOf(basePaths),
      "the scope names committed base entries verbatim")
    def baseName(p: String) = new org.apache.hadoop.fs.Path(p).getName
    val scopeNames = snap.dvFiles.get.map(baseName).toSet
    val baseNames = snap.entries.map(e => baseName(e.path)).toSet
    val df = MergeTable.read(spark, path)
    val nodes = graft.util.Plans.executedNodes(df)
    // the manifest records the key set (dvlits): the suppression is a
    // literal NOT-In FILTER on the touched leg — no broadcast, no join
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.isEmpty, "recorded dvlits must replace the suppression join outright")
    val filteredBase = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("NOT ") =>
        graft.util.Plans.flatten(f.child)
    }.flatten
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .flatMap(_.relation.location.inputFiles).map(baseName)
      .filter(baseNames).toSet
    assert(filteredBase === scopeNames,
      s"the NOT-In filter must cover exactly the scope: $filteredBase vs $scopeNames")
    // ...and the other 7 files reach the union with no filter above
    val scannedBase = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.flatMap(_.relation.location.inputFiles).map(baseName).filter(baseNames).toSet
    assert(scannedBase === baseNames, "every base file is still read")
    assert(df.count() === 1000)
    assert(df.filter($"tag" === "lite").count() === 10)
    // strip the dvlits line: the broadcast anti-join path must cover
    // exactly the same scope (the pre-dvlits plan gate, kept verbatim)
    tamperManifest(path)(_.filterNot(_.startsWith("dvlits\t")))
    val df2 = MergeTable.read(spark, path)
    val joins = graft.util.Plans.executedNodes(df2).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, "the touched file still needs its suppression join")
    val joinedBase = joins.flatMap(j => graft.util.Plans.flatten(j.left))
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .flatMap(_.relation.location.inputFiles).map(baseName)
      .filter(baseNames).toSet
    assert(joinedBase === scopeNames,
      s"anti-join must cover exactly the scope: $joinedBase vs $scopeNames")
    assert(df2.count() === 1000)
    assert(df2.filter($"tag" === "lite").count() === 10)
  }

  test("mergeLite scope: an insert-only delta reads join-free; scopes accumulate") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, path, rows(200 to 209, "new"), Seq("id"))
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.dvFiles === Some(Nil),
      "no base file can hold a superseded row: the scope is empty, not absent")
    val df = MergeTable.read(spark, path)
    val joins = graft.util.Plans.executedNodes(df).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.isEmpty, "insert-only delta: bare base ∪ delta, no join")
    assert(df.count() === 110)
    // a later replacing batch widens the scope from empty to its files
    MergeTable.mergeLite(spark, path, rows(5 to 6, "lite"), Seq("id"))
    val s2 = MergeTable.snapshot(spark, path)
    assert(s2.dvFiles.exists(_.nonEmpty), "the replacement batch scopes its file")
    val g = MergeTable.read(spark, path)
    assert(g.count() === 110)
    assert(g.filter($"tag" === "lite").count() === 2)
    assert(g.filter($"tag" === "new").count() === 10)
  }

  test("mergeLite scope: a pre-scoping manifest suppresses everywhere and upgrades on the next call") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, path, rows(5 to 9, "lite"), Seq("id"))
    // strip the scope lines: the manifest a pre-scoping writer committed
    tamperManifest(path)(_.filterNot(l =>
      l.startsWith("dvfiles\t") || l.startsWith("dvfile\t")))
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.dvFiles === None, "scope absent = legacy unscoped manifest")
    // reads fall back to suppressing over every base file — correct
    val g = MergeTable.read(spark, path)
    assert(g.count() === 100 && g.filter($"tag" === "lite").count() === 5)
    // a DISJOINT batch appends AND upgrades: the full accumulated key
    // set (prior delta ∪ batch, 7 keys) is small enough to probe, so
    // the PRIOR batch's touched files are scoped without a combine
    MergeTable.mergeLite(spark, path, rows(200 to 201, "new"), Seq("id"))
    val s2 = MergeTable.snapshot(spark, path)
    assert(s2.dvFiles.exists(_.nonEmpty),
      "the append-path upgrade must scope the PRIOR batch's touched files")
    val g2 = MergeTable.read(spark, path)
    assert(g2.count() === 102)
    assert(g2.filter($"tag" === "lite").count() === 5)
    // an OVERLAPPING batch combines and keeps the scope through the
    // re-written delta
    MergeTable.mergeLite(spark, path, rows(9 to 10, "over"), Seq("id"))
    val s3 = MergeTable.snapshot(spark, path)
    assert(s3.dvFiles.exists(_.nonEmpty),
      "the combine must carry the scope, not drop it")
    val g3 = MergeTable.read(spark, path)
    assert(g3.count() === 102)
    assert(g3.filter($"tag" === "lite").count() === 4)  // 5..8 (9 overridden)
    assert(g3.filter($"tag" === "over").count() === 2)  // 9,10
  }

  test("mergeLite scope: foreign/torn scope lines are refused loudly") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, path, rows(5 to 6, "lite"), Seq("id"))
    val lines = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
      graft.sources.Manifests.read(fs, mdir,
        MergeTable.snapshot(spark, path).version)
    }
    def rewrite(ls: Seq[String]): Unit = tamperManifest(path)(_ => ls)
    // header count disagreeing with the dvfile lines: torn or edited
    rewrite(lines.map(l => if (l.startsWith("dvfiles\t")) "dvfiles\t7" else l))
    val e1 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e1.getMessage.contains("torn or hand-edited"))
    // dvfile lines with no header: foreign content
    rewrite(lines.filterNot(_.startsWith("dvfiles\t")))
    val e2 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e2.getMessage.contains("torn or hand-edited"))
    // a non-numeric header: named, not a raw NumberFormatException
    rewrite(lines.map(l => if (l.startsWith("dvfiles\t")) "dvfiles\tx" else l))
    val e3 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e3.getMessage.contains("not a count"))
    // TWO headers: refused even when either count alone would check out
    rewrite(lines.flatMap(l =>
      if (l.startsWith("dvfiles\t")) Seq("dvfiles\t0", l) else Seq(l)))
    val e4 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e4.getMessage.contains("two dvfiles headers"))
    // a scope line naming no base entry would silently NARROW the
    // suppression (the real touched file falls into the bare leg and
    // its superseded rows read back) — refused at decode
    rewrite(lines.map(l =>
      if (l.startsWith("dvfile\t")) "dvfile\tfile:/nowhere/else.parquet" else l))
    val e5 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e5.getMessage.contains("names no base entry"))
  }

  test("mergeLite append: disjoint batches append their file set; overlap combines; the cap compacts") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, path, rows(5 to 9, "b1"), Seq("id"))
    val d1 = MergeTable.snapshot(spark, path).delta
    // disjoint keys: the prior delta files are carried BY REFERENCE —
    // same paths, only the batch is written
    val stats2 = MergeTable.mergeLite(spark, path, rows(200 to 204, "b2"), Seq("id"))
    val s2 = MergeTable.snapshot(spark, path)
    assert(s2.delta.size === d1.size + stats2.filesWritten,
      "a disjoint batch must append, not re-write the delta")
    assert(d1.toSet.subsetOf(s2.delta.toSet),
      "the prior delta files must be carried untouched")
    assert(stats2.filesRewritten === 0)
    val g2 = MergeTable.read(spark, path)
    assert(g2.count() === 105)
    assert(g2.filter($"tag" === "b1").count() === 5)
    assert(g2.filter($"tag" === "b2").count() === 5)
    // an overlapping batch COMBINES: one re-written delta file set,
    // last wins per key — no duplicate survives the union
    MergeTable.mergeLite(spark, path, rows(8 to 9, "b3"), Seq("id"))
    val s3 = MergeTable.snapshot(spark, path)
    assert(s3.delta.toSet.intersect(d1.toSet).isEmpty,
      "an overlapping batch must re-write the delta combined")
    val g3 = MergeTable.read(spark, path)
    assert(g3.count() === 105)
    assert(g3.filter($"tag" === "b1").count() === 3) // 5,6,7
    assert(g3.filter($"tag" === "b3").count() === 2) // 8,9
    assert(g3.groupBy("id").count().filter($"count" > 1).isEmpty)
    // the file-set cap forces a combine even on disjoint keys
    val nBefore = MergeTable.snapshot(spark, path).delta.size
    MergeTable.mergeLite(spark, path, rows(300 to 301, "b4"), Seq("id"),
      maxDeltaFiles = nBefore)
    val s4 = MergeTable.snapshot(spark, path)
    assert(s4.delta.size <= nBefore,
      "at the cap the delta must compact, not keep appending")
    assert(MergeTable.read(spark, path).count() === 107)
    // the fold threshold is honored from the append path too
    MergeTable.mergeLite(spark, path, rows(400 to 409, "b5"), Seq("id"),
      maxDeltaRows = 10)
    val s5 = MergeTable.snapshot(spark, path)
    assert(s5.delta.isEmpty && s5.dvKeys.isEmpty,
      "past maxDeltaRows a disjoint batch must fold to a DV-free manifest")
    val g5 = MergeTable.read(spark, path)
    assert(g5.count() === 117)
    assert(g5.filter($"tag" === "b5").count() === 10)
    assert(g5.filter($"tag" === "b1").count() === 3)
  }

  test("mergeLite scope: batches past the point-probe limit commit unscoped, not a base scan") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 5000, "old"))
    // 1001 single-column keys: one past DiscoveryInLimit — the In-push
    // discovery no longer applies and the range path would scan the
    // whole base key column per write, so the commit stays unscoped
    MergeTable.mergeLite(spark, path, rows(3000 to 4000, "big"), Seq("id"))
    val s1 = MergeTable.snapshot(spark, path)
    assert(s1.dvFiles === None, "a large batch must not pay discovery")
    val g1 = MergeTable.read(spark, path)
    assert(g1.count() === 5000 && g1.filter($"tag" === "big").count() === 1001)
    // a later small batch re-scopes over the full combined key set...
    // but only when THAT set is small; here it isn't (1003 keys), so
    // the table stays unscoped — and stays correct
    MergeTable.mergeLite(spark, path, rows(10 to 11, "small"), Seq("id"))
    assert(MergeTable.snapshot(spark, path).dvFiles === None,
      "the combined key set is still past the limit: no upgrade")
    val g2 = MergeTable.read(spark, path)
    assert(g2.count() === 5000 && g2.filter($"tag" === "small").count() === 2)
    // multi-column keys likewise skip discovery
    val p2 = freshPath()
    MergeTable.init(spark, p2, rows(1 to 50, "old"))
    MergeTable.mergeLite(spark, p2,
      Seq((7L, "old", "replaced")).toDF("id", "tag", "body"), Seq("id", "tag"))
    assert(MergeTable.snapshot(spark, p2).dvFiles === None)
    assert(MergeTable.read(spark, p2).filter($"body" === "replaced").count() === 1)
  }

  test("manifest stats: compaction establishes per-file ranges; predicates prune FILES at planning time") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "old"))
    MergeTable.compactTable(spark, path, "id", 8) // 8 range-sorted files
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.stats.exists(_.col === "id"), "compaction must establish stats")
    assert(snap.stats.head.ranges.size === 8, "every compacted file gets a range")
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      graft.util.Plans.executedNodes(df).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    // a point predicate schedules ONE file, not eight
    val point = MergeTable.read(spark, path).filter($"id" === 505L)
    assert(scannedFiles(point) === 1L, "point predicate must prune to one file")
    assert(point.count() === 1)
    // a range predicate spanning two files schedules two
    val range = MergeTable.read(spark, path).filter($"id" >= 200L && $"id" < 400L)
    assert(scannedFiles(range) <= 3L, "range must prune to the covering files")
    assert(range.count() === 200)
    // an In list prunes to its covering set
    val in = MergeTable.read(spark, path).filter($"id".isin(10L, 990L))
    assert(scannedFiles(in) === 2L)
    assert(in.count() === 2)
    // a predicate on ANOTHER column never prunes (conservative)
    val other = MergeTable.read(spark, path).filter($"tag" === "old")
    assert(scannedFiles(other) === 8L)
    assert(other.count() === 1000)
    // correctness at the boundary: results identical to the unpruned read
    assert(MergeTable.read(spark, path).filter($"id" <= 125L).count() ===
      MergeTable.read(spark, path).collect().count(_.getLong(0) <= 125L))
  }

  test("manifest stats: every writer maintains the ranges; time travel and tampering behave") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "old"))
    MergeTable.compactTable(spark, path, "id", 8)                       // v3? (init=v1, compact=v2)
    val v0 = MergeTable.snapshot(spark, path)
    // a rewrite merge refreshes the hit file's range and keeps the rest
    MergeTable.merge(spark, path, rows(10 to 19, "m"), Seq("id"))
    val s1 = MergeTable.snapshot(spark, path)
    assert(s1.stats.exists(_.ranges.size === 8), "merge must carry + refresh stats")
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      graft.util.Plans.executedNodes(df).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    assert(scannedFiles(MergeTable.read(spark, path).filter($"id" === 15L)) === 1L)
    // a row-level merge's delta file gets a range too; scoped reads keep pruning
    MergeTable.mergeLite(spark, path, rows(500 to 504, "dv"), Seq("id"))
    val s2 = MergeTable.snapshot(spark, path)
    assert(s2.stats.exists(_.ranges.size === 9), "the delta file joins the stats")
    val probe = MergeTable.read(spark, path).filter($"id" === 15L)
    assert(probe.count() === 1)
    assert(scannedFiles(probe) <= 3L,
      "a DV read's point probe stays file-pruned on every leg")
    // deleteWhere's discovery prunes on the stats column (and folds here)
    MergeTable.deleteWhere(spark, path, $"id" === 700L)
    assert(MergeTable.read(spark, path).count() === 999)
    assert(MergeTable.snapshot(spark, path).stats.nonEmpty)
    // time travel: the compacted version's stats are version-pinned
    assert(MergeTable.snapshotAt(spark, path, v0.version).stats ===
      v0.stats)
    // tampering: a stat line naming no file, or stats with no statcol,
    // or a non-numeric bound — all refuse loudly
    val lines = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.sources.Manifests.read(fs, new org.apache.hadoop.fs.Path(root, "_manifests"),
        MergeTable.snapshot(spark, path).version)
    }
    def rewrite(ls: Seq[String]): Unit = tamperManifest(path)(_ => ls)
    rewrite(lines.map(l =>
      if (l.startsWith("stat\t")) "stat\tid\tfile:/nowhere.parquet\t0\t1" else l))
    val e1 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e1.getMessage.contains("names no data file"))
    rewrite(lines.filterNot(_.startsWith("statcol\t")))
    val e2 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e2.getMessage.contains("undeclared column"))
    rewrite(lines.map(l =>
      if (l.startsWith("stat\t")) l.reverse.replaceFirst("^\\d", "x").reverse else l))
    val e3 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e3.getMessage.contains("is not a number"))
    def rebounds(l: String, lo: String, hi: String) =
      if (!l.startsWith("stat\t")) l
      else { val p = l.split("\t"); s"${p(0)}\t${p(1)}\t${p(2)}\t$lo\t$hi" }
    // an INVERTED range would silently prune live rows: refused
    rewrite(lines.map(rebounds(_, "900", "100")))
    val e4 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e4.getMessage.contains("inverted"))
    // the FULL Long range is legal — 19-digit footer min/max of a
    // hashed/snowflake key must not brick the table (review catch)
    rewrite(lines.map(rebounds(_,
      Long.MinValue.toString, Long.MaxValue.toString)))
    val wide = MergeTable.snapshot(spark, path)
    assert(wide.stats.exists(_.ranges.values.forall(
      r => r._1 == Long.MinValue && r._2 == Long.MaxValue)))
    assert(MergeTable.read(spark, path).filter($"id" === 15L).count() === 1,
      "an all-covering range prunes nothing and reads stay correct")
    // LEGACY single-column stat lines (column-less, path-first) still
    // decode — they bind to the sole declared statcol (review catch:
    // the multi-column codec must not brick its own earlier manifests)
    def legacyLine(l: String) =
      if (!l.startsWith("stat\t")) l
      else { val p = l.split("\t"); s"${p(0)}\t${p(2)}\t${p(3)}\t${p(4)}" }
    rewrite(lines.map(legacyLine))
    val leg = MergeTable.snapshot(spark, path)
    assert(leg.stats.exists(s => s.col === "id" && s.ranges.nonEmpty),
      "legacy stat lines must bind to the declared statcol")
    // ...but with TWO declared columns the binding is ambiguous: refused
    rewrite("statcol\tbogus" +: lines.map(legacyLine))
    val e6 = intercept[IllegalArgumentException] { MergeTable.snapshot(spark, path) }
    assert(e6.getMessage.contains("cannot bind"))
  }

  test("compactTableZOrder: manifest stats on EVERY z column; either predicate prunes files") {
    val path = freshPath()
    // two independent numeric dimensions: id and a decoupled second axis
    val df = (1 to 4096).map(i =>
      (i.toLong, ((i * 2654435761L) % 4096L), s"payload $i"))
      .toDF("id", "axis", "body")
    MergeTable.init(spark, path, df)
    val snap = MergeTable.compactTableZOrder(spark, path, Seq("id", "axis"), 16)
    assert(snap.stats.map(_.col).toSet === Set("id", "axis"),
      "both z columns must carry manifest stats")
    assert(snap.stats.forall(_.ranges.size === 16))
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      graft.util.Plans.executedNodes(df).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    // a point predicate on EITHER column prunes well below the 16 files
    val byId = MergeTable.read(spark, path).filter($"id" === 2000L)
    assert(byId.count() === 1)
    assert(scannedFiles(byId) <= 8, s"id predicate must prune z files")
    val byAxis = MergeTable.read(spark, path).filter($"axis" === 1234L)
    val axisRows = byAxis.count()
    assert(scannedFiles(byAxis) <= 8, s"axis predicate must prune z files")
    // correctness: both pruned reads equal the full-scan answers
    val full = MergeTable.read(spark, path).collect()
    assert(axisRows === full.count(_.getLong(1) == 1234L))
    assert(full.count(_.getLong(0) == 2000L) === 1)
    // a later merge keeps BOTH columns' stats fresh
    MergeTable.merge(spark, path,
      Seq((2000L, 9999L, "updated")).toDF("id", "axis", "body"), Seq("id"))
    val s2 = MergeTable.snapshot(spark, path)
    assert(s2.stats.map(_.col).toSet === Set("id", "axis"))
    assert(s2.stats.forall(_.ranges.size === 16))
    assert(MergeTable.read(spark, path).filter($"id" === 2000L)
      .select("body").head().getString(0) === "updated")
  }

  test("cloneTable: zero-copy branch — shared files, carried DV state, independent evolution") {
    val src = freshPath()
    val dst = freshPath()
    MergeTable.init(spark, src, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, src, rows(5 to 9, "lite"), Seq("id"))
    val snap = MergeTable.cloneTable(spark, src, dst)
    assert(snap.version === 1L)
    val s = MergeTable.snapshot(spark, dst)
    val srcSnap = MergeTable.snapshot(spark, src)
    assert(s.entries === srcSnap.entries, "base files shared by reference")
    assert(s.delta === srcSnap.delta && s.dvKeys === Seq("id") &&
      s.dvFiles === srcSnap.dvFiles, "row-level state carried verbatim")
    assert(MergeTable.read(spark, dst).orderBy("id").collect().toSeq ===
      MergeTable.read(spark, src).orderBy("id").collect().toSeq)
    // refusals: self-clone, clone onto an existing table
    intercept[IllegalArgumentException] { MergeTable.cloneTable(spark, src, src) }
    intercept[IllegalArgumentException] { MergeTable.cloneTable(spark, src, dst) }
    // independent evolution: a merge on the clone never touches the source
    MergeTable.merge(spark, dst, rows(50 to 54, "branch"), Seq("id"))
    assert(MergeTable.read(spark, src).filter($"tag" === "branch").isEmpty)
    assert(MergeTable.read(spark, dst).filter($"tag" === "branch").count() === 5)
    assert(MergeTable.read(spark, src).filter($"tag" === "lite").count() === 5)
    // the clone's vacuum lists only ITS data/ — source files are out of
    // reach by construction
    MergeTable.vacuum(spark, dst, retainMillis = 0)
    assert(MergeTable.read(spark, src).count() === 100)
    assert(MergeTable.read(spark, dst).count() === 100)
    // a MATERIALIZED clone (one compaction) survives source churn...
    val dst2 = freshPath()
    MergeTable.cloneTable(spark, src, dst2)
    MergeTable.compactTable(spark, dst2, "id", 2)
    MergeTable.compactTable(spark, src, "id", 2)
    MergeTable.vacuum(spark, src, retainMillis = 0)
    assert(MergeTable.read(spark, dst2).count() === 100)
    // ...while the unmaterialized branch's shared files are now gone —
    // the documented shallow-clone lifetime caveat, failing loudly
    intercept[Exception] { MergeTable.read(spark, dst).count() }
  }

  test("changesBetween/deletesBetween: the version diff equals EXCEPT, at churn cost") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))                 // v1
    MergeTable.compactTable(spark, path, "id", 8)                       // v2
    MergeTable.merge(spark, path, rows(95 to 110, "m"), Seq("id"))      // v3
    MergeTable.mergeLite(spark, path, rows(3 to 5, "dv"), Seq("id"))    // v4 (delta)
    MergeTable.mergeLite(spark, path, rows(200 to 202, "dv2"), Seq("id")) // v5 (append)
    // the oracle, computed the expensive way: EXCEPT over full reads
    def exceptOracle(from: Long, to: Long) =
      MergeTable.readAt(spark, path, to)
        .exceptAll(MergeTable.readAt(spark, path, from))
        .orderBy("id").collect().toSeq
    for ((f, t) <- Seq((2L, 3L), (2L, 4L), (2L, 5L), (3L, 5L), (4L, 5L))) {
      val got = MergeTable.changesBetween(spark, path, f, t, Seq("id"))
        .orderBy("id").collect().toSeq
      assert(got === exceptOracle(f, t), s"diff v$f -> v$t diverged from EXCEPT")
    }
    // the churn gate: the v4 -> v5 diff (one appended delta file) must
    // scan only the files the window TOUCHED — added/retired files,
    // the target's suppression-scope files (where superseded state
    // lives), and the small delta — never the table's untouched base
    def names(ps: Iterable[String]) =
      ps.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    val s4 = MergeTable.snapshotAt(spark, path, 4L)
    val s5 = MergeTable.snapshotAt(spark, path, 5L)
    val churned = (s5.allFiles.toSet -- s4.allFiles.toSet) ++
      (s4.allFiles.toSet -- s5.allFiles.toSet)
    val allowed = names(churned) ++ names(s5.dvFiles.get) ++
      names(s4.delta.map(_.path))
    val df = MergeTable.changesBetween(spark, path, 4L, 5L, Seq("id"))
    val scanned = names(graft.util.Plans.executedNodes(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.flatMap(_.relation.location.inputFiles))
    assert(scanned.subsetOf(allowed),
      s"the diff must scan only touched files: ${scanned -- allowed} leaked")
    val untouchedBase = names(s5.entries.map(_.path)) --
      names(s5.dvFiles.get) -- names(churned)
    assert(untouchedBase.nonEmpty && scanned.intersect(untouchedBase).isEmpty,
      "untouched base files must never be read by the diff")
    // a NO-OP row-level redelivery cancels too: the appended delta row
    // is byte-identical to the suppressed base row, whose file was NOT
    // retired — the probe's carried-scope extension is what sees it
    MergeTable.mergeLite(spark, path, rows(50 to 50, "old"), Seq("id")) // v6
    assert(MergeTable.changesBetween(spark, path, 5L, 6L, Seq("id")).isEmpty,
      "an identical redelivered row must cancel against its carried base copy")
    assert(MergeTable.changesBetween(spark, path, 5L, 6L, Seq("id")).collect().toSeq ===
      MergeTable.readAt(spark, path, 6L)
        .exceptAll(MergeTable.readAt(spark, path, 5L)).collect().toSeq)
    // maintenance passes cancel: a compaction churns every file but
    // changes nothing — the diff is empty
    MergeTable.compactTable(spark, path, "id", 4)                       // v7 (folds)
    assert(MergeTable.changesBetween(spark, path, 6L, 7L, Seq("id")).isEmpty,
      "carried rows must cancel in the join")
    // a no-op re-merge (identical content) also cancels
    MergeTable.merge(spark, path, rows(95 to 97, "m"), Seq("id"))       // v8
    assert(MergeTable.changesBetween(spark, path, 7L, 8L, Seq("id")).isEmpty)
    // deletes: keys gone in the window, carried keys silent
    MergeTable.deleteWhere(spark, path, $"id" >= 20L && $"id" < 25L)    // v9
    val dels = MergeTable.deletesBetween(spark, path, 8L, 9L, Seq("id"))
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(dels === Seq(20L, 21L, 22L, 23L, 24L))
    assert(MergeTable.deletesBetween(spark, path, 7L, 8L, Seq("id")).isEmpty,
      "a no-op window reports no deletes")
    // upserts across the delete window: nothing was upserted
    assert(MergeTable.changesBetween(spark, path, 8L, 9L, Seq("id")).isEmpty)
    // key mismatch against persisted row-level state: loud
    intercept[IllegalArgumentException] {
      MergeTable.changesBetween(spark, path, 4L, 5L, Seq("tag"))
    }
  }

  test("changesBetween: table column order survives a non-leading key; typo'd keys are friendly") {
    val path = freshPath()
    // key NOT first: the USING join would put it first without the
    // final re-select — consumers writing the feed positionally care
    val df = rows(1 to 20, "a").select($"tag", $"id", $"body")
    MergeTable.init(spark, path, df)
    MergeTable.merge(spark, path,
      rows(5 to 6, "b").select($"tag", $"id", $"body"), Seq("id"))
    val ch = MergeTable.changesBetween(spark, path, 1L, 2L, Seq("id"))
    assert(ch.columns.toSeq === Seq("tag", "id", "body"),
      "the feed must keep the table's column order on every path")
    assert(ch.count() === 2)
    val e = intercept[IllegalArgumentException] {
      MergeTable.changesBetween(spark, path, 1L, 2L, Seq("nope"))
    }
    assert(e.getMessage.contains("missing from table"))
    intercept[IllegalArgumentException] {
      MergeTable.deletesBetween(spark, path, 1L, 2L, Seq("nope"))
    }
    // a real column named like the probe marker must not break the join
    val p2 = freshPath()
    MergeTable.init(spark, p2,
      rows(1 to 10, "a").withColumn("__was0", lit("x")))
    MergeTable.merge(spark, p2,
      rows(3 to 4, "b").withColumn("__was0", lit("y")), Seq("id"))
    val ch2 = MergeTable.changesBetween(spark, p2, 1L, 2L, Seq("id"))
    assert(ch2.count() === 2)
    assert(ch2.columns.count(_ == "__was0") === 1)
  }

  test("cloneTable: the source's bloom config rides along so the clone's writers maintain filters") {
    val src = freshPath()
    val dst = freshPath()
    val df = rows(1 to 20, "a").withColumn("h", sha2($"body", 256))
    MergeTable.init(spark, src, df, bloomKeys = Seq("h"))
    MergeTable.cloneTable(spark, src, dst)
    assert(MergeTable.bloomConfig(spark, dst) === Seq("h"))
    // a keyed merge on the clone writes with the inherited config
    MergeTable.merge(spark, dst,
      rows(21 to 22, "b").withColumn("h", sha2($"body", 256)), Seq("h"))
    assert(MergeTable.read(spark, dst).count() === 22)
    // a BLOOM-LESS source must not let the clone silently adopt a
    // leftover destination config (the init(bloomKeys = Nil) refusal)
    val src2 = freshPath()
    val dst2 = freshPath()
    MergeTable.init(spark, src2, rows(1 to 5, "a"))
    val p = new org.apache.hadoop.fs.Path(dst2)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, "_bloom.properties"), false)
    out.write("h\n#end\n".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      MergeTable.cloneTable(spark, src2, dst2)
    }
    assert(e.getMessage.contains("requested none"))
  }

  test("bloom props: a torn config (missing the terminator) fails loudly, not partially") {
    // simulate the no-hardlink fallback's hard-crash residue: a prefix
    // of the real bytes at the FIXED target name — the reader must not
    // parse the partial column list as table config
    val path = freshPath()
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fs.mkdirs(root)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "_bloom.properties"), false)
    out.write("h\nk".getBytes("UTF-8")); out.close() // torn mid-second-column
    val df = rows(1 to 5, "a").withColumn("h", sha2($"body", 256))
    val e1 = intercept[IllegalStateException] { MergeTable.bloomConfig(spark, path) }
    assert(e1.getMessage.contains("torn or foreign"))
    // every entry point that would consult the config fails the same way
    intercept[IllegalStateException] { MergeTable.init(spark, path, df, bloomKeys = Seq("h")) }
    intercept[IllegalStateException] { MergeTable.init(spark, path, df) }
  }

  test("manifest stats: TIMESTAMP_MILLIS footers convert to Catalyst micros — pruning never drops rows") {
    // the r14 ADVICE unit bug: footer min/max of a MILLIS-written
    // timestamp column are millis, Catalyst literals always micros —
    // recording the raw values would prune files that DO contain
    // matching rows. The fix converts (×1000, exact) at collection.
    val path = freshPath()
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      val df = (1 to 1000).map(i =>
        (i.toLong, java.sql.Timestamp.valueOf(s"2026-01-01 00:00:00")
          .toInstant.plusSeconds(i.toLong * 60)))
        .toDF("id", "ts")
      MergeTable.init(spark, path, df)
      MergeTable.compactTable(spark, path, "ts", 8)
      val snap = MergeTable.snapshot(spark, path)
      assert(snap.stats.exists(s => s.col == "ts" && s.ranges.size === 8),
        "MILLIS timestamps must still get (converted) stats")
      // the recorded bounds are MICROS: a 2026 epoch is ~1.77e15 µs
      // (~1.77e12 in millis — three orders of magnitude off)
      assert(snap.stats.find(_.col == "ts").get.ranges.values
        .forall { case (lo, hi) => lo > 1000000000000000L && hi >= lo },
        "recorded ranges must be in Catalyst micros, not the file's millis")
      def scannedFiles(q: org.apache.spark.sql.DataFrame): Long =
        graft.util.Plans.executedNodes(q).collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.map(_.metrics("numFiles").value).sum
      // a timestamp point predicate must both PRUNE and FIND the row
      val probe = java.sql.Timestamp.from(
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00").toInstant
          .plusSeconds(500L * 60))
      val point = MergeTable.read(spark, path).filter($"ts" === probe)
      assert(point.count() === 1,
        "mis-unit stats would silently prune the live row away")
      assert(scannedFiles(point) === 1L, "converted stats must still prune")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("manifest stats: a column name the codec can't round-trip is skipped, never committed") {
    // the r14 ADVICE brick: `stat\ta:b\t...` decodes as a LEGACY
    // path-first line (':' sniff) and every later snapshot() throws on
    // the table's own committed manifest. establishStats now skips such
    // names before any data file is written; encodeSnapshot backstops.
    val path = freshPath()
    val df = (1 to 100).map(i => (i.toLong, s"p$i")).toDF("a:b", "body")
    MergeTable.init(spark, path, df)
    val snap = MergeTable.compactTable(spark, path, "a:b", 2)
    assert(snap.stats.isEmpty,
      "a ':'-named sort column must not establish stats (decode ambiguity)")
    // the table is NOT bricked: snapshot and read keep working
    assert(MergeTable.snapshot(spark, path).version === snap.version)
    assert(MergeTable.read(spark, path).count() === 100)
    // the encode backstop refuses hand-built unencodable stats
    intercept[IllegalArgumentException] {
      MergeTable.encodeSnapshotForTest(
        Seq(MergeTable.FileEntry("file:/x.parquet", 1L)),
        Seq(MergeTable.TableStats("/lead", Map("file:/x.parquet" -> (0L, 1L)))))
    }
  }

  test("manifest stats: case-sensitive sessions never bind one column's ranges to another") {
    // r14 ADVICE: under spark.sql.caseSensitive=true, `id` and `ID`
    // are distinct columns; equalsIgnoreCase binding would prune ID
    // predicates on id's ranges — silent row loss.
    val prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val path = freshPath()
      // id ascends 1..400; ID descends 400..1 — their per-file ranges
      // DISAGREE after a range-sort on id, so a wrongly-bound pruner
      // provably drops live rows
      val df = (1 to 400).map(i => (i.toLong, (401 - i).toLong, s"p$i"))
        .toDF("id", "ID", "body")
      MergeTable.init(spark, path, df)
      MergeTable.compactTable(spark, path, "id", 4)
      val snap = MergeTable.snapshot(spark, path)
      assert(snap.stats.map(_.col) === Seq("id"),
        "exactly the sort column (case-exact) gets stats")
      // ID === 390 lives in the file holding id 11 (low id range); a
      // case-blind pruner would look for 390 in id's ranges and keep
      // only the HIGH-id file — dropping the live row
      val q = MergeTable.read(spark, path).filter($"ID" === 390L)
      assert(q.count() === 1,
        "case-variant predicate must not be pruned on the other column's ranges")
      // and an `id` predicate still prunes exactly
      def scannedFiles(x: org.apache.spark.sql.DataFrame): Long =
        graft.util.Plans.executedNodes(x).collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.map(_.metrics("numFiles").value).sum
      val p = MergeTable.read(spark, path).filter($"id" === 11L)
      assert(p.count() === 1 && scannedFiles(p) === 1L)
    } finally spark.conf.set("spark.sql.caseSensitive", prev)
  }

  test("stats collection degrades per-file on unreadable footers instead of failing the commit") {
    // r14 ADVICE: a single unreadable just-committed file threw a raw
    // parquet exception from a ForkJoin pool thread and aborted the
    // whole commit AFTER its data files were written. The fix: that
    // file simply records no stats (the documented unprunable
    // fallback).
    val dir = java.nio.file.Files.createTempDirectory("collect_stats").toString
    val good = s"$dir/good.parquet"
    (1 to 10).map(i => (i.toLong, s"p$i")).toDF("id", "body")
      .coalesce(1).write.parquet(s"$dir/g")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/g"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(good))
    val bad = s"$dir/bad.parquet"
    val out = fs.create(new org.apache.hadoop.fs.Path(bad), false)
    out.write("this is not parquet".getBytes("UTF-8")); out.close()
    val got = MergeTable.collectStats(
      spark.sparkContext.hadoopConfiguration,
      Seq(MergeTable.FileEntry(good, fs.getFileStatus(
          new org.apache.hadoop.fs.Path(good)).getLen),
        MergeTable.FileEntry(bad, 19L)),
      Seq("id" -> false))
    assert(got("id").keySet.map(p => p.substring(p.lastIndexOf('/') + 1)) ===
      Set("good.parquet"),
      "the readable file keeps its stats; the unreadable one records none")
  }

  test("schema evolution: merge(allowSchemaEvolution) widens additively; old files read NULL; versions pin their schema") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))
    val evolved = rows(90 to 110, "b").withColumn("score", $"id" * 2.0)
    // without the flag: refused with the actionable message
    val e = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, evolved, Seq("id"))
    }
    assert(e.getMessage.contains("allowSchemaEvolution"))
    MergeTable.merge(spark, path, evolved, Seq("id"),
      allowSchemaEvolution = true)
    val got = MergeTable.read(spark, path)
    assert(got.columns.toSeq === Seq("id", "tag", "body", "score"),
      "new columns append after the table's, in the update's order")
    assert(got.count() === 110)
    assert(got.filter($"score".isNotNull).count() === 21,
      "merged rows carry the new column's values")
    assert(got.filter($"id" < 90 && $"score".isNotNull).count() === 0,
      "files written before the widening read the new column as NULL")
    // the schema is VERSION-PINNED: time travel reads the old shape
    assert(MergeTable.readAt(spark, path, 1L).columns.toSeq ===
      Seq("id", "tag", "body"))
    assert(MergeTable.tableSchema(spark, path).fieldNames.toSeq ===
      Seq("id", "tag", "body", "score"))
    // a later exact-schema merge must carry the widened column set
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, rows(1 to 5, "c"), Seq("id"))
    }
    assert(e2.getMessage.contains("missing table column"))
    MergeTable.merge(spark, path,
      rows(1 to 5, "c").withColumn("score", lit(null).cast("double")),
      Seq("id"))
    assert(MergeTable.read(spark, path).count() === 110)
    // predicates on the evolved column push into every leg and see the
    // NULL fill (no phantom matches from pre-widening files)
    assert(MergeTable.read(spark, path)
      .filter($"score" > 0.0).count() === 21) // all of 90..110 keep score
  }

  test("schema evolution: drops, retypes, and case-colliding names are refused in both modes") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 20, "a"))
    // dropping a column is never evolution
    val dropped = (1 to 5).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
    val e1 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, dropped, Seq("id"),
        allowSchemaEvolution = true)
    }
    assert(e1.getMessage.contains("ADDITIVE only"))
    // a CROSS-KIND retype (string -> int) is never evolution — only
    // the lossless widening allowlist is (r16)
    val retyped = rows(1 to 5, "x").withColumn("body", lit(1))
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, retyped, Seq("id"),
        allowSchemaEvolution = true)
    }
    assert(e2.getMessage.contains("lossless widenings"))
    // a new name that collides ignoring case: a case-insensitive
    // session could never resolve the widened table
    val collide = rows(1 to 5, "x").select($"id", $"tag", $"body",
      lit(1.0).as("TAG"))
    val e3 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, collide, Seq("id"),
        allowSchemaEvolution = true)
    }
    assert(e3.getMessage.contains("ignoring"))
    // an uncast NULL literal (VOID) refuses with the actionable cast
    // hint instead of parquet's write-time error
    val voidCol = rows(1 to 5, "x").withColumn("extra", lit(null))
    val e4 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, voidCol, Seq("id"),
        allowSchemaEvolution = true)
    }
    assert(e4.getMessage.contains("VOID"))
    // two case-variant NEW columns in one batch would commit a schema
    // no case-insensitive session could ever resolve (review catch)
    val freshPair = rows(1 to 5, "x").select($"id", $"tag", $"body",
      lit(1.0).as("score"), lit(2.0).as("Score"))
    val e5 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, freshPair, Seq("id"),
        allowSchemaEvolution = true)
    }
    assert(e5.getMessage.contains("collide with each other"))
    // nothing committed by any refusal
    assert(MergeTable.snapshot(spark, path).version === 1L)
  }

  test("schema evolution: a ZERO-ROW widening commits deterministically (declare-ahead-of-backfill)") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 50, "a"))
    // zero rows, zero new columns: a true no-op — no version bump
    MergeTable.merge(spark, path, rows(1 to 0, "x"), Seq("id"))
    assert(MergeTable.snapshot(spark, path).version === 1L)
    // zero rows, ONE new column: the widening must still commit (it
    // previously no-opped on DV-free tables but committed through the
    // fold on delta-carrying ones — review catch)
    val declared = rows(1 to 0, "x").withColumn("score", lit(0.0))
    val st = MergeTable.merge(spark, path, declared, Seq("id"),
      allowSchemaEvolution = true)
    assert(st.version === 2L && st.rowsUpserted === 0L)
    assert(MergeTable.tableSchema(spark, path).fieldNames.toSeq ===
      Seq("id", "tag", "body", "score"))
    val got = MergeTable.read(spark, path)
    assert(got.count() === 50 && got.filter($"score".isNull).count() === 50)
    // and the backfill then conforms without re-flagging evolution
    MergeTable.merge(spark, path,
      rows(1 to 5, "b").withColumn("score", lit(1.0)), Seq("id"))
    assert(MergeTable.read(spark, path)
      .filter($"score".isNotNull).count() === 5)
  }

  test("schema evolution across mergeLite state: the fold pads delta rows; later mergeLites conform to the widened schema") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))
    MergeTable.mergeLite(spark, path, rows(50 to 60, "dv"), Seq("id"))
    // the widening merge FOLDS the delta, padding its rows with NULL
    MergeTable.merge(spark, path,
      rows(90 to 105, "b").withColumn("score", $"id" * 1.0), Seq("id"),
      allowSchemaEvolution = true)
    val got = MergeTable.read(spark, path)
    assert(got.count() === 105)
    assert(got.filter($"tag" === "dv").count() === 11)
    assert(got.filter($"tag" === "dv" && $"score".isNotNull).count() === 0,
      "folded delta rows read the new column as NULL")
    assert(got.filter($"score".isNotNull).count() === 16)
    assert(MergeTable.snapshot(spark, path).delta.isEmpty,
      "the widening merge folds to a DV-free manifest")
    // mergeLite against the evolved table: must carry the widened set
    intercept[IllegalArgumentException] {
      MergeTable.mergeLite(spark, path, rows(1 to 3, "z"), Seq("id"))
    }
    MergeTable.mergeLite(spark, path,
      rows(1 to 3, "z").withColumn("score", lit(9.0)), Seq("id"))
    val g2 = MergeTable.read(spark, path)
    assert(g2.count() === 105)
    assert(g2.filter($"tag" === "z").agg(sum($"score")).head().getDouble(0)
      === 27.0)
  }

  test("schema evolution across clone and the change feed") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))                 // v1
    MergeTable.merge(spark, path,
      rows(50 to 55, "b").withColumn("score", lit(1.0)), Seq("id"),
      allowSchemaEvolution = true)                                    // v2
    // CDF across the widening: the probe side pads the new column with
    // NULL (exactly how a pre-widening file reads), so carried rows
    // cancel and only the 6 merged rows report
    val ch = MergeTable.changesBetween(spark, path, 1L, 2L, Seq("id"))
    assert(ch.columns.toSeq === Seq("id", "tag", "body", "score"))
    assert(ch.count() === 6)
    assert(ch.filter($"score" === 1.0).count() === 6)
    // a pure rewrite after the widening still reports nothing...
    MergeTable.compactTable(spark, path, "id", 2)                     // v3
    assert(MergeTable.changesBetween(spark, path, 2L, 3L, Seq("id")).count()
      === 0, "carried rows cancel across a post-widening compaction")
    // ...and a window SPANNING the widening + compaction reports the
    // merged rows once
    assert(MergeTable.changesBetween(spark, path, 1L, 3L, Seq("id")).count()
      === 6)
    // the clone carries the evolved schema verbatim
    val dst = freshPath()
    val cs = MergeTable.cloneTable(spark, path, dst)
    assert(cs.schemaJson.isDefined)
    assert(MergeTable.tableSchema(spark, dst).fieldNames.toSeq ===
      Seq("id", "tag", "body", "score"))
    assert(MergeTable.read(spark, dst).count() === 100)
  }

  test("scope-aware fold: a seeded suppression scope folds bit-identically to the discovery fold") {
    def build(): String = {
      val p = freshPath()
      MergeTable.init(spark, p, rows(1 to 1000, "a"))
      MergeTable.compactTable(spark, p, "id", 8)
      MergeTable.mergeLite(spark, p, rows(100 to 110, "dv"), Seq("id"))
      p
    }
    val scoped = build()
    val unscoped = build()
    assert(MergeTable.snapshot(spark, scoped).dvFiles.exists(_.nonEmpty))
    // strip the scope from the twin (a pre-scoping-writer manifest):
    // its fold must run the discovery scan the seeded one skips
    tamperManifest(unscoped)(_.filterNot(l =>
      l.startsWith("dvfiles\t") || l.startsWith("dvfile\t")))
    assert(MergeTable.snapshot(spark, unscoped).dvFiles === None)
    // the same fold-triggering merge on both: u's keys straddle the
    // delta's (105-115), so the touched set = scope ∪ u's own files
    val u = rows(105 to 115, "m")
    val s1 = MergeTable.merge(spark, scoped, u, Seq("id"))
    val s2 = MergeTable.merge(spark, unscoped, u, Seq("id"))
    assert(s1.filesRewritten === s2.filesRewritten,
      "the seeded touched-set must equal what discovery finds")
    assert(s1.filesKept === s2.filesKept)
    assert(MergeTable.read(spark, scoped).orderBy("id").collect().toSeq ===
      MergeTable.read(spark, unscoped).orderBy("id").collect().toSeq,
      "fold-with-scope must equal fold-without, bit for bit")
    // deleteWhere's fold seeds from the scope too — and the fold's
    // update set is EXACTLY the delta, so NO discovery scan runs; the
    // delete must still see the delta rows' latest state
    MergeTable.mergeLite(spark, scoped, rows(200 to 205, "dv2"), Seq("id"))
    assert(MergeTable.snapshot(spark, scoped).dvFiles.exists(_.nonEmpty))
    MergeTable.deleteWhere(spark, scoped, $"tag" === "dv2")
    val after = MergeTable.read(spark, scoped)
    assert(after.count() === 994, "6 dv2 rows deleted from 1000 keys")
    assert(after.filter($"tag" === "dv2").count() === 0)
    assert(after.filter($"id" === 107L).select("tag").head().getString(0)
      === "m", "folded state survives the scoped delete")
    // an INSERT-ONLY delta (scope = empty set) folds by pure insert:
    // zero base files rewritten
    val p3 = freshPath()
    MergeTable.init(spark, p3, rows(1 to 100, "a"))
    MergeTable.mergeLite(spark, p3, rows(200 to 205, "new"), Seq("id"))
    assert(MergeTable.snapshot(spark, p3).dvFiles === Some(Nil))
    val s3 = MergeTable.merge(spark, p3, rows(300 to 305, "m2"), Seq("id"))
    assert(s3.filesRewritten === 0,
      "insert-only delta + disjoint batch: the seeded fold rewrites nothing")
    assert(MergeTable.read(spark, p3).count() === 112)
  }

  test("schema evolution via mergeLite: widened deltas ride over NULL-filled base and prior-delta files") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))
    MergeTable.mergeLite(spark, path, rows(10 to 15, "dv"), Seq("id"))
    // refused without the flag (the merge() message shape)
    intercept[IllegalArgumentException] {
      MergeTable.mergeLite(spark, path,
        rows(20 to 25, "w").withColumn("score", lit(1.0)), Seq("id"))
    }
    // the widening batch is DISJOINT from the delta: the APPEND path —
    // prior delta files keep their old physical schema and read the
    // new column as NULL through the widened manifest schema
    MergeTable.mergeLite(spark, path,
      rows(20 to 25, "w").withColumn("score", lit(1.0)), Seq("id"),
      allowSchemaEvolution = true)
    val got = MergeTable.read(spark, path)
    assert(got.columns.toSeq === Seq("id", "tag", "body", "score"))
    assert(got.count() === 100)
    assert(got.filter($"score".isNotNull).count() === 6)
    assert(got.filter($"tag" === "dv" && $"score".isNull).count() === 6,
      "prior delta files read the new column as NULL")
    // an OVERLAPPING widened batch takes the COMBINE path (pads the
    // old delta rows), and a fold clears it all into the widened base
    MergeTable.mergeLite(spark, path,
      rows(15 to 16, "x").withColumn("score", lit(2.0)), Seq("id"),
      allowSchemaEvolution = true)
    val g2 = MergeTable.read(spark, path)
    assert(g2.count() === 100)
    assert(g2.filter($"id" === 15L).select("tag").head().getString(0) === "x")
    assert(g2.filter($"id" === 10L && $"score".isNull).count() === 1)
    MergeTable.merge(spark, path, g2.localCheckpoint(true), Seq("id"))
    assert(MergeTable.snapshot(spark, path).delta.isEmpty)
    assert(MergeTable.read(spark, path).filter($"score".isNotNull).count() === 8)
  }

  test("cloneTableAt: a pinned-version clone branches the table AS OF that version") {
    val src = freshPath()
    MergeTable.init(spark, src, rows(1 to 100, "a"))                  // v1
    MergeTable.merge(spark, src, rows(90 to 110, "b"), Seq("id"))     // v2
    val dst = freshPath()
    val cs = MergeTable.cloneTableAt(spark, src, dst, Some(1L))
    assert(cs.version === 1L)
    val got = MergeTable.read(spark, dst)
    assert(got.count() === 100 && got.filter($"tag" === "b").count() === 0,
      "the pinned clone sees v1, not the tip")
    // and the clone evolves independently of the source's tip
    MergeTable.merge(spark, dst, rows(1 to 5, "z"), Seq("id"))
    assert(MergeTable.read(spark, dst).filter($"tag" === "z").count() === 5)
    assert(MergeTable.read(spark, src).filter($"tag" === "z").count() === 0)
    assert(MergeTable.read(spark, src).count() === 110)
  }

  test("deleteLite: a keyed retraction tombstones rows without rewriting any base file") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "a"))
    MergeTable.compactTable(spark, path, "id", 8)
    val before = MergeTable.snapshot(spark, path)
    val st = MergeTable.deleteLite(spark, path,
      Seq(10L, 500L, 999L).toDF("id"), Seq("id"))
    assert(st.version === before.version + 1)
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.entries.map(_.path) === before.entries.map(_.path),
      "no base file rewritten — the tombstone write is O(keys)")
    assert(snap.deletes.size === 1, "one combined tombstone file")
    assert(snap.dvKeys === Seq("id") && snap.delta.isEmpty)
    assert(snap.dvFiles.exists(s => s.nonEmpty && s.size <= 3),
      s"scoped to the covering files: ${snap.dvFiles}")
    val got = MergeTable.read(spark, path)
    assert(got.count() === 997)
    assert(got.filter($"id".isin(10L, 500L, 999L)).count() === 0)
    // absent keys are inert and deletes are idempotent
    MergeTable.deleteLite(spark, path, Seq(10L, 5000L).toDF("id"), Seq("id"))
    assert(MergeTable.read(spark, path).count() === 997)
    // time travel still sees the pre-delete rows; vacuum keeps the
    // tombstone files live
    assert(MergeTable.readAt(spark, path, before.version).count() === 1000)
    MergeTable.vacuum(spark, path, retainMillis = 0)
    assert(MergeTable.read(spark, path).count() === 997)
    // NULL keys and drifted key types refuse loudly
    intercept[IllegalArgumentException] {
      MergeTable.deleteLite(spark, path,
        Seq[java.lang.Long](7L, null).toDF("id"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      MergeTable.deleteLite(spark, path, Seq(7).toDF("id"), Seq("id"))
    }
  }

  test("deleteLite + mergeLite interplay: re-inserts leave the tombstones; delta deletions tombstone; folds clear all") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))
    MergeTable.deleteLite(spark, path, (5L to 9L).toDF("id"), Seq("id"))
    assert(MergeTable.read(spark, path).count() === 95)
    // mergeLite re-inserts 7,8 — they must leave the tombstone set in
    // the same commit (last wins)
    MergeTable.mergeLite(spark, path, rows(7 to 8, "back"), Seq("id"))
    val g = MergeTable.read(spark, path)
    assert(g.count() === 97)
    assert(g.filter($"tag" === "back").count() === 2)
    assert(g.filter($"id" === 5L).isEmpty)
    // deleting a key that lives in the DELTA: the delta re-writes
    // without it and the key tombstones (its base row stays suppressed)
    MergeTable.deleteLite(spark, path, Seq(7L).toDF("id"), Seq("id"))
    val g2 = MergeTable.read(spark, path)
    assert(g2.count() === 96)
    assert(g2.filter($"id" === 7L).isEmpty)
    assert(g2.filter($"id" === 8L && $"tag" === "back").count() === 1)
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.delta.nonEmpty && snap.deletes.nonEmpty)
    // a MERGE folds everything: tombstoned rows drop during the
    // rewrite, the delta materializes, the manifest comes out DV-free
    MergeTable.merge(spark, path, rows(50 to 52, "m"), Seq("id"))
    assert(!MergeTable.snapshot(spark, path).rowLevel)
    val g3 = MergeTable.read(spark, path)
    assert(g3.count() === 96)
    assert(g3.filter($"tag" === "m").count() === 3)
    assert(g3.filter($"id".isin(5L, 6L, 7L, 9L)).count() === 0)
    assert(g3.filter($"id" === 8L).select("tag").head().getString(0) === "back")
  }

  test("deleteLite: merge re-inserting a tombstoned key wins; deleteWhere and compact fold tombstones") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))
    MergeTable.deleteLite(spark, path, (10L to 19L).toDF("id"), Seq("id"))
    // the fold's removal set = tombstones MINUS u's re-inserts
    MergeTable.merge(spark, path, rows(15 to 15, "again"), Seq("id"))
    val g = MergeTable.read(spark, path)
    assert(g.count() === 91)
    assert(g.filter($"id" === 15L).select("tag").head().getString(0) === "again")
    assert(g.filter($"id" === 10L).isEmpty)
    // deleteWhere on a tombstone-carrying table folds the tombstones
    // and applies its predicate in one version — no resurrection
    val p2 = freshPath()
    MergeTable.init(spark, p2, rows(1 to 100, "a"))
    MergeTable.deleteLite(spark, p2, Seq(1L, 2L).toDF("id"), Seq("id"))
    MergeTable.deleteWhere(spark, p2, $"id" > 90L)
    val h = MergeTable.read(spark, p2)
    assert(h.count() === 88)
    assert(h.filter($"id".isin(1L, 2L)).count() === 0)
    // compaction absorbs tombstones too (logicalFrame IS the fold)
    val p3 = freshPath()
    MergeTable.init(spark, p3, rows(1 to 100, "a"))
    MergeTable.deleteLite(spark, p3, Seq(50L).toDF("id"), Seq("id"))
    val cs = MergeTable.compactTable(spark, p3, "id", 2)
    assert(!cs.rowLevel)
    assert(MergeTable.read(spark, p3).count() === 99)
  }

  test("deleteLite: the fold budget counts tombstones; oversize and absent-key folds stay clean") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 2000, "a"))
    MergeTable.deleteLite(spark, path, (1L to 5L).toDF("id"), Seq("id"),
      maxDeltaRows = 4)
    assert(!MergeTable.snapshot(spark, path).rowLevel,
      "over-budget deleteLite folds to a DV-free manifest")
    assert(MergeTable.read(spark, path).count() === 1995)
    // absent-keys-only oversize: nothing to rewrite — a clean
    // entries-only manifest commits and no key is lost
    val p2 = freshPath()
    MergeTable.init(spark, p2, rows(1 to 10, "a"))
    MergeTable.deleteLite(spark, p2, (100L to 120L).toDF("id"), Seq("id"),
      maxDeltaRows = 4)
    assert(!MergeTable.snapshot(spark, p2).rowLevel)
    assert(MergeTable.read(spark, p2).count() === 10)
    // and a mergeLite whose budget is blown by TOMBSTONES folds too
    val p3 = freshPath()
    MergeTable.init(spark, p3, rows(1 to 100, "a"))
    MergeTable.deleteLite(spark, p3, (1L to 6L).toDF("id"), Seq("id"),
      maxDeltaRows = 100)
    MergeTable.mergeLite(spark, p3, rows(50 to 145, "m"), Seq("id"),
      maxDeltaRows = 100) // 96 delta + 6 tombstones > 100
    assert(!MergeTable.snapshot(spark, p3).rowLevel)
    val g3 = MergeTable.read(spark, p3)
    assert(g3.count() === 139) // 100 - 6 deleted + 45 new (101..145)
    assert(g3.filter($"id" <= 6L).count() === 0)
    assert(g3.filter($"tag" === "m").count() === 96)
  }

  test("deleteLite: the change feed sees tombstoned keys as deletes, never as changes; clones carry them") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))               // v1
    MergeTable.deleteLite(spark, path, Seq(10L, 20L).toDF("id"), Seq("id")) // v2
    assert(MergeTable.deletesBetween(spark, path, 1L, 2L, Seq("id"))
      .as[Long].collect().sorted.toSeq === Seq(10L, 20L))
    assert(MergeTable.changesBetween(spark, path, 1L, 2L, Seq("id")).count()
      === 0, "a pure delete window reports no changed rows")
    // the EXCEPT oracle both ways (the q137 convention, in-spec)
    val v1 = MergeTable.readAt(spark, path, 1L)
    val v2 = MergeTable.readAt(spark, path, 2L)
    assert(v1.exceptAll(v2).select("id").as[Long].collect().sorted.toSeq
      === Seq(10L, 20L))
    assert(v2.exceptAll(v1).isEmpty)
    // a mixed window: mergeLite changes + a deleteLite delete
    MergeTable.mergeLite(spark, path, rows(30 to 32, "m"), Seq("id"))  // v3
    MergeTable.deleteLite(spark, path, Seq(40L).toDF("id"), Seq("id")) // v4
    assert(MergeTable.deletesBetween(spark, path, 2L, 4L, Seq("id"))
      .as[Long].collect().toSeq === Seq(40L))
    val ch = MergeTable.changesBetween(spark, path, 2L, 4L, Seq("id"))
    assert(ch.count() === 3 && ch.filter($"tag" === "m").count() === 3)
    // rescope covers tombstones: strip the scope, re-scope, read right
    tamperManifest(path)(_.filterNot(l =>
      l.startsWith("dvfiles\t") || l.startsWith("dvfile\t")))
    assert(MergeTable.snapshot(spark, path).dvFiles === None)
    val rs = MergeTable.rescopeDelta(spark, path)
    assert(rs.dvFiles.isDefined && rs.deletes.nonEmpty)
    assert(MergeTable.read(spark, path).count() === 97)
    // clones carry the tombstones verbatim
    val dst = freshPath()
    MergeTable.cloneTable(spark, path, dst)
    assert(MergeTable.snapshot(spark, dst).deletes.nonEmpty)
    assert(MergeTable.read(spark, dst).count() === 97)
  }

  test("deleteLite plan shape: the tombstone anti-join covers exactly the scope; bare files skip it") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "a"))
    MergeTable.compactTable(spark, path, "id", 8)
    // 5 contiguous keys live in ONE range-sorted file
    MergeTable.deleteLite(spark, path, (10L to 14L).toDF("id"), Seq("id"))
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.dvFiles.exists(_.size === 1))
    def baseName(p: String) = new org.apache.hadoop.fs.Path(p).getName
    val scopeNames = snap.dvFiles.get.map(baseName).toSet
    val baseNames = snap.entries.map(e => baseName(e.path)).toSet
    val df = MergeTable.read(spark, path)
    val nodes = graft.util.Plans.executedNodes(df)
    // dvlits recorded: the tombstone suppression is a literal NOT-In
    // filter confined to the scope — no broadcast, no tombstone scan
    assert(nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.isEmpty, "recorded dvlits must replace the tombstone join outright")
    val filteredBase = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("NOT ") =>
        graft.util.Plans.flatten(f.child)
    }.flatten
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .flatMap(_.relation.location.inputFiles).map(baseName)
      .filter(baseNames).toSet
    assert(filteredBase === scopeNames,
      s"the NOT-In filter must cover exactly the scope: $filteredBase vs $scopeNames")
    // the broadcast path sans the dvlits line covers the same scope
    locally {
      val pb = freshPath()
      MergeTable.init(spark, pb, rows(1 to 1000, "a"))
      MergeTable.compactTable(spark, pb, "id", 8)
      MergeTable.deleteLite(spark, pb, (10L to 14L).toDF("id"), Seq("id"))
      tamperManifest(pb)(_.filterNot(_.startsWith("dvlits\t")))
      val joins = graft.util.Plans.executedNodes(MergeTable.read(spark, pb))
        .collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        }
      assert(joins.nonEmpty, "the tombstoned file needs its suppression join")
      val sb = MergeTable.snapshot(spark, pb)
      val joinedBase = joins.flatMap(j => graft.util.Plans.flatten(j.left))
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .flatMap(_.relation.location.inputFiles).map(baseName)
        .filter(sb.entries.map(e => baseName(e.path)).toSet).toSet
      assert(joinedBase === sb.dvFiles.get.map(baseName).toSet,
        s"tombstone anti-join must cover exactly the scope: $joinedBase")
      assert(MergeTable.read(spark, pb).count() === 995)
    }
    // every base file still reads (7 bare + 1 suppressed)...
    val scannedBase = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.flatMap(_.relation.location.inputFiles).map(baseName).filter(baseNames).toSet
    assert(scannedBase === baseNames)
    // ...and manifest stats still prune a point read UNDER the
    // suppression (the pruned leg is the bare one here)
    def scannedFiles(q: org.apache.spark.sql.DataFrame): Long =
      graft.util.Plans.executedNodes(q).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.filter(_.relation.location.isInstanceOf[graft.sources.ManifestFileIndex])
        .map(_.metrics("numFiles").value).sum
    val point = MergeTable.read(spark, path).filter($"id" === 800L)
    assert(point.count() === 1)
    assert(scannedFiles(point) <= 2L,
      "stats pruning must survive the tombstone union")
    assert(df.count() === 995)
  }

  test("rescopeDelta: the maintenance pass scopes an unscoped delta; reads confine the anti-join") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "old"))
    MergeTable.compactTable(spark, path, "id", 8)
    // a MULTI-COLUMN-key batch commits UNSCOPED (the write path refuses
    // the base scan) — the r14 verdict's persistent-read-tax shape
    val u = (10 to 19).map(i => (i.toLong, "old", s"replaced $i"))
      .toDF("id", "tag", "body")
    MergeTable.mergeLite(spark, path, u, Seq("id", "tag"))
    assert(MergeTable.snapshot(spark, path).dvFiles === None,
      "multi-column keys skip write-path discovery")
    // unscoped read: EVERY base file streams through the anti-join
    def joinedBaseFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
      def baseName(p: String) = new org.apache.hadoop.fs.Path(p).getName
      graft.util.Plans.executedNodes(df).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.flatMap(j => graft.util.Plans.flatten(j.left))
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .flatMap(_.relation.location.inputFiles).map(baseName).toSet
    }
    val baseNames = MergeTable.snapshot(spark, path).entries
      .map(e => new org.apache.hadoop.fs.Path(e.path).getName).toSet
    assert(baseNames.subsetOf(joinedBaseFiles(MergeTable.read(spark, path))),
      "unscoped: the full-base anti-join tax")
    // the maintenance pass runs the deliberate discovery and commits
    // ONLY a manifest (no data files written)
    val before = MergeTable.snapshot(spark, path)
    val rescoped = MergeTable.rescopeDelta(spark, path)
    assert(rescoped.version === before.version + 1)
    assert(rescoped.entries.map(_.path) === before.entries.map(_.path),
      "rescope writes no data file")
    assert(rescoped.delta.map(_.path) === before.delta.map(_.path))
    assert(rescoped.dvFiles.exists(_.size === 1),
      "10 contiguous keys live in one range-sorted file")
    // scoped read: the anti-join is confined to the scope file
    val scopeNames = rescoped.dvFiles.get
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    val after = MergeTable.read(spark, path)
    assert((joinedBaseFiles(after) intersect baseNames) === scopeNames,
      "post-rescope reads anti-join exactly the scope")
    assert(after.count() === 1000)
    assert(after.filter($"body".startsWith("replaced")).count() === 10)
    // idempotent: an already-scoped (or delta-free) table is a no-op
    assert(MergeTable.rescopeDelta(spark, path).version === rescoped.version)
    val clean = freshPath()
    MergeTable.init(spark, clean, rows(1 to 10, "a"))
    assert(MergeTable.rescopeDelta(spark, clean).version === 1L)
  }

  test("hex stats: a content_hash compaction records hex bounds; point reads prune to one file") {
    val path = freshPath()
    val df = (1 to 2000).map(i => (i.toLong, s"payload $i"))
      .toDF("id", "body").withColumn("h", sha2($"body", 256))
    MergeTable.init(spark, path, df)
    MergeTable.compactTable(spark, path, "h", 8)
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.stats.exists(s => s.col == "h" && s.hex && s.ranges.size == 8),
      s"a hex-domain string sort column must establish per-file bounds: ${snap.stats}")
    def scannedFiles(q: org.apache.spark.sql.DataFrame): Long =
      graft.util.Plans.executedNodes(q).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    // an equality probe on a PRESENT hash schedules one file and finds it
    val present = graft.util.Hashing.sha256Hex("payload 777")
    val point = MergeTable.read(spark, path).filter($"h" === present)
    assert(point.count() === 1)
    assert(scannedFiles(point) === 1L, "hex stats must prune the point read")
    // an ABSENT hash schedules at most one covering file and finds nothing
    val absent = graft.util.Hashing.sha256Hex("never ingested")
    val miss = MergeTable.read(spark, path).filter($"h" === absent)
    assert(miss.count() === 0)
    assert(scannedFiles(miss) <= 1L)
    // an In list prunes to its covering set
    val probes = Seq("payload 1", "payload 2000").map(graft.util.Hashing.sha256Hex)
    val inq = MergeTable.read(spark, path).filter($"h".isin(probes: _*))
    assert(inq.count() === 2)
    assert(scannedFiles(inq) <= 2L)
    // a NON-HEX literal never prunes (no proof) — and stays correct
    val odd = MergeTable.read(spark, path).filter($"h" === "not-a-hash")
    assert(scannedFiles(odd) === 8L)
    assert(odd.count() === 0)
    // a later merge maintains the hex bounds on its fresh file
    val one = df.filter($"id" === 777L).withColumn("body", lit("updated"))
      .select($"id", $"body", $"h")
    MergeTable.merge(spark, path, one, Seq("h"))
    val s2 = MergeTable.snapshot(spark, path)
    assert(s2.stats.exists(s => s.col == "h" && s.hex && s.ranges.size == 8),
      "the rewrite's fresh file re-records its hex bounds")
    val again = MergeTable.read(spark, path).filter($"h" === present)
    assert(again.count() === 1 && scannedFiles(again) === 1L)
  }

  test("hex stats: non-hex string values degrade to no stats for their files — never wrong pruning") {
    val path = freshPath()
    // half the corpus is hex-16+, half is arbitrary text: after a
    // range-sort on the column, low files are all-hex (stats), high
    // files contain 'payload …' (non-hex footer max -> no stats)
    val df = (1 to 400).map { i =>
      val v = if (i % 2 == 0) graft.util.Hashing.sha256Hex(s"v$i")
              else s"payload $i"
      (i.toLong, v)
    }.toDF("id", "s")
    MergeTable.init(spark, path, df)
    MergeTable.compactTable(spark, path, "s", 4)
    val snap = MergeTable.snapshot(spark, path)
    val hs = snap.stats.find(s => s.col == "s" && s.hex)
    assert(hs.exists(s => s.ranges.nonEmpty && s.ranges.size < 4),
      s"hex files record bounds, mixed/non-hex files record none: $hs")
    // every probe — hex or not — returns exactly the full-scan answer
    val all = MergeTable.read(spark, path).collect().map(_.getString(1)).toSet
    for (probe <- Seq(graft.util.Hashing.sha256Hex("v2"), "payload 3",
        "payload 399", graft.util.Hashing.sha256Hex("missing"))) {
      val got = MergeTable.read(spark, path).filter($"s" === probe).count()
      assert(got === (if (all.contains(probe)) 1L else 0L),
        s"probe '$probe' must match the full scan")
    }
  }

  test("deleteLite works under a bloom config with non-key columns (key-only tombstone files)") {
    // r15 ADVICE: tombstone files are key-only BY DESIGN, so a bloom
    // config naming any non-key column must intersect, not throw
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"),
      bloomKeys = Seq("id", "tag"))
    val st = MergeTable.deleteLite(spark, path, Seq(5L, 6L).toDF("id"), Seq("id"))
    assert(st.version === 2L)
    val got = MergeTable.read(spark, path)
    assert(got.count() === 98)
    assert(got.filter($"id".isin(5L, 6L)).count() === 0)
    // the mergeLite overlap path re-writes the SURVIVING keys file —
    // also key-only, also under the two-column bloom config
    MergeTable.mergeLite(spark, path, rows(6 to 6, "back"), Seq("id"))
    val after = MergeTable.read(spark, path)
    assert(after.count() === 99)
    assert(after.filter($"id" === 5L).count() === 0)
    assert(after.filter($"id" === 6L).select($"tag").as[String].head() === "back")
    // full-width writers still refuse a frame dropping a bloom column —
    // schema conformance catches it before the writeBatch strict guard
    // (which stays as defense-in-depth for non-conformance-checked paths)
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path,
        Seq((200L, "no body")).toDF("id", "body"), Seq("id"))
    }
  }

  test("mergeLite: a zero-row widening commits manifest-only (merge parity), carrying row-level state") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 20, "a"))
    MergeTable.mergeLite(spark, path, rows(5 to 6, "dv"), Seq("id"))   // v2
    MergeTable.deleteLite(spark, path, Seq(7L).toDF("id"), Seq("id")) // v3
    val before = MergeTable.snapshot(spark, path)
    val zero = rows(1 to 0, "x").withColumn("score", lit(0.5))
    val st = MergeTable.mergeLite(spark, path, zero, Seq("id"),
      allowSchemaEvolution = true)
    assert(st.version === before.version + 1,
      "a zero-row WIDENING must commit deterministically, like merge()")
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.delta.map(_.path) === before.delta.map(_.path) &&
      snap.deletes.map(_.path) === before.deletes.map(_.path),
      "manifest-only: every row-level file carried verbatim")
    val got = MergeTable.read(spark, path)
    assert(got.columns.contains("score"))
    assert(got.count() === 19 && got.filter($"score".isNull).count() === 19)
    assert(got.filter($"id" === 5L).select($"tag").as[String].head() === "dv")
    // a zero-row SAME-schema frame stays a version-preserving no-op
    val st2 = MergeTable.mergeLite(spark, path,
      zero.select(got.columns.map(col): _*), Seq("id"))
    assert(st2.version === st.version)
  }

  test("file pruning survives the In→InSet rewrite (>10 literals) on both stat domains") {
    val path = freshPath()
    val df = (1 to 2000).map(i => (i.toLong, s"payload $i"))
      .toDF("id", "body").withColumn("h", sha2($"body", 256))
    MergeTable.init(spark, path, df)
    MergeTable.compactTable(spark, path, "h", 8)
    def scannedFiles(q: org.apache.spark.sql.DataFrame): Long =
      graft.util.Plans.executedNodes(q).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    assert(spark.conf.get("spark.sql.optimizer.inSetConversionThreshold").toInt <= 12,
      "the probe below must exceed the In→InSet threshold to exercise InSet")
    // 12 present hashes that all share a leading hex nibble — they live
    // in at most two of the 8 range-sorted files, and 12 literals is
    // past the default In→InSet threshold (10), so the planner hands
    // the pruner an InSet, the shape that previously got NO pruning
    val lowProbes = (1 to 2000).iterator
      .map(i => graft.util.Hashing.sha256Hex(s"payload $i"))
      .filter(_.startsWith("0")).take(12).toSeq
    assert(lowProbes.size === 12)
    val hexQ = MergeTable.read(spark, path).filter($"h".isin(lowProbes: _*))
    assert(hexQ.count() === 12)
    assert(scannedFiles(hexQ) <= 2L,
      s"InSet hex probes must prune (scanned ${scannedFiles(hexQ)} of 8)")
    // numeric domain: 12 contiguous low ids live in the lowest id-file
    val idPath = freshPath()
    MergeTable.init(spark, idPath, df)
    MergeTable.compactTable(spark, idPath, "id", 8)
    val idQ = MergeTable.read(spark, idPath)
      .filter($"id".isin((1L to 12L): _*))
    assert(idQ.count() === 12)
    assert(scannedFiles(idQ) <= 1L,
      s"InSet range probes must prune (scanned ${scannedFiles(idQ)} of 8)")
  }

  test("column mapping: rename is manifest-only; reads, writes, pruning, and row-level keys follow the new name") {
    val path = freshPath()
    val df = (1 to 1000).map(i => (i.toLong, s"t$i", s"payload $i"))
      .toDF("id", "tag", "body")
    MergeTable.init(spark, path, df)
    MergeTable.compactTable(spark, path, "id", 4)            // v2: stats on id
    val before = MergeTable.snapshot(spark, path)
    val renamed = MergeTable.renameColumn(spark, path, "body", "content") // v3
    assert(renamed.version === before.version + 1)
    assert(renamed.entries.map(_.path) === before.entries.map(_.path),
      "rename writes no data file")
    val got = MergeTable.read(spark, path)
    assert(got.columns.toSeq === Seq("id", "tag", "content"))
    assert(got.filter($"content" === "payload 7").count() === 1)
    assert(MergeTable.tableSchema(spark, path).fieldNames.toSeq ===
      Seq("id", "tag", "content"))
    // manifest stat pruning still fires through the aliasing Project
    def scannedFiles(q: org.apache.spark.sql.DataFrame): Long =
      graft.util.Plans.executedNodes(q).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    val point = MergeTable.read(spark, path).filter($"id" === 3L)
    assert(point.count() === 1 && scannedFiles(point) === 1L,
      "pushdown + file pruning must survive the rename projection")
    // write by the NEW name (rewrite merge)
    MergeTable.merge(spark, path,
      Seq((5L, "x", "updated")).toDF("id", "tag", "content"), Seq("id")) // v4
    assert(MergeTable.read(spark, path)
      .filter($"content" === "updated").count() === 1)
    // rename a row-level KEY column: dvkeys stores the physical name,
    // so existing delta/tombstone state keeps working under the new name
    MergeTable.mergeLite(spark, path,
      Seq((7L, "y", "dv")).toDF("id", "tag", "content"), Seq("id"))      // v5
    MergeTable.renameColumn(spark, path, "id", "doc_id")                 // v6
    assert(MergeTable.read(spark, path).filter($"doc_id" === 7L)
      .select($"content").as[String].head() === "dv")
    MergeTable.mergeLite(spark, path,
      Seq((7L, "y", "dv2")).toDF("doc_id", "tag", "content"), Seq("doc_id")) // v7
    MergeTable.deleteLite(spark, path, Seq(8L).toDF("doc_id"), Seq("doc_id")) // v8
    val now = MergeTable.read(spark, path)
    assert(now.count() === 999)
    assert(now.filter($"doc_id" === 7L)
      .select($"content").as[String].head() === "dv2")
    // version-pinned: time travel before the renames reads old names
    assert(MergeTable.readAt(spark, path, 2L).columns.toSeq ===
      Seq("id", "tag", "body"))
    assert(MergeTable.readAt(spark, path, 5L).columns.toSeq ===
      Seq("id", "tag", "content"))
    // the renamed-away name is not addressable
    intercept[IllegalArgumentException] {
      MergeTable.deleteLite(spark, path, Seq(9L).toDF("id"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      MergeTable.renameColumn(spark, path, "tag", "CONTENT") // case-insensitive collision
    }
    // a clone carries the mapping
    val dst = freshPath()
    MergeTable.cloneTable(spark, path, dst)
    assert(MergeTable.read(spark, dst).columns.toSeq ===
      Seq("doc_id", "tag", "content"))
    // deleteWhere by the logical name still prunes + rewrites correctly
    val st = MergeTable.deleteWhere(spark, path, $"content" === "payload 10")
    assert(st.filesRewritten >= 1)
    assert(MergeTable.read(spark, path).count() === 998)
    assert(MergeTable.read(spark, path)
      .filter($"content" === "payload 10").count() === 0)
  }

  test("column mapping: drop retires the column; re-add gets a fresh physical name (no resurrection)") {
    val path = freshPath()
    val df = (1 to 100).map(i => (i.toLong, s"t$i", i * 10))
      .toDF("id", "tag", "score")
    MergeTable.init(spark, path, df)
    val dropped = MergeTable.dropColumn(spark, path, "score") // v2
    assert(dropped.entries.map(_.path) ===
      MergeTable.snapshotAt(spark, path, 1L).entries.map(_.path),
      "drop writes no data file")
    val got = MergeTable.read(spark, path)
    assert(got.columns.toSeq === Seq("id", "tag"))
    // pre-drop versions still read it (vacuum permitting)
    assert(MergeTable.readAt(spark, path, 1L)
      .filter($"score" === 50).count() === 1)
    // re-ADD a column with the same name via evolution: fresh physical,
    // old data must NOT resurrect — every row reads the new value or NULL
    MergeTable.merge(spark, path,
      Seq((5L, "t5", 999)).toDF("id", "tag", "score"), Seq("id"),
      allowSchemaEvolution = true)                            // v3
    val back = MergeTable.read(spark, path)
    assert(back.columns.toSeq === Seq("id", "tag", "score"))
    assert(back.filter($"score" === 999).count() === 1)
    assert(back.filter($"score".isNull).count() === 99,
      "dropped data must not resurrect through the re-added name")
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.colMap.retired === Seq("score"))
    assert(snap.colMap.ren.values.toSeq === Seq("score"),
      s"the re-added column needs a fresh physical name: ${snap.colMap}")
    // rename the re-added column; then the dropped physical is still retired
    MergeTable.renameColumn(spark, path, "score", "quality")  // v4
    assert(MergeTable.read(spark, path)
      .filter($"quality" === 999).count() === 1)
    // refusals
    intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, path, "nope")
    }
    val keyed = freshPath()
    MergeTable.init(spark, keyed, rows(1 to 10, "a"))
    MergeTable.mergeLite(spark, keyed, rows(3 to 3, "dv"), Seq("id"))
    intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, keyed, "id") // row-level key
    }
    val bloomed = freshPath()
    MergeTable.init(spark, bloomed, rows(1 to 10, "a"), bloomKeys = Seq("tag"))
    intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, bloomed, "tag") // bloom column
    }
    val tiny = freshPath()
    MergeTable.init(spark, tiny, Seq(1L).toDF("id"))
    intercept[IllegalArgumentException] {
      MergeTable.dropColumn(spark, tiny, "id") // last column
    }
  }

  test("column mapping: CDF windows crossing a rename/drop report under the end version's names") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))                  // v1
    MergeTable.merge(spark, path, rows(5 to 6, "m"), Seq("id"))        // v2
    MergeTable.renameColumn(spark, path, "body", "content")            // v3
    MergeTable.merge(spark, path,
      (7 to 7).map(i => (i.toLong, "n", s"payload $i"))
        .toDF("id", "tag", "content"), Seq("id"))                      // v4
    // the window CROSSES the rename: changes computed on stable
    // physical names, presented under v4's logical names
    val ch = MergeTable.changesBetween(spark, path, 1L, 4L, Seq("id"))
    assert(ch.columns.toSeq === Seq("id", "tag", "content"))
    assert(ch.count() === 3)
    assert(ch.filter($"tag" === "n").count() === 1,
      "the post-rename merge's row reports under the new column name")
    // deletes feed across a deleteLite after the rename
    MergeTable.deleteLite(spark, path, Seq(9L).toDF("id"), Seq("id"))  // v5
    val del = MergeTable.deletesBetween(spark, path, 4L, 5L, Seq("id"))
    assert(del.columns.toSeq === Seq("id") && del.as[Long].collect().toSeq === Seq(9L))
    // a window crossing a DROP reports only surviving columns
    MergeTable.dropColumn(spark, path, "tag")                          // v6
    MergeTable.merge(spark, path,
      Seq((11L, "changed")).toDF("id", "content"), Seq("id"))          // v7
    val ch2 = MergeTable.changesBetween(spark, path, 5L, 7L, Seq("id"))
    assert(ch2.columns.toSeq === Seq("id", "content"))
    assert(ch2.count() === 1 &&
      ch2.select($"content").as[String].head() === "changed")
  }

  test("deleteWhereLite: predicate deletes ride the tombstone path, bit-equal to deleteWhere") {
    val a = freshPath(); val b = freshPath()
    val df = (1 to 2000)
      .map(i => (i.toLong, if (i % 100 == 7) "bad" else "ok", s"payload $i"))
      .toDF("id", "tag", "body")
    MergeTable.init(spark, a, df)
    MergeTable.init(spark, b, df)
    // identical row-level state on both arms first: the predicate must
    // see THROUGH the delta suppression and the prior tombstones
    for (p <- Seq(a, b)) {
      MergeTable.mergeLite(spark, p,
        Seq((107L, "bad", "still bad"), (2001L, "bad", "delta-only bad"))
          .toDF("id", "tag", "body"), Seq("id"))
      MergeTable.deleteLite(spark, p, Seq(207L).toDF("id"), Seq("id"))
    }
    val before = MergeTable.snapshot(spark, a)
    val sa = MergeTable.deleteWhereLite(spark, a, $"tag" === "bad", Seq("id"))
    val sb = MergeTable.deleteWhere(spark, b, $"tag" === "bad")
    // the lite arm writes NO base file: entries carried verbatim
    val sna = MergeTable.snapshot(spark, a)
    assert(sna.entries.map(_.path) === before.entries.map(_.path),
      "predicate-lite must not rewrite base files")
    assert(sna.deletes.nonEmpty, "the match lands as tombstones")
    assert(sa.version === before.version + 1)
    // bit-equal both ways
    val ra = MergeTable.read(spark, a)
    val rb = MergeTable.read(spark, b)
    assert(ra.exceptAll(rb).isEmpty && rb.exceptAll(ra).isEmpty,
      "deleteWhereLite must equal deleteWhere bit-for-bit")
    // 2000 init + 1 delta insert - 1 prior tombstone = 2000 live; the
    // predicate matches 19 base rows + the delta's two "bad" rows
    // (id 107 superseded, id 2001 delta-only) minus nothing = 20
    assert(ra.count() === 1980 && ra.filter($"tag" === "bad").count() === 0)
    // an empty match commits nothing
    val v = MergeTable.snapshot(spark, a).version
    assert(MergeTable.deleteWhereLite(spark, a,
      $"tag" === "absent", Seq("id")).version === v)
    // past the delta budget the deleteLite fold takes over: the commit
    // becomes the deferred rewrite (tombstones cleared, rows gone)
    val c = freshPath()
    MergeTable.init(spark, c, df)
    MergeTable.deleteWhereLite(spark, c, $"id" <= 1000, Seq("id"),
      maxDeltaRows = 10)
    val snc = MergeTable.snapshot(spark, c)
    assert(snc.deletes.isEmpty && snc.delta.isEmpty,
      "a past-budget predicate delete folds instead of accumulating")
    assert(MergeTable.read(spark, c).count() === 1000)
    // composes with column mapping: predicate and keys by the new names
    MergeTable.renameColumn(spark, c, "id", "doc_id")
    MergeTable.deleteWhereLite(spark, c, $"doc_id" > 1990, Seq("doc_id"))
    assert(MergeTable.read(spark, c).count() === 990)
  }

  test("rowLevelPressure + maintain's fold policy: footer-metadata telemetry; threshold fold clears tombstones; CDF across the fold stays correct") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 1000, "a"))
    MergeTable.mergeLite(spark, path, rows(10 to 14, "dv"), Seq("id"))    // v2
    MergeTable.deleteLite(spark, path, (20L to 26L).toDF("id"), Seq("id")) // v3
    val p = MergeTable.rowLevelPressure(spark, path)
    assert(p.deltaRows === 5 && p.tombstoneRows === 7 && p.rowLevelRows === 12,
      s"footer row counts: $p")
    assert(p.deltaFiles >= 1 && p.tombstoneFiles === 1 &&
      p.deltaBytes > 0 && p.tombstoneBytes > 0)
    assert(!p.unscoped && p.scopeFiles >= 1, s"scoped state: $p")
    def foldAt(maxTombstoneRows: Long) = MergeTable.maintain(spark, path,
      MergeTable.MaintenancePolicy(rescope = false,
        foldAtTombstoneRows = Some(maxTombstoneRows), vacuumRetainMillis = None)).folded
    // under threshold: no fold, no commit
    assert(foldAt(100L).isEmpty)
    assert(MergeTable.snapshot(spark, path).version === 3L)
    // over threshold: the fold clears every piece of row-level state
    assert(foldAt(5L).isDefined)
    val snap = MergeTable.snapshot(spark, path)
    assert(!snap.rowLevel, "the fold must commit a DV-free manifest")
    assert(MergeTable.read(spark, path).count() === 993)
    val p2 = MergeTable.rowLevelPressure(spark, path)
    assert(p2.rowLevelRows === 0 && p2.scopeFiles === 0 && !p2.unscoped)
    // CDF across the fold: carried rows cancel — the fold window
    // reports nothing in either feed
    assert(MergeTable.changesBetween(
      spark, path, 3L, snap.version, Seq("id")).count() === 0)
    assert(MergeTable.deletesBetween(
      spark, path, 3L, snap.version, Seq("id")).count() === 0)
    // and the whole lineage still reports the real churn
    assert(MergeTable.deletesBetween(
      spark, path, 1L, snap.version, Seq("id")).count() === 7)
    assert(MergeTable.changesBetween(
      spark, path, 1L, snap.version, Seq("id")).count() === 5)
    // INERT tombstones (keys absent from the table) clear via the
    // manifest-only branch
    val q = freshPath()
    MergeTable.init(spark, q, rows(1 to 10, "a"))
    MergeTable.deleteLite(spark, q, Seq(999L).toDF("id"), Seq("id"))
    assert(MergeTable.snapshot(spark, q).rowLevel)
    MergeTable.foldRowLevel(spark, q)
    assert(!MergeTable.snapshot(spark, q).rowLevel)
    assert(MergeTable.read(spark, q).count() === 10)
    // no-op on a DV-free table
    val v = MergeTable.snapshot(spark, q).version
    assert(MergeTable.foldRowLevel(spark, q).version === v)
  }

  test("multi-writer OCC: a lost insert-only commit rebases onto a disjoint winner in one attempt") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))             // v1
    // inject a concurrent winner in the loser's write→commit window;
    // the hook resets itself first (the seam's recursion contract)
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.merge(spark, path, rows(200 to 209, "winner"), Seq("id")); ()
    }
    val st =
      try MergeTable.merge(spark, path, rows(300 to 309, "loser"), Seq("id"))
      finally MergeTable.commitRaceHookForTest = () => ()
    assert(st.version === 3L && st.filesRewritten === 0,
      s"the rebase lands right after the winner: $st")
    val got = MergeTable.read(spark, path)
    assert(got.count() === 120)
    assert(got.filter($"tag" === "winner").count() === 10)
    assert(got.filter($"tag" === "loser").count() === 10)
    // REBASE evidence (vs a silent full re-attempt): every part file on
    // disk is referenced by the tip — a re-attempt would have abandoned
    // the loser's first batch as an orphan
    val tipNames = MergeTable.snapshot(spark, path).entries
      .map(e => new org.apache.hadoop.fs.Path(e.path).getName).toSet
    val onDisk = new java.io.File(path, "data").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles)
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(onDisk === tipNames,
      "the loser must reuse its written batch (no orphan files)")
  }

  test("multi-writer OCC: key overlap and row-level winners refuse the rebase and serialize correctly") {
    // overlapping keys: the loser's insert-only claim went stale — the
    // full re-attempt must RE-DISCOVER and replace, never duplicate
    val p2 = freshPath()
    MergeTable.init(spark, p2, rows(1 to 100, "a"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.merge(spark, p2, rows(150 to 150, "winner"), Seq("id")); ()
    }
    try MergeTable.merge(spark, p2, rows(150 to 150, "loser"), Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    val g2 = MergeTable.read(spark, p2)
    assert(g2.count() === 101)
    assert(g2.filter($"id" === 150L).count() === 1,
      "overlapping concurrent inserts must serialize, never duplicate")
    assert(g2.filter($"id" === 150L).select($"tag").as[String].head() === "loser",
      "the retried writer is newest and wins")
    // a winner that leaves ROW-LEVEL state refuses the rebase (key
    // overlap, not file overlap, is the conflict variable once
    // suppression exists) — the retry folds it, today's correct path
    val p3 = freshPath()
    MergeTable.init(spark, p3, rows(1 to 100, "a"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.mergeLite(spark, p3, rows(50 to 50, "dv"), Seq("id")); ()
    }
    try MergeTable.merge(spark, p3, rows(400 to 404, "b"), Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    val g3 = MergeTable.read(spark, p3)
    assert(g3.count() === 105) // 100 + 5 inserts; id 50 was a replace
    assert(g3.filter($"id" === 50L).select($"tag").as[String].head() === "dv")
    assert(!MergeTable.snapshot(spark, p3).rowLevel,
      "the loser's retry folds the winner's row-level state")
  }

  test("multi-writer OCC: a lost FOLD commit never rebases — a winner's delete cannot resurrect delta keys") {
    // r16 review catch: the fold's `u` is delta-carried state. A winner
    // deleting those very delta keys past-budget commits an
    // entries-only manifest with NO file change — `added` empty, the
    // key probe never runs — so an unguarded rebase would resurrect
    // the deleted key. The rebase must be insert-branch-only.
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))              // v1
    MergeTable.mergeLite(spark, path, rows(200 to 200, "delta"), Seq("id")) // v2
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      // past-budget delete of the delta key: folds to entries-only
      MergeTable.deleteLite(spark, path, Seq(200L).toDF("id"), Seq("id"),
        maxDeltaRows = 0); ()
    }
    try MergeTable.merge(spark, path, rows(300 to 300, "b"), Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    val got = MergeTable.read(spark, path)
    assert(got.filter($"id" === 200L).count() === 0,
      "the winner's durable delete must hold — no rebase resurrection")
    assert(got.filter($"id" === 300L).count() === 1)
    assert(got.count() === 101)
  }

  test("column mapping: a case-colliding new logical name is refused; case-variant addressing resolves") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 50, "a"))
    MergeTable.renameColumn(spark, path, "body", "title")
    // evolution add "TITLE": collides with live logical "title" ignoring
    // case — conformedSchema sees only PHYSICAL names here, so the
    // boundary must refuse (r16 review catch)
    val e = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path,
        rows(1 to 1, "a").withColumnRenamed("body", "title")
          .withColumn("TITLE", lit("dup")),
        Seq("id"), allowSchemaEvolution = true)
    }
    assert(e.getMessage.contains("ignoring case"))
    // case-variant addressing of a RENAMED column honors the session's
    // (default case-insensitive) resolver, like unmapped columns do
    MergeTable.compactTable(spark, path, "TITLE", 2)
    assert(MergeTable.read(spark, path).columns.toSeq ===
      Seq("id", "tag", "title"))
    // the renamed-away name stays refused
    intercept[IllegalArgumentException] {
      MergeTable.compactTable(spark, path, "body", 2)
    }
  }

  test("type widening: lossless retypes are evolution — old files promote at scan, versions pin their type") {
    val path = freshPath()
    val df = (1 to 1000).map(i => (i.toLong, s"t$i", i % 100))
      .toDF("id", "tag", "score") // score: INT
    MergeTable.init(spark, path, df)
    MergeTable.compactTable(spark, path, "score", 4) // stats on the int column
    // widen score INT -> LONG via an evolving merge
    val up = (200 to 350).map(i => (i.toLong, "xx", i * 3L))
      .toDF("id", "tag", "score")
    MergeTable.merge(spark, path, up, Seq("id"), allowSchemaEvolution = true)
    val got = MergeTable.read(spark, path)
    assert(got.schema("score").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(got.count() === 1000)
    assert(got.filter($"id" === 10L).select($"score").as[Long].head() === 10L,
      "pre-widening files must promote, value-exact")
    assert(got.filter($"id" === 300L).select($"score").as[Long].head() === 900L)
    // the int-era stat ranges still prune the promoted column
    def scannedFiles(q: org.apache.spark.sql.DataFrame): Long =
      graft.util.Plans.executedNodes(q).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.map(_.metrics("numFiles").value).sum
    val pruned = MergeTable.read(spark, path).filter($"score" === 5L)
    assert(pruned.count() > 0 && scannedFiles(pruned) < 5L,
      s"int-era stats must keep pruning the widened column")
    // version pinning: the pre-widening version still reads INT
    assert(MergeTable.readAt(spark, path, 2L).schema("score").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // CDF across the widening window promotes the narrow side
    val ch = MergeTable.changesBetween(spark, path, 2L, 3L, Seq("id"))
    assert(ch.count() === 151 &&
      ch.schema("score").dataType === org.apache.spark.sql.types.LongType)
    // zero-row TYPE widening commits manifest-only (float -> double)
    val p2 = freshPath()
    MergeTable.init(spark, p2,
      Seq((1L, 1.5f)).toDF("id", "w"))
    val v2 = MergeTable.snapshot(spark, p2).version
    MergeTable.merge(spark, p2,
      Seq((1L, 0.0d)).toDF("id", "w").limit(0), Seq("id"),
      allowSchemaEvolution = true)
    val s2 = MergeTable.snapshot(spark, p2)
    assert(s2.version === v2 + 1 &&
      s2.schema.get("w").dataType === org.apache.spark.sql.types.DoubleType,
      "a zero-row TYPE widening must commit deterministically")
    assert(MergeTable.read(spark, p2).select($"w").as[Double].head() === 1.5d)
    // refusals: narrowing, lossy widening, exact mode
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path,
        (1 to 1).map(i => (i.toLong, "a", i)).toDF("id", "tag", "score"),
        Seq("id"), allowSchemaEvolution = true) // INT arrives, table LONG
    }
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path,
        (1 to 1).map(i => (i.toLong, "a", i.toDouble)).toDF("id", "tag", "score"),
        Seq("id"), allowSchemaEvolution = true) // LONG -> DOUBLE is lossy
    }
    intercept[IllegalArgumentException] {
      MergeTable.merge(spark, p2,
        Seq((1L, 2.5f)).toDF("id", "w"), Seq("id")) // exact mode: no retype
    }
    // widening a STAT column out of the long-ordered family (int ->
    // double) drops its stats line on the widening commit: collectStats
    // would otherwise record truncated longValue ranges for the new
    // double files — wrong metadata, dormant only while statsSupported
    // filters it (r16 review catch)
    val p4 = freshPath()
    MergeTable.init(spark, p4, (1 to 400).map(i => (i.toLong, i % 50))
      .toDF("id", "v"))
    MergeTable.compactTable(spark, p4, "v", 4)
    assert(MergeTable.snapshot(spark, p4).stats.exists(_.col == "v"))
    MergeTable.merge(spark, p4,
      Seq((5L, 2.5d)).toDF("id", "v"), Seq("id"),
      allowSchemaEvolution = true) // v: INT -> DOUBLE
    val s4 = MergeTable.snapshot(spark, p4)
    assert(s4.schema.get("v").dataType === org.apache.spark.sql.types.DoubleType)
    assert(!s4.stats.exists(_.col == "v"),
      "a column widened out of the long-ordered family must drop its stats")
    assert(MergeTable.read(spark, p4).filter($"v" === 2.5d).count() === 1)
    // mergeLite widens too, folding the delta through the cast
    val p3 = freshPath()
    MergeTable.init(spark, p3, (1 to 100).map(i => (i.toLong, i % 7))
      .toDF("id", "n"))
    MergeTable.mergeLite(spark, p3, Seq((5L, 99)).toDF("id", "n"), Seq("id"))
    MergeTable.mergeLite(spark, p3, Seq((6L, 1000000000000L)).toDF("id", "n"),
      Seq("id"), allowSchemaEvolution = true) // INT -> LONG with live delta
    val g3 = MergeTable.read(spark, p3)
    assert(g3.schema("n").dataType === org.apache.spark.sql.types.LongType)
    assert(g3.filter($"id" === 5L).select($"n").as[Long].head() === 99L)
    assert(g3.filter($"id" === 6L).select($"n").as[Long].head() === 1000000000000L)
    assert(g3.count() === 100)
  }

  test("describe: the one-call operational summary presents logical names and live pressure") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 200, "a"), bloomKeys = Seq("id"))
    MergeTable.compactTable(spark, path, "id", 4)
    MergeTable.renameColumn(spark, path, "body", "content")
    MergeTable.mergeLite(spark, path,
      Seq((5L, "dv", "x")).toDF("id", "tag", "content"), Seq("id"))
    MergeTable.deleteLite(spark, path, Seq(9L).toDF("id"), Seq("id"))
    val info = MergeTable.describe(spark, path)
    assert(info.version === MergeTable.snapshot(spark, path).version)
    assert(info.baseFiles === 4 && info.baseBytes > 0)
    assert(info.schema.fieldNames.toSeq === Seq("id", "tag", "content"))
    assert(info.keyColumns === Seq("id"))
    assert(info.renamedColumns === Map("content" -> "body"))
    assert(info.retiredPhysicalColumns.isEmpty)
    assert(info.statsColumns === Seq("id"))
    assert(info.bloomColumns === Seq("id"))
    assert(info.pressure.deltaRows === 1 && info.pressure.tombstoneRows === 1)
    MergeTable.dropColumn(spark, path, "tag")
    assert(MergeTable.describe(spark, path).retiredPhysicalColumns === Seq("tag"))
  }

  test("a rename racing a merge fails the merge loudly, never silently mis-binds the old name") {
    // the caller's frame speaks the PRE-rename name; after the winner's
    // rename lands, the retry must refuse (the old logical is no longer
    // addressable) rather than bind the column under the stale name
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 50, "a"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.renameColumn(spark, path, "body", "content"); ()
    }
    val e =
      try intercept[IllegalArgumentException] {
        MergeTable.merge(spark, path, rows(60 to 62, "b"), Seq("id"))
      } finally MergeTable.commitRaceHookForTest = () => ()
    assert(e.getMessage.contains("missing table column"),
      s"stale-name addressing must refuse loudly: ${e.getMessage}")
    // the table is untouched by the failed attempt; the new name works
    assert(MergeTable.read(spark, path).count() === 50)
    MergeTable.merge(spark, path,
      (60 to 62).map(i => (i.toLong, "b", s"payload $i"))
        .toDF("id", "tag", "content"), Seq("id"))
    assert(MergeTable.read(spark, path).count() === 53)
  }

  test("foldRowLevel: a mergeLite landing between the inertness proof and the manifest-only clear survives (never blind-cleared)") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    // INERT tombstone (key absent): the zero-row merge proves it inert
    // and foldRowLevel takes the manifest-only clearing branch — the
    // exact window the r17 review named
    MergeTable.deleteLite(spark, path, Seq(999L).toDF("id"), Seq("id"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.mergeLite(spark, path,
        rows(5 to 5, "racer"), Seq("id")); ()
    }
    try MergeTable.foldRowLevel(spark, path)
    finally MergeTable.commitRaceHookForTest = () => ()
    // the racer's delta row must be live — the pinned-version commit
    // lost OCC and the retry re-proved through merge(), folding it in
    val got = MergeTable.read(spark, path)
    assert(got.count() === 10)
    assert(got.filter($"tag" === "racer").count() === 1,
      "a concurrent mergeLite's delta rows must never be blind-cleared")
    assert(!MergeTable.snapshot(spark, path).rowLevel)
  }

  test("foldRowLevel: a deleteLite landing between the inertness proof and the clear is not resurrected") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    MergeTable.deleteLite(spark, path, Seq(999L).toDF("id"), Seq("id"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.deleteLite(spark, path, Seq(5L).toDF("id"), Seq("id")); ()
    }
    try MergeTable.foldRowLevel(spark, path)
    finally MergeTable.commitRaceHookForTest = () => ()
    val got = MergeTable.read(spark, path)
    assert(got.count() === 9, "the racer's deletion must hold across the fold")
    assert(got.filter($"id" === 5L).count() === 0,
      "a concurrent deleteLite's tombstone must never be resurrected")
    assert(!MergeTable.snapshot(spark, path).rowLevel)
  }

  test("inbound evolution: two case-variant NEW columns in one batch refuse on a mapped table") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    MergeTable.renameColumn(spark, path, "body", "content") // mapping live
    val u = (11 to 12).map(i =>
        (i.toLong, "b", s"p$i", i * 1.0, i * 2.0))
      .toDF("id", "tag", "content", "Score", "score")
    val e = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, path, u, Seq("id"),
        allowSchemaEvolution = true)
    }
    assert(e.getMessage.contains("ignoring case"),
      s"case-variant fresh columns must collide, not suffix: ${e.getMessage}")
    // the table is untouched by the refused attempt
    assert(MergeTable.read(spark, path).columns.toSeq ===
      Seq("id", "tag", "content"))
  }

  test("renameColumn/dropColumn honor the session resolver (case-insensitive addressing, the physicalNameOf convention)") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 10, "a"))
    // address 'tag' as 'Tag' — every other surface resolves this fine
    MergeTable.renameColumn(spark, path, "Tag", "label")
    assert(MergeTable.read(spark, path).columns.toSeq ===
      Seq("id", "label", "body"))
    // exact-target no-op returns without a commit
    val v = MergeTable.snapshot(spark, path).version
    assert(MergeTable.renameColumn(spark, path, "label", "label").version === v)
    // a pure CASE change of a column onto itself is a legit rename
    MergeTable.renameColumn(spark, path, "label", "Label")
    assert(MergeTable.read(spark, path).columns.toSeq ===
      Seq("id", "Label", "body"))
    // drop by a case variant
    MergeTable.dropColumn(spark, path, "lAbEl")
    assert(MergeTable.read(spark, path).columns.toSeq === Seq("id", "body"))
  }

  /** Every part file on disk that the tip references — orphan-freedom
    * is the rebase evidence: a full re-attempt abandons the loser's
    * first batch as an orphan. */
  private def orphanParts(path: String): Set[String] = {
    val snap = MergeTable.snapshot(spark, path)
    val refd = (snap.entries ++ snap.delta ++ snap.deletes)
      .map(e => new org.apache.hadoop.fs.Path(e.path).getName).toSet
    new java.io.File(path, "data").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles)
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).map(_.getName).toSet -- refd
  }

  test("multi-writer OCC: two disjoint-key mergeLites land in one retry round — both deltas live, no orphan files") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))               // v1
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.mergeLite(spark, path, rows(200 to 209, "winner"), Seq("id")); ()
    }
    val st =
      try MergeTable.mergeLite(spark, path, rows(300 to 309, "loser"), Seq("id"))
      finally MergeTable.commitRaceHookForTest = () => ()
    assert(st.version === 3L, s"the rebase lands right after the winner: $st")
    val got = MergeTable.read(spark, path)
    assert(got.count() === 120)
    assert(got.filter($"tag" === "winner").count() === 10)
    assert(got.filter($"tag" === "loser").count() === 10)
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.delta.nonEmpty && snap.rowLevel)
    assert(orphanParts(path).isEmpty,
      "the loser must reuse its written delta batch (no orphan files)")
    // CDF across the rebased commit reports the TRUE churn: the window
    // covering only the rebase carries the loser's rows alone
    assert(MergeTable.changesBetween(spark, path, 2L, 3L, Seq("id"))
      .count() === 10)
    assert(MergeTable.changesBetween(spark, path, 1L, 3L, Seq("id"))
      .count() === 20)
    assert(MergeTable.deletesBetween(spark, path, 1L, 3L, Seq("id"))
      .count() === 0)
    // a later fold absorbs both writers' rows cleanly
    MergeTable.foldRowLevel(spark, path)
    assert(MergeTable.read(spark, path).count() === 120)
  }

  test("multi-writer OCC: overlapping-key mergeLites refuse the rebase and serialize last-wins") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.mergeLite(spark, path, rows(150 to 150, "winner"), Seq("id")); ()
    }
    try MergeTable.mergeLite(spark, path, rows(150 to 150, "loser"), Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    val got = MergeTable.read(spark, path)
    assert(got.count() === 101)
    assert(got.filter($"id" === 150L).count() === 1,
      "overlapping concurrent upserts must serialize, never duplicate")
    assert(got.filter($"id" === 150L).select($"tag").as[String].head()
      === "loser", "the retried writer is newest and wins")
  }

  test("multi-writer OCC: a deleteLite racing a disjoint-key mergeLite composes; same-key refuses and serializes") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))               // v1
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.mergeLite(spark, path, rows(200 to 200, "dv"), Seq("id")); ()
    }
    val st =
      try MergeTable.deleteLite(spark, path, Seq(50L).toDF("id"), Seq("id"))
      finally MergeTable.commitRaceHookForTest = () => ()
    assert(st.version === 3L, s"the tombstone append rebases in one round: $st")
    val got = MergeTable.read(spark, path)
    assert(got.count() === 100) // 100 + 1 upsert-insert − 1 delete
    assert(got.filter($"id" === 50L).count() === 0,
      "the loser's deletion must land")
    assert(got.filter($"id" === 200L).select($"tag").as[String].head() === "dv",
      "the winner's delta row must survive the rebase")
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.delta.nonEmpty && snap.deletes.nonEmpty,
      "both writers' row-level state composes in the tip")
    // CDF: the rebase window carries the deletion alone
    assert(MergeTable.deletesBetween(spark, path, 2L, 3L, Seq("id"))
      .select($"id").as[Long].collect().toSeq === Seq(50L))
    assert(MergeTable.changesBetween(spark, path, 2L, 3L, Seq("id"))
      .count() === 0)

    // SAME key: the winner deletes what the loser upserts — the rebase
    // refuses (tip tombstone overlap) and the full retry serializes:
    // the loser's upsert is newest, re-inserting the key and clearing
    // its tombstone in one commit
    val p2 = freshPath()
    MergeTable.init(spark, p2, rows(1 to 100, "a"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.deleteLite(spark, p2, Seq(60L).toDF("id"), Seq("id")); ()
    }
    try MergeTable.mergeLite(spark, p2, rows(60 to 60, "loser"), Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    val g2 = MergeTable.read(spark, p2)
    assert(g2.count() === 100)
    assert(g2.filter($"id" === 60L).select($"tag").as[String].head()
      === "loser", "the retried upsert is newest: re-insert wins")
    assert(MergeTable.snapshot(spark, p2).deletes.isEmpty,
      "the re-inserted key's tombstone must leave in the same commit")
  }

  test("multi-writer OCC: a mergeLite racing an insert-only merge rebases when keys are disjoint, refuses on overlap") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a"))
    // winner APPENDS base files (insert-only merge): the loser's scope
    // proof must be re-checked over tip − base — disjoint keys pass
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.merge(spark, path, rows(400 to 409, "ins"), Seq("id")); ()
    }
    val st =
      try MergeTable.mergeLite(spark, path, rows(500 to 500, "lite"), Seq("id"))
      finally MergeTable.commitRaceHookForTest = () => ()
    assert(st.version === 3L)
    val got = MergeTable.read(spark, path)
    assert(got.count() === 111)
    assert(got.filter($"tag" === "ins").count() === 10)
    assert(got.filter($"tag" === "lite").count() === 1)
    assert(orphanParts(path).isEmpty)
    // OVERLAP with a winner-added file: the loser's key lives in the
    // winner's new base file — a scoped rebase would fail to suppress
    // it (a visible duplicate), so it must refuse and re-attempt whole
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.merge(spark, path, rows(600 to 600, "winsert"), Seq("id")); ()
    }
    try MergeTable.mergeLite(spark, path, rows(600 to 600, "loser2"), Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    val g2 = MergeTable.read(spark, path)
    assert(g2.filter($"id" === 600L).count() === 1,
      "a key landing in a winner-added base file must never duplicate")
    assert(g2.filter($"id" === 600L).select($"tag").as[String].head()
      === "loser2")
  }

  test("reader-version: an unknown manifest tag refuses loudly with an upgrade message") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 5, "a"))
    tamperManifest(path)(ls => ls :+ "futureformat\tpayload")
    val e = intercept[IllegalStateException] {
      MergeTable.snapshot(spark, path)
    }
    assert(e.getMessage.contains("unknown tag 'futureformat'") &&
      e.getMessage.contains("newer graft writer"),
      s"got: ${e.getMessage}")
  }

  test("trimLog: explicit horizon retention on the lineages vacuum's liveness gate never sweeps") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "a")) // v1
    for (i <- 2 to 8) // pure-insert lineage: every old file stays live
      MergeTable.merge(spark, path,
        rows(i * 1000 to i * 1000 + 50, "a"), Seq("id"))  // v2..v8
    // vacuum at grace 0: data all live in the tip, so the liveness
    // gate keeps EVERY manifest — the exact growth trimLog exists for
    MergeTable.vacuum(spark, path, 0L)
    assert(MergeTable.versions(spark, path) === (1L to 8L),
      "insert-only lineage: vacuum must not narrow time travel")
    val info0 = MergeTable.describe(spark, path)
    assert(info0.manifestVersions === 8 && info0.manifestBytes > 0,
      "describe must surface the log's metadata pressure")
    // horizon 3 with v2 session-pinned: v1/v3/v4/v5 go, v2 survives
    assert(MergeTable.trimLog(spark, path, keepLast = 3,
      retainMillis = 0L, keepVersions = Seq(2L)) === 4)
    assert(MergeTable.versions(spark, path) === Seq(2L, 6L, 7L, 8L))
    // travel inside the horizon and to the pin still works — the trim
    // touched no data files
    assert(MergeTable.readAt(spark, path, 6L).count() === 100 + 5 * 51)
    assert(MergeTable.readAt(spark, path, 2L).count() === 151)
    // outside: the crafted retention message, not a bare FNFE
    val e = intercept[IllegalArgumentException](
      MergeTable.readAt(spark, path, 3L).count())
    assert(e.getMessage.contains("retention sweep"), s"got: ${e.getMessage}")
    // a CDF window whose fromV fell below the horizon refuses the same
    // way — cursors must stay inside the retention window
    val e2 = intercept[IllegalArgumentException](
      MergeTable.changesBetween(spark, path, 3L, 8L, Seq("id")).count())
    assert(e2.getMessage.contains("retention sweep"), s"got: ${e2.getMessage}")
    // ... while a window inside the horizon keeps working
    assert(MergeTable.changesBetween(spark, path, 6L, 8L, Seq("id"))
      .count() === 2 * 51)
    // the mtime grace protects below-horizon manifests younger than it
    assert(MergeTable.trimLog(spark, path, keepLast = 1,
      retainMillis = 60L * 60L * 1000L) === 0)
    assert(MergeTable.versions(spark, path) === Seq(2L, 6L, 7L, 8L))
    // the tip always survives, even at keepLast = 1 / grace 0
    assert(MergeTable.trimLog(spark, path, keepLast = 1,
      retainMillis = 0L) === 3)
    assert(MergeTable.versions(spark, path) === Seq(8L))
    assert(MergeTable.read(spark, path).count() === 100 + 7 * 51)
    val info1 = MergeTable.describe(spark, path)
    assert(info1.manifestVersions === 1 &&
      info1.manifestBytes < info0.manifestBytes)
    intercept[IllegalArgumentException](
      MergeTable.trimLog(spark, path, keepLast = 0))
  }

  test("deleteWhereLite binds to discovery: a racing writer's new match survives; a quiescent call is one commit") {
    def build(): String = {
      val p = freshPath()
      MergeTable.init(spark, p, (1 to 100)
        .map(i => (i.toLong, if (i % 10 == 7) "bad" else "ok", s"p $i"))
        .toDF("id", "tag", "body"))
      p
    }
    def raceInsertBad(p: String): Unit = {
      MergeTable.commitRaceHookForTest = () => {
        MergeTable.commitRaceHookForTest = () => ()
        MergeTable.merge(spark, p,
          Seq((1001L, "bad", "landed mid-delete")).toDF("id", "tag", "body"),
          Seq("id")); ()
      }
    }
    // DEFAULT: the predicate binds to the discovery snapshot — the
    // racer's new matching row survives the retried commit
    val a = build()
    raceInsertBad(a)
    try MergeTable.deleteWhereLite(spark, a, $"tag" === "bad", Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    val ra = MergeTable.read(spark, a).filter($"tag" === "bad")
    assert(ra.count() === 1 &&
      ra.select($"id").as[Long].head() === 1001L,
      "default semantics: discovery-bound, documented")
    // quiescent: one commit
    val c = build()
    val s = MergeTable.deleteWhereLite(spark, c, $"tag" === "bad", Seq("id"))
    assert(s.version === 2L &&
      MergeTable.read(spark, c).filter($"tag" === "bad").count() === 0)
  }

  test("maintain: one policy pass drives rescope, fold, compact, vacuum and trim from described state") {
    import MergeTable.{MaintenancePolicy, maintain}
    // branch 1: RESCOPE — unscoped delta, nothing else over budget
    val p1 = freshPath()
    MergeTable.init(spark, p1, rows(1 to 1000, "old"))
    MergeTable.compactTable(spark, p1, "id", 8)
    MergeTable.mergeLite(spark, p1,
      (10 to 19).map(i => (i.toLong, "old", s"r $i")).toDF("id", "tag", "body"),
      Seq("id", "tag")) // multi-column key: commits unscoped
    val r1 = maintain(spark, p1, MaintenancePolicy(
      foldAtTombstoneRows = Some(1000L)))
    assert(r1.before.pressure.unscoped && r1.rescoped &&
      r1.folded.isEmpty && r1.compactedToVersion.isEmpty,
      s"got: $r1")
    assert(MergeTable.snapshot(spark, p1).dvFiles.isDefined,
      "the pass must have scoped the delta")
    // branch 2: FOLD preempts the rescope (one outcome, one scan) —
    // fresh unscoped delta AND tombstones over threshold
    MergeTable.mergeLite(spark, p1,
      (30 to 39).map(i => (i.toLong, "old", s"r2 $i")).toDF("id", "tag", "body"),
      Seq("id", "tag"))
    MergeTable.deleteLite(spark, p1,
      (50L to 60L).map(i => (i, "old")).toDF("id", "tag"), Seq("id", "tag"))
    val r2 = maintain(spark, p1, MaintenancePolicy(
      foldAtTombstoneRows = Some(5L)))
    assert(r2.before.pressure.unscoped && !r2.rescoped && r2.folded.isDefined,
      s"a firing fold must absorb the rescope: $r2")
    val sn2 = MergeTable.snapshot(spark, p1)
    assert(sn2.delta.isEmpty && sn2.deletes.isEmpty,
      "the fold cleared the row-level state")
    assert(MergeTable.read(spark, p1).count() === 1000 - 11,
      "fold result: the deleteLite keys are gone, the merges applied")
    // branch 3: COMPACT + VACUUM in one pass (vacuum's liveness gate
    // sweeps the superseded manifests itself once the rewrite killed
    // their files — trim has nothing left to do here, by design)
    val files = MergeTable.snapshot(spark, p1).entries.size
    val r3 = maintain(spark, p1, MaintenancePolicy(
      compactAtFiles = Some(files - 1), compactSortCol = Some("id"),
      compactTargetFiles = Some(2),
      vacuumRetainMillis = Some(0L), logKeepLast = Some(1)))
    assert(r3.compactedToVersion.isDefined &&
      r3.dataFilesReclaimed > 0 && r3.manifestsTrimmed === 0, s"got: $r3")
    assert(MergeTable.snapshot(spark, p1).entries.size === 2)
    assert(MergeTable.versions(spark, p1) === Seq(r3.endVersion))
    assert(MergeTable.read(spark, p1).count() === 989)
    // branch 4: TRIM carries the lineage vacuum can't — insert-only
    // commits on top of the compacted tip (all files live, liveness
    // gate silent), the horizon policy bounds the log anyway
    for (i <- 1 to 3)
      MergeTable.merge(spark, p1,
        (i * 10000 to i * 10000 + 5)
          .map(j => (j.toLong, "old", s"n $j")).toDF("id", "tag", "body"),
        Seq("id", "tag"))
    val r3b = maintain(spark, p1, MaintenancePolicy(
      vacuumRetainMillis = Some(0L), logKeepLast = Some(1)))
    assert(r3b.manifestsTrimmed === 3 && r3b.dataFilesReclaimed === 0,
      s"got: $r3b")
    assert(MergeTable.versions(spark, p1) === Seq(r3b.endVersion))
    assert(MergeTable.read(spark, p1).count() === 989 + 18)
    // the compact branch refuses a policy without a layout, up front
    intercept[IllegalArgumentException](maintain(spark, p1,
      MaintenancePolicy(compactAtFiles = Some(1))))
    // a quiet table: the default policy does nothing but report
    val r4 = maintain(spark, p1, MaintenancePolicy(
      foldAtTombstoneRows = Some(0L), logKeepLast = Some(10)))
    assert(!r4.rescoped && r4.folded.isEmpty &&
      r4.compactedToVersion.isEmpty && r4.manifestsTrimmed === 0 &&
      r4.endVersion === r3b.endVersion, s"got: $r4")
  }

  test("maintain: a firing compaction absorbs the fold — one rewrite, same end state") {
    import MergeTable.{MaintenancePolicy, maintain}
    // two identical lineages: fold+compact both over budget
    def stage(p: String): Unit = {
      MergeTable.init(spark, p, rows(1 to 500, "old"))
      MergeTable.compactTable(spark, p, "id", 8)
      MergeTable.mergeLite(spark, p,
        (10L to 19L).map(i => (i, "new", s"m $i")).toDF("id", "tag", "body"),
        Seq("id"))
      MergeTable.deleteLite(spark, p,
        (50L to 60L).map(Tuple1(_)).toDF("id"), Seq("id"))
    }
    val pa = freshPath(); stage(pa)
    val ra = maintain(spark, pa, MaintenancePolicy(
      foldAtTombstoneRows = Some(0L),
      compactAtFiles = Some(2), compactSortCol = Some("id"),
      compactTargetFiles = Some(3)))
    // absorbed: no separate fold rewrite ran, the compaction version is
    // exactly before+1 (ONE commit covers both outcomes)
    assert(ra.before.pressure.tombstoneRows > 0 && ra.folded.isEmpty &&
      ra.compactedToVersion === Some(ra.before.version + 1), s"got: $ra")
    val sna = MergeTable.snapshot(spark, pa)
    assert(sna.delta.isEmpty && sna.deletes.isEmpty &&
      sna.entries.size === 3, "the single rewrite folded AND compacted")
    // content equals the explicit fold-then-compact composition
    val pb = freshPath(); stage(pb)
    MergeTable.foldRowLevel(spark, pb)
    MergeTable.compactTable(spark, pb, "id", 3)
    val a = MergeTable.read(spark, pa).orderBy($"id").collect().toSeq
    val b = MergeTable.read(spark, pb).orderBy($"id").collect().toSeq
    assert(a === b, "absorbed fold must be bit-equal to fold-then-compact")
    // an absorbed fold still compacts even when a plain fold would have
    // dropped the file count under the threshold (the promise is the
    // cleared row-level state, not the file count)
    val pc = freshPath()
    MergeTable.init(spark, pc, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, pc,
      (1L to 5L).map(i => (i, "new", s"m $i")).toDF("id", "tag", "body"),
      Seq("id"))
    MergeTable.deleteLite(spark, pc, Seq(Tuple1(7L)).toDF("id"), Seq("id"))
    val files0 = MergeTable.snapshot(spark, pc).entries.size
    val rc = maintain(spark, pc, MaintenancePolicy(
      foldAtTombstoneRows = Some(0L),
      compactAtFiles = Some(files0 - 1), compactSortCol = Some("id"),
      compactTargetFiles = Some(1)))
    val snc = MergeTable.snapshot(spark, pc)
    assert(rc.folded.isEmpty && rc.compactedToVersion.isDefined &&
      snc.delta.isEmpty && snc.deletes.isEmpty && snc.entries.size === 1,
      s"got: $rc / $snc")
  }

  test("literal-path writer probes are row-identical to the broadcast path; dup refusal fires driver-side") {
    // The same logical state reached through BOTH probe implementations:
    // one 1200-key deleteLite (past DiscoveryInLimit → broadcast/range
    // path) vs two 600-key calls (literal In path; the second call also
    // exercises the prior-tombstone union and the literal survivor
    // filter over a touched delta). Deletes of disjoint key sets
    // compose, so the two tables must read bit-identically.
    def stage(p: String): Unit = {
      MergeTable.init(spark, p, rows(1 to 2400, "old"))
      MergeTable.mergeLite(spark, p,
        (1100L to 1300L).map(i => (i, "new", s"m $i")).toDF("id", "tag", "body"),
        Seq("id")) // delta overlaps both halves of the delete range
    }
    val pa = freshPath(); stage(pa)
    MergeTable.deleteLite(spark, pa,
      (1L to 1200L).map(Tuple1(_)).toDF("id"), Seq("id"))
    val pb = freshPath(); stage(pb)
    MergeTable.deleteLite(spark, pb,
      (1L to 600L).map(Tuple1(_)).toDF("id"), Seq("id"))
    MergeTable.deleteLite(spark, pb,
      (601L to 1200L).map(Tuple1(_)).toDF("id"), Seq("id"))
    val a = MergeTable.read(spark, pa).orderBy($"id").collect().toSeq
    val b = MergeTable.read(spark, pb).orderBy($"id").collect().toSeq
    assert(a === b, "split literal-path deletes must equal the one broadcast-path delete")
    assert(a.size === 1200 && b.size === 1200)
    // the driver-side uniqueness check carries the aggregate path's
    // exact message (callers pattern-match on it)
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeLite(spark, pb,
        Seq((1500L, "d", "x"), (1500L, "d", "y")).toDF("id", "tag", "body"),
        Seq("id"))
    }
    assert(e.getMessage.contains("must be unique on id"), e.getMessage)
  }

  test("dvlits: the recorded suppression set reads identically to the broadcast anti-join, with no broadcast in the plan") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 100, "old"))
    MergeTable.mergeLite(spark, path, rows(90 to 110, "new"), Seq("id"))
    MergeTable.deleteLite(spark, path, Seq(5L, 95L).toDF("id"), Seq("id"))
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.dvLits.isDefined,
      "small single-key batches must record the manifest literal set")
    assert(snap.dvLits.get.map(_.asInstanceOf[Long]).toSet ===
      ((90L to 110L) ++ Seq(5L)).toSet,
      "the recorded set must be exactly delta keys ∪ tombstone keys")
    val got = MergeTable.read(spark, path)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"a dvlits read must not build a suppression broadcast:\n$plan")
    val rows0 = got.orderBy($"id").collect().toSeq
    assert(rows0.size === 108) // 100 base + 10 inserts − {5, 95}
    // the strongest parity check: strip the dvlits line from the SAME
    // manifest and re-read — the broadcast anti-join over the same
    // files must produce bit-identical rows
    tamperManifest(path)(_.filterNot(_.startsWith("dvlits\t")))
    val viaBroadcast = MergeTable.read(spark, path)
    assert(viaBroadcast.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"),
      "without dvlits the read must fall back to the broadcast anti-join")
    assert(viaBroadcast.orderBy($"id").collect().toSeq === rows0)
    // a clone carries the set (re-commit the stripped state first so
    // the clone source is the broadcast-path table, then re-delete)
    val path2 = freshPath()
    MergeTable.init(spark, path2, rows(1 to 40, "x"))
    MergeTable.deleteLite(spark, path2, Seq(7L).toDF("id"), Seq("id"))
    val dst = freshPath()
    MergeTable.cloneTable(spark, path2, dst)
    val cs = MergeTable.snapshot(spark, dst)
    assert(cs.dvLits.map(_.map(_.asInstanceOf[Long]).toSet) === Some(Set(7L)),
      "cloneTable must carry the recorded literal set")
    assert(!MergeTable.read(spark, dst).queryExecution.executedPlan
      .toString.contains("BroadcastExchange"))
    assert(MergeTable.read(spark, dst).count() === 39)
  }

  test("dvlits: NULL-keyed base rows survive the literal suppression exactly like the anti-join") {
    val path = freshPath()
    val base = Seq[(java.lang.Long, String)](
      (1L, "a"), (null, "n"), (2L, "b")).toDF("id", "tag")
    MergeTable.init(spark, path, base)
    MergeTable.deleteLite(spark, path, Seq(2L).toDF("id"), Seq("id"))
    assert(MergeTable.snapshot(spark, path).dvLits.isDefined)
    val got = MergeTable.read(spark, path).collect()
    assert(got.length === 2, got.mkString(","))
    assert(got.exists(_.isNullAt(0)),
      "the NULL-keyed base row matches no suppression key and must survive")
  }

  test("dvlits: string keys with tabs/newlines and int-typed keys round-trip through the manifest line") {
    val path = freshPath()
    MergeTable.init(spark, path,
      Seq(("a\tb", "x"), ("c\nd", "y"), ("plain", "z")).toDF("k", "v"))
    MergeTable.mergeLite(spark, path, Seq(("a\tb", "x2")).toDF("k", "v"),
      Seq("k"))
    MergeTable.deleteLite(spark, path, Seq("c\nd").toDF("k"), Seq("k"))
    val snap = MergeTable.snapshot(spark, path)
    assert(snap.dvLits.map(_.toSet) === Some(Set[Any]("a\tb", "c\nd")),
      "Jackson-escaped control characters must round-trip, never shear")
    assert(MergeTable.read(spark, path).orderBy($"k").collect().toSeq
      .map(r => (r.getString(0), r.getString(1))) ===
      Seq(("a\tb", "x2"), ("plain", "z")))
    // int-typed key: values re-materialize as Integer, filter exact
    val p2 = freshPath()
    MergeTable.init(spark, p2, (1 to 50).map(i => (i, s"v$i")).toDF("id", "v"))
    MergeTable.deleteLite(spark, p2, Seq(3).toDF("id"), Seq("id"))
    assert(MergeTable.snapshot(spark, p2).dvLits ===
      Some(Seq(java.lang.Integer.valueOf(3))))
    assert(MergeTable.read(spark, p2).count() === 49)
    assert(MergeTable.read(spark, p2).where($"id" === 3).count() === 0)
  }

  test("dvlits: a past-budget union drops the line (broadcast fallback); a fold re-enters the literal regime") {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 2400, "old"))
    MergeTable.mergeLite(spark, path, rows(1 to 600, "m1"), Seq("id"))
    assert(MergeTable.snapshot(spark, path).dvLits.map(_.size) === Some(600))
    MergeTable.mergeLite(spark, path, rows(601 to 1200, "m2"), Seq("id"))
    val over = MergeTable.snapshot(spark, path)
    assert(over.rowLevel && over.dvLits.isEmpty,
      "a 1200-key union is past the point-probe budget — no dvlits line")
    assert(MergeTable.read(spark, path).where($"tag" === "old").count() === 1200)
    MergeTable.foldRowLevel(spark, path)
    MergeTable.mergeLite(spark, path, rows(5 to 10, "m3"), Seq("id"))
    assert(MergeTable.snapshot(spark, path).dvLits.map(_.size) === Some(6),
      "the fold clears the set; the next small batch re-enters the literal regime")
    assert(MergeTable.read(spark, path).where($"tag" === "m3").count() === 6)
  }

  test("dvlits: OCC rebases extend the recorded set with the loser's keys (tip ∪ mine)") {
    // disjoint-key mergeLite rebase: the loser's commit lands on the
    // winner's tip and must record winner ∪ loser keys
    val pa = freshPath()
    MergeTable.init(spark, pa, rows(1 to 100, "a"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.mergeLite(spark, pa, rows(200 to 209, "winner"), Seq("id")); ()
    }
    try MergeTable.mergeLite(spark, pa, rows(300 to 309, "loser"), Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    assert(MergeTable.snapshot(spark, pa).dvLits
      .map(_.map(_.asInstanceOf[Long]).toSet) ===
      Some(((200L to 209L) ++ (300L to 309L)).toSet),
      "the mergeLite rebase must record winner ∪ loser keys")
    assert(!MergeTable.read(spark, pa).queryExecution.executedPlan.toString
      .contains("BroadcastExchange"),
      "the rebased tip must stay on the literal read path")
    assert(MergeTable.read(spark, pa).count() === 120)
    // deleteLite tombstone rebase onto a delta-carrying winner
    val pb = freshPath()
    MergeTable.init(spark, pb, rows(1 to 100, "a"))
    MergeTable.commitRaceHookForTest = () => {
      MergeTable.commitRaceHookForTest = () => ()
      MergeTable.mergeLite(spark, pb, rows(200 to 200, "dv"), Seq("id")); ()
    }
    try MergeTable.deleteLite(spark, pb, Seq(50L).toDF("id"), Seq("id"))
    finally MergeTable.commitRaceHookForTest = () => ()
    assert(MergeTable.snapshot(spark, pb).dvLits
      .map(_.map(_.asInstanceOf[Long]).toSet) === Some(Set(200L, 50L)),
      "the tombstone rebase must record the winner's delta key ∪ mine")
    val g = MergeTable.read(spark, pb)
    assert(g.count() === 100 && g.filter($"id" === 50L).count() === 0)
  }

  test("dvlits: foreign or hand-edited dvlits shapes fail the snapshot read loudly") {
    def staged(): String = {
      val p = freshPath()
      MergeTable.init(spark, p, rows(1 to 50, "a"))
      MergeTable.deleteLite(spark, p, Seq(7L).toDF("id"), Seq("id"))
      p
    }
    // duplicate line
    val pa = staged()
    tamperManifest(pa)(ls => ls ++ ls.filter(_.startsWith("dvlits\t")))
    val ea = intercept[IllegalArgumentException](MergeTable.snapshot(spark, pa))
    assert(ea.getMessage.contains("two dvlits lines"), ea.getMessage)
    // mistyped element (string against a long-typed key)
    val pb = staged()
    tamperManifest(pb)(_.map(l =>
      if (l.startsWith("dvlits\t")) "dvlits\t[\"x\"]" else l))
    val eb = intercept[IllegalArgumentException](MergeTable.snapshot(spark, pb))
    assert(eb.getMessage.contains("dvlits"), eb.getMessage)
    // a dvlits line against a manifest with no row-level state
    val pc = freshPath()
    MergeTable.init(spark, pc, rows(1 to 10, "a"))
    tamperManifest(pc)(_ :+ "dvlits\t[1]")
    val ec = intercept[IllegalArgumentException](MergeTable.snapshot(spark, pc))
    assert(ec.getMessage.contains("no row-level"), ec.getMessage)
  }
}
