package graft

import graft.sources.MergeTable

/** `MergeTable.applyChanges` against its two-writer reference: one call
  * with upserts `u` and deletes `d` must read the same as `mergeLite(u)`
  * followed by `deleteLite(d)` from every row-level state the writer
  * branches on, and must land as ONE manifest version. */
class RowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("row_level").toString + "/t"

  private def rows(ids: Seq[Int], tag: String) =
    ids.map(i => (i.toLong, tag, s"payload $i $tag")).toDF("id", "tag", "body")

  private def keys(ids: Seq[Int]) = ids.map(_.toLong).toDF("id")

  private def sorted(path: String) =
    MergeTable.read(spark, path).orderBy("id").collect().toSeq

  /** Part files on disk that the tip does not reference. */
  private def orphanParts(path: String): Set[String] = {
    val snap = MergeTable.snapshot(spark, path)
    val refd = snap.allFiles.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    new java.io.File(path, "data").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet -- refd
  }

  private def base(path: String): Unit = {
    MergeTable.init(spark, path, rows(1 to 200, "base"))
    MergeTable.compactTable(spark, path, "id", 4)
  }

  /** Stages the same state on two tables, then applies (u, d) as one
    * call on the first and as mergeLite + deleteLite on the second.
    * Returns both paths. */
  private def differential(
      what: String, stage: String => Unit, u: Seq[Int], d: Seq[Int],
      maxDeltaRows: Long = MergeTable.DefaultMaxDeltaRows): (String, String) = {
    val one = freshPath()
    val two = freshPath()
    stage(one)
    stage(two)
    val v0 = MergeTable.snapshot(spark, one).version
    val st = MergeTable.applyChanges(spark, one, Some(rows(u, "u")),
      Some(keys(d)), Seq("id"), maxDeltaRows = maxDeltaRows)
    assert(st.version === v0 + 1 &&
      MergeTable.snapshot(spark, one).version === v0 + 1,
      s"$what: one call must add exactly one manifest version")
    assert(st.rowsUpserted === u.size.toLong)
    MergeTable.mergeLite(spark, two, rows(u, "u"), Seq("id"),
      maxDeltaRows = maxDeltaRows)
    MergeTable.deleteLite(spark, two, keys(d), Seq("id"),
      maxDeltaRows = maxDeltaRows)
    assert(sorted(one) === sorted(two),
      s"$what: one commit must read as mergeLite followed by deleteLite")
    (one, two)
  }

  test("applyChanges reads as mergeLite then deleteLite on a clean table") {
    // upserts replace 50 base rows and insert 50; deletes hit base rows
    // and one absent key
    val (one, two) = differential("clean", base, 151 to 250, (10 to 20) :+ 900)
    assert(MergeTable.read(spark, one).count() === 239)
    val s1 = MergeTable.snapshot(spark, one)
    val s2 = MergeTable.snapshot(spark, two)
    assert(s1.delta.nonEmpty && s1.deletes.size === 1)
    assert(s1.dvLits.map(_.toSet) === s2.dvLits.map(_.toSet),
      "the recorded suppression literals are prev ∪ upserts ∪ deletes")
    assert(s1.dvFiles.isDefined, "a literal key set scopes the commit")
  }

  test("applyChanges appends onto an existing delta it does not touch") {
    def stage(p: String): Unit = {
      base(p)
      MergeTable.mergeLite(spark, p, rows(300 to 320, "d0"), Seq("id"))
    }
    val (one, _) = differential("append", stage, 400 to 420, 5 to 8)
    assert(MergeTable.snapshot(spark, one).delta.size === 2,
      "the untouched delta is carried and the upserts append")
    // the prior delta files are carried by reference, not re-written
    val prior = MergeTable.snapshot(spark, one).delta.map(_.path).toSet
    val st = MergeTable.applyChanges(spark, one, Some(rows(500 to 505, "a")),
      Some(keys(Seq(30))), Seq("id"))
    assert(st.filesRewritten === 1, "only the one tombstone file re-writes")
    assert(prior.subsetOf(MergeTable.snapshot(spark, one).delta.map(_.path).toSet))
  }

  test("applyChanges combines when its upserts overlap the delta") {
    def stage(p: String): Unit = {
      base(p)
      MergeTable.mergeLite(spark, p, rows(300 to 320, "d0"), Seq("id"))
    }
    val (one, _) = differential("combine", stage, 310 to 330, 1 to 3)
    val g = MergeTable.read(spark, one)
    assert(g.filter($"tag" === "d0").count() === 10) // 300..309
    assert(g.groupBy("id").count().filter($"count" > 1).isEmpty)
  }

  test("applyChanges deleting delta keys and re-inserting tombstoned keys") {
    def stage(p: String): Unit = {
      base(p)
      MergeTable.mergeLite(spark, p, rows(300 to 320, "d0"), Seq("id"))
      MergeTable.deleteLite(spark, p, keys(5 to 7), Seq("id"))
    }
    // upserts re-insert tombstoned 5 and add 400..405; deletes remove
    // delta keys 300..305 and re-delete the tombstoned 6
    val (one, _) = differential("delta delete", stage,
      5 +: (400 to 405), (300 to 305) :+ 6)
    val g = MergeTable.read(spark, one)
    assert(g.filter($"id" === 5L).select("tag").as[String].collect().toSeq === Seq("u"))
    assert(g.filter($"id".isin(6L, 7L, 300L, 305L)).isEmpty)
    val s = MergeTable.snapshot(spark, one)
    assert(s.deletes.size === 1, "the tombstones stay one key-only file")
    assert(MergeTable.rowLevelPressure(spark, one).tombstoneRows === 8L,
      "tombstones 6, 7 and 300..305: the re-inserted 5 left, the re-deleted 6 is not doubled")
  }

  test("applyChanges folds past the budget, probed or not") {
    def stage(p: String): Unit = {
      base(p)
      MergeTable.mergeLite(spark, p, rows(300 to 320, "d0"), Seq("id"))
      MergeTable.deleteLite(spark, p, keys(1 to 4), Seq("id"))
    }
    // probed: 21 − 11 + 31 delta rows + 4 + 11 tombstones > 40
    val (one, _) = differential("fold", stage, 310 to 340, 10 to 20, maxDeltaRows = 40)
    assert(!MergeTable.snapshot(spark, one).rowLevel, "a past-budget call folds DV-free")
    assert(MergeTable.read(spark, one).count() === 200 - 4 - 11 + 21 + 20)
    // not probed: the call alone (50 + 10 keys) is past the budget
    val (two, _) = differential("fold unprobed", stage, 300 to 349, 100 to 109,
      maxDeltaRows = 30)
    assert(!MergeTable.snapshot(spark, two).rowLevel)
    // deletes only, of absent keys past the budget: a clean manifest
    val p = freshPath()
    base(p)
    MergeTable.applyChanges(spark, p, None, Some(keys(900 to 920)), Seq("id"),
      maxDeltaRows = 4)
    assert(!MergeTable.snapshot(spark, p).rowLevel)
    assert(MergeTable.read(spark, p).count() === 200)
  }

  test("applyChanges under a forced OCC race: a disjoint mixed batch rebases in one round; an overlapping one serializes") {
    def raced(p: String, winner: String => Unit)(call: => Unit): Unit = {
      MergeTable.commitRaceHookForTest = () => {
        MergeTable.commitRaceHookForTest = () => ()
        winner(p)
      }
      try call finally MergeTable.commitRaceHookForTest = () => ()
    }
    val winner = (p: String) => {
      MergeTable.mergeLite(spark, p, rows(500 to 505, "winner"), Seq("id")); ()
    }
    val one = freshPath()
    base(one)
    val v0 = MergeTable.snapshot(spark, one).version
    val compacted = orphanParts(one) // the files compaction replaced
    raced(one, winner) {
      val st = MergeTable.applyChanges(spark, one, Some(rows(400 to 410, "u")),
        Some(keys(10 to 12)), Seq("id"))
      assert(st.version === v0 + 2, s"the loser rebases right after the winner: $st")
    }
    val two = freshPath()
    base(two)
    winner(two)
    MergeTable.mergeLite(spark, two, rows(400 to 410, "u"), Seq("id"))
    MergeTable.deleteLite(spark, two, keys(10 to 12), Seq("id"))
    assert(sorted(one) === sorted(two))
    val s = MergeTable.snapshot(spark, one)
    assert(s.delta.size === 2 && s.deletes.size === 1,
      "the winner's delta, my delta files and my tombstone file compose")
    assert(orphanParts(one) === compacted,
      "the rebase reuses the delta and tombstone files the lost commit wrote")
    assert(s.dvLits.map(_.toSet) === Some(
      ((500L to 505L) ++ (400L to 410L) ++ (10L to 12L)).toSet[Any]))
    // a winner tombstoning a key the loser upserts: the rebase refuses,
    // the whole call re-runs on the new tip and its upsert is newest
    val three = freshPath()
    base(three)
    raced(three, p => { MergeTable.deleteLite(spark, p, keys(Seq(405)), Seq("id")); () }) {
      MergeTable.applyChanges(spark, three, Some(rows(400 to 410, "u")),
        Some(keys(10 to 12)), Seq("id"))
    }
    val g = MergeTable.read(spark, three)
    assert(g.filter($"id" === 405L).select("tag").as[String].collect().toSeq === Seq("u"))
    assert(g.filter($"id".isin(10L, 11L, 12L)).isEmpty)
    assert(g.count() === 200 - 3 + 11)
    assert(MergeTable.rowLevelPressure(spark, three).tombstoneRows === 3L,
      "the re-inserted 405 left the winner's tombstones")
  }

  test("applyChanges refuses a key on both sides, in both key forms, before writing anything") {
    val p = freshPath()
    base(p)
    val v0 = MergeTable.snapshot(spark, p).version
    // literal form: the check is a driver-side set intersection, so the
    // refused call runs only the upsert checkpoint and the one collect
    var e: IllegalArgumentException = null
    val jobs = JobCount.of(spark) {
      e = intercept[IllegalArgumentException] {
        MergeTable.applyChanges(spark, p, Some(rows(1 to 3, "u")),
          Some(keys(3 to 4)), Seq("id"))
      }
    }
    assert(e.getMessage.contains("both upserted and deleted"), e.getMessage)
    assert(jobs <= 2, s"the literal both-sides check launched $jobs jobs")
    // broadcast form: the check rides the validation aggregate
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.applyChanges(spark, p, Some(rows(1 to 1200, "u")),
        Some(keys(1200 to 1300)), Seq("id"))
    }
    assert(e2.getMessage.contains("both upserted and deleted"), e2.getMessage)
    // duplicate upserts keep their own message in the broadcast form
    val e3 = intercept[IllegalArgumentException] {
      MergeTable.applyChanges(spark, p,
        Some(rows(1 to 1200, "u").unionByName(rows(Seq(7), "dup"))),
        Some(keys(1300 to 1310)), Seq("id"))
    }
    assert(e3.getMessage.contains("must be unique on id"), e3.getMessage)
    // duplicate delete keys collapse; NULL keys on either side refuse
    MergeTable.applyChanges(spark, p, None, Some(keys(Seq(8, 8, 9))), Seq("id"))
    assert(MergeTable.read(spark, p).count() === 198)
    intercept[IllegalArgumentException] {
      MergeTable.applyChanges(spark, p, Some(rows(Seq(1), "u")),
        Some(Seq[java.lang.Long](50L, null).toDF("id")), Seq("id"))
    }
    assert(MergeTable.snapshot(spark, p).version === v0 + 1,
      "only the one valid call committed")
  }

  test("merge is the row-level writer under a zero budget: a zero-row merge folds row-level state") {
    val path = freshPath()
    base(path)
    MergeTable.mergeLite(spark, path, rows(101 to 150, "d"), Seq("id"))
    MergeTable.deleteLite(spark, path, keys(1 to 10), Seq("id"))
    val want = sorted(path)
    val v = MergeTable.snapshot(spark, path).version
    val st = MergeTable.merge(spark, path, rows(Nil, "z"), Seq("id"))
    val snap = MergeTable.snapshot(spark, path)
    assert(st.version === v + 1 && snap.version === v + 1)
    assert(st.rowsUpserted === 0L)
    assert(!snap.rowLevel && snap.dvFiles.isEmpty && snap.dvLits.isEmpty,
      "the zero-row merge must leave a DV-free manifest")
    assert(sorted(path) === want)
    // and on the DV-free result it is a no-op that commits nothing
    assert(MergeTable.merge(spark, path, rows(Nil, "z"), Seq("id")).version === v + 1)
    assert(MergeTable.snapshot(spark, path).version === v + 1)
  }

  test("a zero-row merge over tombstones that suppress nothing commits a DV-free manifest") {
    val path = freshPath()
    base(path)
    MergeTable.deleteLite(spark, path, keys(900 to 902), Seq("id")) // absent keys
    val want = sorted(path)
    val v = MergeTable.snapshot(spark, path).version
    val st = MergeTable.merge(spark, path, rows(Nil, "z"), Seq("id"))
    val snap = MergeTable.snapshot(spark, path)
    assert(st.version === v + 1 && snap.version === v + 1,
      s"the inert tombstones must be cleared by one commit: $st")
    assert(!snap.rowLevel && snap.dvFiles.isEmpty && snap.dvLits.isEmpty,
      "the zero-row merge must leave a DV-free manifest")
    assert(sorted(path) === want)
  }

  test("deleteWhere on a row-level table folds and deletes in one version; no version holds the fold alone") {
    // matches delta rows by key (140..150) and by a non-key column (tag
    // d, ids < 105), and base rows 151..160; the base rows the matched
    // delta rows superseded must stay dropped
    val cond = $"id".between(140, 160) || ($"tag" === "d" && $"id" < 105)
    val stages = Seq[(String, String => Unit)](
      "delta" -> (p => {
        MergeTable.mergeLite(spark, p, rows(101 to 150, "d"), Seq("id")); ()
      }),
      "delta and tombstones" -> (p => {
        MergeTable.mergeLite(spark, p, rows(101 to 150, "d"), Seq("id"))
        MergeTable.deleteLite(spark, p, keys(1 to 10), Seq("id")); ()
      }))
    for ((what, stage) <- stages) {
      val path = freshPath()
      base(path)
      stage(path)
      val v = MergeTable.snapshot(spark, path).version
      val want = MergeTable.read(spark, path).filter(!cond).orderBy("id").collect().toSeq
      val st = MergeTable.deleteWhere(spark, path, cond)
      val snap = MergeTable.snapshot(spark, path)
      assert(st.version === v + 1 && snap.version === v + 1,
        s"$what: deleteWhere must add exactly one version")
      assert(MergeTable.versions(spark, path).filter(_ > v) === Seq(v + 1),
        s"$what: no retained version may hold the folded-but-undeleted state")
      assert(!snap.rowLevel, s"$what: the version is DV-free")
      assert(sorted(path) === want, s"$what: rows")
      assert(MergeTable.read(spark, path).filter($"id".between(101, 104) ||
        $"id".between(140, 160)).count() === 0,
        s"$what: a dropped delta row must not resurrect its base row")
    }
  }

  test("deleteWhere has no discovery, rewrite or commit of its own: one coalesce(hit.size) in sources/") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    def code(f: java.nio.file.Path): Seq[String] =
      Files.readAllLines(f).asScala.toSeq.filterNot(isComment)
    val files = {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val needle = "coalesce(hit" + ".size)"
    assert(files.flatMap(code).count(_.contains(needle)) === 1,
      s"$needle must appear once: the fold's rewrite")
    // deleteWhere's lines: from its def to the next object member
    val member = """\b(?:def|val|var|class|object)\s+(\w+)""".r
    var owner = "<top>"
    val body = code(dir.resolve("MergeTable.scala")).filter { l =>
      if (l.startsWith("  ") && !l.startsWith("   "))
        member.findFirstMatchIn(l).foreach(m => owner = m.group(1))
      owner == "deleteWhere"
    }
    assert(body.nonEmpty, "deleteWhere not found in MergeTable.scala")
    for (n <- Seq("writeBatch" + "(", "commit" + "(", "input_file_name" + "("))
      assert(!body.exists(_.contains(n)), s"deleteWhere calls $n itself:\n${body.mkString("\n")}")
  }

  test("merge never meets the row-level writer's dvkeys-line and delta-file-cap refusals") {
    // a key name the manifest's dvkeys line cannot store: the row-level
    // writers refuse it up front; merge, which never commits row-level
    // state, keys by it as it always has
    val path = freshPath()
    def kv(ids: Seq[Int], tag: String) =
      ids.map(i => (i.toLong, s"$tag$i")).toDF("k,1", "v")
    MergeTable.init(spark, path, kv(1 to 20, "a"))
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeLite(spark, path, kv(1 to 2, "b"), Seq("k,1"))
    }
    assert(e.getMessage.contains("dvkeys"), e.getMessage)
    val st = MergeTable.merge(spark, path, kv(15 to 25, "c"), Seq("k,1"))
    assert(st.rowsUpserted === 11L)
    assert(MergeTable.read(spark, path).count() === 25)
    assert(MergeTable.read(spark, path).filter($"v".startsWith("c")).count() === 11)
    // the delta-file cap is a mergeLite option; merge has none to refuse
    val p2 = freshPath()
    base(p2)
    intercept[IllegalArgumentException] {
      MergeTable.mergeLite(spark, p2, rows(1 to 2, "l"), Seq("id"), maxDeltaFiles = 0)
    }
    MergeTable.merge(spark, p2, rows(1 to 2, "m"), Seq("id"))
    assert(MergeTable.read(spark, p2).filter($"tag" === "m").count() === 2)
  }

  test("rewriteMerge has one call site in the main code: the row-level writer's fold") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val needle = "rewriteMerge" + "("
    val dir = Paths.get("src/main/scala")
    assert(Files.isDirectory(dir), s"src/main/scala not found from ${Paths.get("").toAbsolutePath}")
    val files = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val sites = files.flatMap { p =>
      Files.readAllLines(p).asScala.filter(l =>
        !isComment(l) && l.contains(needle) && !l.contains("def " + needle))
        .map(_ => p.toString)
    }
    assert(sites === Seq("src/main/scala/graft/sources/RowLevel.scala"))
  }
}
