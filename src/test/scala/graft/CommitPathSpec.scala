package graft

import graft.sources.{Manifests, MergeTable}
import org.apache.hadoop.fs.Path

/** The one commit path of `MergeTable`: every writer claims its version
  * through one `commit`, retries through one OCC loop (`transact`) and
  * reconciles appends through one rebase, so a writer that loses every
  * race fails the same loud way and leaves the tip as the winners made
  * it. */
class CommitPathSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("commit_path").toString + "/t"

  private def rows(ids: Seq[Int], tag: String) =
    ids.map(i => (i.toLong, tag, s"payload $i $tag")).toDF("id", "tag", "body")

  private def keys(ids: Seq[Int]) = ids.map(_.toLong).toDF("id")

  private def sorted(path: String) =
    MergeTable.read(spark, path).orderBy("id").collect().toSeq

  /** Runs `call`, expecting CommitConflict, while every claim it makes
    * loses: just before each one a concurrent writer publishes a copy of
    * the tip as the next version. Returns the conflict and the number of
    * claims the call made. */
  private def losingEvery(path: String)(call: => Any): (MergeTable.CommitConflict, Int) = {
    val dir = new Path(new Path(path), "_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var claims = 0
    MergeTable.commitRaceHookForTest = () => {
      claims += 1
      val v = Manifests.latestVersion(fs, dir).get
      Manifests.commit(fs, dir, v + 1, Manifests.read(fs, dir, v))
    }
    val e =
      try intercept[MergeTable.CommitConflict](call)
      finally MergeTable.commitRaceHookForTest = () => ()
    (e, claims)
  }

  test("every writer family that loses every attempt throws CommitConflict after its attempts, leaving none of its state in the tip") {
    val attempts = MergeTable.CommitAttempts
    // an append re-validates and re-claims on each winner's tip before
    // its attempt is re-run whole
    val appendClaims = attempts * (1 + MergeTable.RebaseAttempts)
    def check(what: String, claims: Int, stage: String => Unit)(call: String => Any): Unit = {
      val p = freshPath()
      MergeTable.init(spark, p, rows(1 to 100, "base"))
      stage(p)
      val before = MergeTable.snapshot(spark, p)
      val want = sorted(p)
      val (e, n) = losingEvery(p)(call(p))
      assert(e.getMessage.startsWith(s"$what at "), e.getMessage)
      assert(n === claims, s"$what: claims made before the conflict")
      val tip = MergeTable.snapshot(spark, p)
      assert(tip.version === before.version + claims,
        s"$what: each lost claim is one winner's version")
      assert(tip.copy(version = before.version) === before,
        s"$what: the tip must hold none of the loser's state")
      assert(sorted(p) === want, s"$what: the tip reads as before the call")
    }
    val dvFree = (_: String) => ()
    val rowLevel = (p: String) => {
      MergeTable.mergeLite(spark, p, rows(200 to 204, "d"), Seq("id"))
      MergeTable.deleteLite(spark, p, keys(10 to 12), Seq("id")); ()
    }
    // past the 1000-key point-probe budget: the delta commits unscoped
    val unscoped = (p: String) => {
      MergeTable.mergeLite(spark, p, rows(1001 to 2200, "d"), Seq("id")); ()
    }

    check("applyChanges", appendClaims, rowLevel)(p => MergeTable.applyChanges(
      spark, p, Some(rows(300 to 304, "u")), Some(keys(20 to 21)), Seq("id")))
    check("applyChanges", attempts, rowLevel)(p => MergeTable.applyChanges(
      spark, p, Some(rows(200 to 201, "u")), None, Seq("id"))) // rewrites the delta
    check("merge", appendClaims, dvFree)(p =>
      MergeTable.merge(spark, p, rows(500 to 502, "m"), Seq("id"))) // insert-only
    check("merge", attempts, dvFree)(p =>
      MergeTable.merge(spark, p, rows(1 to 3, "m"), Seq("id")))
    check("merge", attempts, rowLevel)(p =>
      MergeTable.merge(spark, p, rows(Nil, "m"), Seq("id"))) // folds
    check("foldRowLevel", attempts, rowLevel)(MergeTable.foldRowLevel(spark, _))
    check("renameColumn", attempts, rowLevel)(
      MergeTable.renameColumn(spark, _, "body", "content"))
    check("dropColumn", attempts, rowLevel)(MergeTable.dropColumn(spark, _, "body"))
    check("rescopeDelta", attempts, unscoped)(MergeTable.rescopeDelta(spark, _))
    check("deleteWhere", attempts, dvFree)(
      MergeTable.deleteWhere(spark, _, $"id" <= 5L))
    check("deleteWhere", attempts, rowLevel)(
      MergeTable.deleteWhere(spark, _, $"id" <= 5L)) // folds and deletes in one claim
    check("compactTable", 1, rowLevel)(MergeTable.compactTable(spark, _, "id", 2))
    check("compactTableZOrder", 1, dvFree)(
      MergeTable.compactTableZOrder(spark, _, Seq("id"), 2))
  }

  test("one commit path: the manifest is claimed by one commit, retried by one OCC loop, rebased by one rebase") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(dir), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val member = """\b(?:def|val|var|class|object)\s+(\w+)""".r
    // each code line with the object member (two-space indent) it is in
    val owned: Seq[(String, String)] =
      Seq("MergeTable.scala", "RowLevel.scala").flatMap { f =>
        var owner = "<top>"
        Files.readAllLines(dir.resolve(f)).asScala.toSeq.filterNot(isComment).map { l =>
          if (l.startsWith("  ") && !l.startsWith("   "))
            member.findFirstMatchIn(l).foreach(m => owner = m.group(1))
          owner -> l
        }
      }
    def owners(needle: String): Set[String] =
      owned.collect { case (o, l) if l.contains(needle) &&
        !l.trim.startsWith("import ") && !l.contains("def " + needle) => o }.toSet
    // a lost claim is handled only on the commit path; the bloom
    // config's own exclusive publication keeps its agree-or-refuse catch
    assert(owners("FileAlreadyExistsException") - "writeBloomProps" ===
      Set("transact", "commitOrRebase"))
    assert(owners("new CommitConflict(") === Set("transact"))
    assert(owners("Manifests.commit(") === Set("commit"))
    assert(owners("encodeSnapshot(") === Set("commit", "encodeSnapshotForTest"))
  }
}
