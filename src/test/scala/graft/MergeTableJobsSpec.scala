package graft

import graft.sources.MergeTable

/** Spark-job ceilings of the MergeTable writers and the row-level read,
  * on both sides of the 1000-key literal budget. Each count runs under
  * its own job group and the listener counts only that group's jobs,
  * so jobs another suite leaves running cannot leak in. The ceilings
  * are the counts the writers launched before their key handling moved
  * into one `KeySet`; a refactor may lower them, never raise them. */
class MergeTableJobsSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("merge_jobs").toString + "/t"

  private def rows(ids: Range, tag: String) =
    ids.map(i => (i.toLong, tag, s"payload $i")).toDF("id", "tag", "body")

  private def keys(ids: Range) = ids.map(_.toLong).toDF("id")

  private def assertCeiling(what: String, ceiling: Int)(body: => Unit): Unit = {
    val n = JobCount.of(spark)(body)
    info(s"$what: $n jobs (ceiling $ceiling)")
    assert(n <= ceiling, s"$what launched $n Spark jobs, ceiling $ceiling")
  }

  /** A 3000-row table with a 100-key mergeLite delta (ids 1..100). */
  private def rowLevelTable(): String = {
    val path = freshPath()
    MergeTable.init(spark, path, rows(1 to 3000, "base"))
    MergeTable.mergeLite(spark, path, rows(1 to 100, "d0"), Seq("id"))
    path
  }

  test("merge: job ceilings at 600 (literal) and 1200 (broadcast) keys") {
    val p600 = freshPath()
    MergeTable.init(spark, p600, rows(1 to 3000, "base"))
    assertCeiling("merge 600 keys", 7) {
      MergeTable.merge(spark, p600, rows(2701 to 3300, "new"), Seq("id"))
    }
    val p1200 = freshPath()
    MergeTable.init(spark, p1200, rows(1 to 3000, "base"))
    assertCeiling("merge 1200 keys", 14) {
      MergeTable.merge(spark, p1200, rows(2401 to 3600, "new"), Seq("id"))
    }
    assert(MergeTable.read(spark, p600).count() === 3300)
    assert(MergeTable.read(spark, p1200).count() === 3600)
  }

  test("mergeLite: job ceilings for append, combine and past-budget fold") {
    val path = rowLevelTable()
    assertCeiling("mergeLite append (100 disjoint keys)", 7) {
      MergeTable.mergeLite(spark, path, rows(201 to 300, "a"), Seq("id"))
    }
    assertCeiling("mergeLite combine (100 keys, 50 in the delta)", 8) {
      MergeTable.mergeLite(spark, path, rows(251 to 350, "c"), Seq("id"))
    }
    // delta now holds 250 keys: 101 more past a 300-row budget folds
    assertCeiling("mergeLite past-budget fold", 10) {
      MergeTable.mergeLite(spark, path, rows(400 to 500, "f"), Seq("id"),
        maxDeltaRows = 300)
    }
    assert(!MergeTable.snapshot(spark, path).rowLevel)
    assert(MergeTable.read(spark, path).count() === 3000)
    val big = rowLevelTable()
    assertCeiling("mergeLite append (1200 disjoint keys)", 9) {
      MergeTable.mergeLite(spark, big, rows(1001 to 2200, "a"), Seq("id"))
    }
    assert(MergeTable.read(spark, big).count() === 3000)
  }

  test("deleteLite: job ceilings at 600 (literal) and 1200 (broadcast) keys") {
    val p600 = rowLevelTable()
    assertCeiling("deleteLite 600 keys", 9) {
      MergeTable.deleteLite(spark, p600, keys(51 to 650), Seq("id"))
    }
    val p1200 = rowLevelTable()
    assertCeiling("deleteLite 1200 keys", 12) {
      MergeTable.deleteLite(spark, p1200, keys(51 to 1250), Seq("id"))
    }
    assert(MergeTable.read(spark, p600).count() === 2400)
    assert(MergeTable.read(spark, p1200).count() === 1800)
  }

  test("row-level read: job ceilings with and without the dvlits line") {
    val lits = rowLevelTable()
    assert(MergeTable.snapshot(spark, lits).dvLits.isDefined)
    assertCeiling("read with dvlits", 1) {
      MergeTable.read(spark, lits).collect()
    }
    val bcast = rowLevelTable()
    MergeTable.mergeLite(spark, bcast, rows(1001 to 2200, "a"), Seq("id"))
    assert(MergeTable.snapshot(spark, bcast).dvLits.isEmpty)
    assertCeiling("read without dvlits", 3) {
      MergeTable.read(spark, bcast).collect()
    }
  }
}
