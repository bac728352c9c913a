package graft

import graft.sources.MergeTable

/** Spark-job ceilings of the MergeTable writers and the row-level read,
  * on both sides of the 1000-key literal budget. Each count runs under
  * its own job group and the listener counts only that group's jobs,
  * so jobs another suite leaves running cannot leak in. The ceilings
  * are the counts the writers launched before their key handling moved
  * into one `KeySet`, lowered where the one row-level writer
  * (`RowLevel`) launches fewer; a refactor may lower them, never raise
  * them. The `applyChanges` and CDC micro-batch ceilings sit below
  * what the same changes cost as a mergeLite plus a deleteLite (16 and
  * 17 jobs; 19 for the micro-batch). The ceilings of the row-level
  * folds (`merge` onto row-level state, `foldRowLevel`, and
  * `deleteWhere` on a row-level table) are the counts measured while
  * each of the three built its own fold (merge 9 and 10, foldRowLevel
  * 6 and 7, deleteWhere 7 and 7), lowered where the one fold
  * launches fewer; deleteWhere's once its predicate rode that fold
  * (6 and 6 while it folded first and rewrote after). The CDC
  * micro-batch and the past-budget `merge`, `deleteLite` and
  * `applyChanges` ceilings are the counts measured once a batch's keys
  * past the literal budget were held on the driver as one membership
  * set and a CDC batch's winners materialized once (10, 13, 10 and 10
  * before). */
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
    assertCeiling("merge 1200 keys", 5) {
      MergeTable.merge(spark, p1200, rows(2401 to 3600, "new"), Seq("id"))
    }
    assert(MergeTable.read(spark, p600).count() === 3300)
    assert(MergeTable.read(spark, p1200).count() === 3600)
  }

  test("mergeLite: job ceilings for append, combine and past-budget fold") {
    val path = rowLevelTable()
    assertCeiling("mergeLite append (100 disjoint keys)", 6) {
      MergeTable.mergeLite(spark, path, rows(201 to 300, "a"), Seq("id"))
    }
    assertCeiling("mergeLite combine (100 keys, 50 in the delta)", 6) {
      MergeTable.mergeLite(spark, path, rows(251 to 350, "c"), Seq("id"))
    }
    // delta now holds 250 keys: 101 more past a 300-row budget folds
    assertCeiling("mergeLite past-budget fold", 8) {
      MergeTable.mergeLite(spark, path, rows(400 to 500, "f"), Seq("id"),
        maxDeltaRows = 300)
    }
    assert(!MergeTable.snapshot(spark, path).rowLevel)
    assert(MergeTable.read(spark, path).count() === 3000)
    val big = rowLevelTable()
    assertCeiling("mergeLite append (1200 disjoint keys)", 8) {
      MergeTable.mergeLite(spark, big, rows(1001 to 2200, "a"), Seq("id"))
    }
    assert(MergeTable.read(spark, big).count() === 3000)
  }

  test("deleteLite: job ceilings at 600 (literal) and 1200 (broadcast) keys") {
    val p600 = rowLevelTable()
    assertCeiling("deleteLite 600 keys", 6) {
      MergeTable.deleteLite(spark, p600, keys(51 to 650), Seq("id"))
    }
    val p1200 = rowLevelTable()
    assertCeiling("deleteLite 1200 keys", 4) {
      MergeTable.deleteLite(spark, p1200, keys(51 to 1250), Seq("id"))
    }
    assert(MergeTable.read(spark, p600).count() === 2400)
    assert(MergeTable.read(spark, p1200).count() === 1800)
  }

  test("applyChanges: job ceilings at 200 (literal) and 1800 (broadcast) keys, below mergeLite + deleteLite") {
    val lit = rowLevelTable()
    assertCeiling("applyChanges 100 upserts + 100 deletes, 50 in the delta", 7) {
      MergeTable.applyChanges(spark, lit, Some(rows(201 to 300, "u")),
        Some(keys(51 to 150)), Seq("id"))
    }
    val big = rowLevelTable()
    assertCeiling("applyChanges 1200 upserts + 600 deletes", 5) {
      MergeTable.applyChanges(spark, big, Some(rows(1001 to 2200, "u")),
        Some(keys(51 to 650)), Seq("id"))
    }
    assert(MergeTable.read(spark, lit).count() === 2900)
    assert(MergeTable.read(spark, big).count() === 2400)
  }

  test("one CDC micro-batch: job ceiling below the routed two-writer batch") {
    import graft.streaming.{CdcOp, JobProcessor}
    def op(i: Int, seq: Long, kind: String) =
      CdcOp(f"k$i%05d", seq, kind, if (kind == "D") null else s"p$i-$seq")
    val path = freshPath()
    MergeTable.init(spark, path, (1 to 3000).map(op(_, 1, "U")).toDF().drop("op"),
      bloomKeys = Seq("key"))
    JobProcessor.applyCdcBatch(spark, (1 to 100).map(op(_, 2, "U")).toDF(),
      path, Seq("key"), "seq", "op", "D")
    // 270 upserts past the delta, 30 deletes of which 20 hit the delta
    val batch = ((101 to 370).map(op(_, 3, "U")) ++
      (81 to 100).map(op(_, 3, "D")) ++ (601 to 610).map(op(_, 3, "D"))).toDF()
    assertCeiling("applyCdcBatch 270 upserts + 30 deletes", 7) {
      JobProcessor.applyCdcBatch(spark, batch, path, Seq("key"), "seq", "op", "D")
    }
    assert(MergeTable.read(spark, path).count() === 2970)
  }

  /** [[rowLevelTable]] plus 50 tombstones on base rows (ids 201..250). */
  private def tombstonedTable(): String = {
    val path = rowLevelTable()
    MergeTable.deleteLite(spark, path, keys(201 to 250), Seq("id"))
    path
  }

  test("merge onto row-level state: job ceilings with and without tombstones") {
    val plain = rowLevelTable()
    assertCeiling("merge 100 keys onto a delta (50 in it)", 9) {
      MergeTable.merge(spark, plain, rows(51 to 150, "m"), Seq("id"))
    }
    val tombs = tombstonedTable()
    assertCeiling("merge 100 keys onto a delta and tombstones", 10) {
      MergeTable.merge(spark, tombs, rows(51 to 150, "m"), Seq("id"))
    }
    for ((p, n) <- Seq(plain -> 3000, tombs -> 2950)) {
      assert(!MergeTable.snapshot(spark, p).rowLevel)
      assert(MergeTable.read(spark, p).count() === n)
    }
  }

  test("foldRowLevel: job ceilings with and without tombstones") {
    val plain = rowLevelTable()
    assertCeiling("foldRowLevel of a delta", 3) {
      MergeTable.foldRowLevel(spark, plain)
    }
    val tombs = tombstonedTable()
    assertCeiling("foldRowLevel of a delta and tombstones", 3) {
      MergeTable.foldRowLevel(spark, tombs)
    }
    for ((p, n) <- Seq(plain -> 3000, tombs -> 2950)) {
      assert(!MergeTable.snapshot(spark, p).rowLevel)
      assert(MergeTable.read(spark, p).count() === n)
    }
  }

  test("deleteWhere on a row-level table: job ceilings with and without tombstones") {
    import org.apache.spark.sql.functions.col
    val plain = rowLevelTable()
    assertCeiling("deleteWhere folding a delta", 5) {
      MergeTable.deleteWhere(spark, plain, col("id").between(2001, 2100))
    }
    val tombs = tombstonedTable()
    assertCeiling("deleteWhere folding a delta and tombstones", 5) {
      MergeTable.deleteWhere(spark, tombs, col("id").between(2001, 2100))
    }
    for ((p, n) <- Seq(plain -> 2900, tombs -> 2850)) {
      assert(!MergeTable.snapshot(spark, p).rowLevel)
      assert(MergeTable.read(spark, p).count() === n)
    }
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
    assertCeiling("read without dvlits", 2) {
      MergeTable.read(spark, bcast).collect()
    }
  }
}
