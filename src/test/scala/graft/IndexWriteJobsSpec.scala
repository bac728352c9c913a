package graft

import org.apache.spark.sql.functions.col

import graft.operators.{DedupIndex, ImageDedupIndex, LexicalIndex, SemanticIndex}
import graft.sources.{CompositeIndex, MergeTable}

/** Spark-job and manifest-version ceilings of the index components'
  * incremental writes, in the `MergeTableJobsSpec` style: each write
  * runs under its own job group, and every component table it touches
  * is checked for the versions the write added to it. The ceilings are
  * the counts measured while each component's "delete these rows, put
  * these in their place" committed as a deleteWhere followed by a
  * merge (LexicalIndex.upsert 30 jobs, delete 20, DedupIndex.upsert 26,
  * SemanticIndex.upsert 11, ImageDedupIndex.upsert 17; two versions on
  * the component holding the pair), lowered to the counts of one merge
  * with a predicate side: one version per component. A refactor may
  * lower a ceiling, never raise it. Each line
  * also reports the bytes of the data files the write added to each
  * component. */
class IndexWriteJobsSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("index_jobs").toString + "/idx"

  private def versionsOf(paths: Map[String, String]) =
    paths.map { case (c, p) => c -> MergeTable.snapshot(spark, p).version }

  /** Bytes of the data files versions `from` (exclusive) to `to` of the
    * table at `path` wrote: every file a version references that `from`
    * does not, counted once, also when a later version replaced it. */
  private def bytesWritten(path: String, from: Long, to: Long): Long = {
    val old = MergeTable.snapshotAt(spark, path, from).entries.map(_.path).toSet
    (from + 1 to to).flatMap(v => MergeTable.snapshotAt(spark, path, v).entries)
      .filterNot(e => old.contains(e.path)).map(e => e.path -> e.size).toMap.values.sum
  }

  /** Runs `body` and checks its job count against `jobs` and the
    * versions it added to each component against `versions`. */
  private def assertCeilings(what: String, paths: Map[String, String],
      jobs: Int, versions: Map[String, Int])(body: => Unit): Unit = {
    val before = versionsOf(paths)
    val n = JobCount.of(spark)(body)
    val after = versionsOf(paths)
    val added = paths.keys.map(c => c -> (after(c) - before(c)).toInt).toMap
    val bytes = paths.keys.toSeq.sorted.map(c =>
      c -> bytesWritten(paths(c), before(c), after(c)))
    info(s"$what: $n jobs (ceiling $jobs); versions added " +
      added.toSeq.sorted.map { case (c, v) => s"$c +$v" }.mkString(", ") +
      "; bytes written " + bytes.map { case (c, b) => s"$c $b" }.mkString(", "))
    assert(n <= jobs, s"$what launched $n Spark jobs, ceiling $jobs")
    for ((c, v) <- versions)
      assert(added(c) <= v, s"$what added ${added(c)} versions to $c, ceiling $v")
  }

  private def lexicalPaths(path: String) = Map(
    "postings" -> CompositeIndex.pinnedPath(spark, path, "postings"),
    "doclens" -> CompositeIndex.pinnedPath(spark, path, "doclens"),
    "termdf" -> CompositeIndex.pinnedPath(spark, path, "termdf"))

  private def text(id: Int, words: Int) =
    (0 until words).map(w => s"w${(id * 7 + w * 3) % 50}").mkString(" ")

  test("LexicalIndex.upsert replacing docs: one version per component") {
    val path = freshPath()
    LexicalIndex.build(spark, path,
      (1 to 200).map(i => (i.toLong, text(i, 12))).toDF("doc_id", "text"),
      "doc_id", "text")
    val paths = lexicalPaths(path)
    // ten replaced docs (a term set that drops old terms) and five new
    val batch = ((11 to 20).map(i => (i.toLong, text(i + 1000, 8))) ++
      (301 to 305).map(i => (i.toLong, text(i, 10)))).toDF("doc_id", "text")
    assertCeilings("LexicalIndex.upsert", paths, 30,
      Map("postings" -> 1, "doclens" -> 1, "termdf" -> 1)) {
      LexicalIndex.upsert(spark, path, batch, "doc_id", "text")
    }
    assert(MergeTable.read(spark, paths("doclens")).count() === 205)
    assert(MergeTable.read(spark, paths("postings"))
      .filter(col("id") === 11L).count() === text(1011, 8).split(" ").distinct.length)
  }

  test("LexicalIndex.delete killing a term: one version per component") {
    val path = freshPath()
    val docs = (1 to 200).map(i => (i.toLong, text(i, 12))) :+ (500L, "zzonly w1 w2")
    LexicalIndex.build(spark, path, docs.toDF("doc_id", "text"), "doc_id", "text")
    val paths = lexicalPaths(path)
    assertCeilings("LexicalIndex.delete", paths, 18,
      Map("postings" -> 1, "doclens" -> 1, "termdf" -> 1)) {
      LexicalIndex.delete(spark, path, Seq(500L, 7L))
    }
    val termdf = MergeTable.read(spark, paths("termdf"))
    assert(termdf.filter(col("term") === "zzonly").count() === 0)
    assert(MergeTable.read(spark, paths("doclens")).count() === 199)
  }

  test("DedupIndex.upsert with a retraction: one version per component") {
    val path = freshPath()
    DedupIndex.build(spark, path,
      (1 to 60).map(i => (i.toLong, text(i, 12))).toDF("doc_id", "text"),
      "doc_id", "text")
    val paths = Map(
      "shingles" -> CompositeIndex.pinnedPath(spark, path, "shingles"),
      "bands" -> CompositeIndex.pinnedPath(spark, path, "bands"))
    val batch = (Seq((3L, None: Option[String]), (4L, None)) ++
      (5 to 8).map(i => (i.toLong, Some(text(i + 500, 12)))) ++
      (101 to 103).map(i => (i.toLong, Some(text(i, 12))))).toDF("doc_id", "text")
    assertCeilings("DedupIndex.upsert", paths, 22,
      Map("shingles" -> 1, "bands" -> 1)) {
      DedupIndex.upsert(spark, path, batch, "doc_id", "text")
    }
    val ids = MergeTable.read(spark, paths("shingles")).select(col("id"))
      .as[Long].collect().toSet
    assert(ids === ((1L to 60L).toSet -- Set(3L, 4L)) ++ Set(101L, 102L, 103L))
  }

  test("SemanticIndex.upsert with a retraction: one version per component") {
    val rng = new scala.util.Random(5)
    def vec() = Array.fill(8)(rng.nextGaussian().toFloat)
    val corp = (1 to 60).map(i => (i.toLong, vec()))
    val cents = graft.operators.SimilaritySearch
      .kmeansCentroids(corp.toDF("id", "vec"), "id", "vec", k = 3, iters = 5)
      .localCheckpoint(true)
    val path = freshPath()
    SemanticIndex.build(spark, path, corp.toDF("id", "vec"), "id", "vec", cents)
    val paths = Map("vectors" -> CompositeIndex.pinnedPath(spark, path, "vectors"))
    val batch = (Seq((3L, None: Option[Array[Float]]), (4L, None)) ++
      (5 to 8).map(i => (i.toLong, Some(vec()))) ++
      (101 to 103).map(i => (i.toLong, Some(vec())))).toDF("id", "vec")
    assertCeilings("SemanticIndex.upsert", paths, 9, Map("vectors" -> 1)) {
      SemanticIndex.upsert(spark, path, batch, "id", "vec")
    }
    assert(MergeTable.read(spark, paths("vectors")).count() === 61)
  }

  test("ImageDedupIndex.upsert with a retraction: one version per component") {
    val path = freshPath()
    ImageDedupIndex.build(spark, path,
      (1 to 60).map(i => (i.toLong, i.toLong * 0x9E3779B97F4A7C15L)).toDF("id", "fp"),
      "id", "fp")
    val paths = Map("bands" -> CompositeIndex.pinnedPath(spark, path, "bands"))
    val batch = (Seq((3L, None: Option[Long]), (4L, None)) ++
      (5 to 8).map(i => (i.toLong, Some(i.toLong * 31))) ++
      (101 to 103).map(i => (i.toLong, Some(i.toLong * 0x9E3779B97F4A7C15L))))
      .toDF("id", "fp")
    assertCeilings("ImageDedupIndex.upsert", paths, 15, Map("bands" -> 1)) {
      ImageDedupIndex.upsert(spark, path, batch, "id", "fp")
    }
    assert(MergeTable.read(spark, paths("bands")).select(col("id"))
      .distinct().count() === 61)
  }
}
