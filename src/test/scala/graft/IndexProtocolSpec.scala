package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{DedupIndex, ImageDedupIndex, LexicalIndex, SemanticIndex, SimHashIndex}
import graft.sources.CompositeIndex

/** The composite-index write protocol, once per index family: every
  * effective write (upsert, upsert with a retraction, delete, compact)
  * publishes exactly one composite version, a no-op delete and a
  * vacuum publish none, and after every step each component read at
  * the published pin holds the same rows as a fresh build of the
  * documents the index should hold. A delete of `RetractChunk + 1`
  * ids removes every present id under one composite version. */
class IndexProtocolSpec extends SparkSpec {

  /** One index family's public entry points. Documents are (id,
    * generation) pairs: a replaced doc moves to a new generation, a
    * retracted one has none. */
  private final case class Family(
      name: String,
      components: Seq[String],
      idComponent: String,
      build: (String, Seq[(Long, Int)]) => Unit,
      upsert: (String, Seq[(Long, Option[Int])]) => Unit,
      retracts: Boolean,
      delete: (String, Seq[Any]) => Unit,
      compact: String => Unit,
      vacuum: String => Int)

  private def text(id: Long, gen: Int): String =
    (0 until 10).map(w => s"w${(id * 7 + w * 3 + gen * 11) % 40}").mkString(" ")

  private def textFrame(docs: Seq[(Long, Option[Int])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map { case (id, g) =>
        Row(id, g.map(text(id, _)).orNull) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def fp(id: Long, gen: Int): Long =
    id * 0x9E3779B97F4A7C15L ^ gen * 0x5851F42D4C957F2DL

  private def fpFrame(docs: Seq[(Long, Option[Int])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map { case (id, g) =>
        Row(id, g.map(fp(id, _)).map(Long.box).orNull) }: _*),
      StructType(Seq(StructField("id", LongType), StructField("fp", LongType))))

  private def vec(id: Long, gen: Int): Array[Float] = {
    val r = new scala.util.Random(id * 31 + gen)
    Array.fill(8)(r.nextGaussian().toFloat)
  }

  private def vecFrame(docs: Seq[(Long, Option[Int])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map { case (id, g) =>
        Row(id, g.map(vec(id, _).toSeq).orNull) }: _*),
      StructType(Seq(StructField("id", LongType),
        StructField("vec", ArrayType(FloatType)))))

  private def live(docs: Seq[(Long, Int)]) = docs.map { case (id, g) => (id, Some(g)) }

  /** One quantizer for every semantic build, so a fresh build assigns
    * the same clusters as the incremental index. */
  private lazy val cents: DataFrame = {
    val rows = graft.operators.SimilaritySearch.kmeansCentroids(
      vecFrame(live((1L to 40L).map(_ -> 0))), "id", "vec", k = 3, iters = 5).collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("cluster", IntegerType),
        StructField("centroid", ArrayType(FloatType)))))
  }

  private val families = Seq(
    Family("LexicalIndex", Seq("postings", "doclens", "termdf"), "doclens",
      (p, d) => LexicalIndex.build(spark, p, textFrame(live(d)), "doc_id", "text"),
      (p, d) => LexicalIndex.upsert(spark, p, textFrame(d), "doc_id", "text"),
      retracts = false,
      LexicalIndex.delete(spark, _, _),
      LexicalIndex.compact(spark, _, 2),
      LexicalIndex.vacuum(spark, _, 0L)),
    Family("DedupIndex", Seq("bands", "shingles", "params"), "shingles",
      (p, d) => DedupIndex.build(spark, p, textFrame(live(d)), "doc_id", "text"),
      (p, d) => DedupIndex.upsert(spark, p, textFrame(d), "doc_id", "text"),
      retracts = true,
      DedupIndex.delete(spark, _, _),
      DedupIndex.compact(spark, _, 2),
      DedupIndex.vacuum(spark, _, 0L)),
    Family("SemanticIndex", Seq("vectors", "centroids"), "vectors",
      (p, d) => SemanticIndex.build(spark, p, vecFrame(live(d)), "id", "vec", cents),
      (p, d) => SemanticIndex.upsert(spark, p, vecFrame(d), "id", "vec"),
      retracts = true,
      SemanticIndex.delete(spark, _, _),
      SemanticIndex.compact(spark, _, 2),
      SemanticIndex.vacuum(spark, _, 0L)),
    Family("ImageDedupIndex", Seq("bands", "params"), "bands",
      (p, d) => ImageDedupIndex.build(spark, p, fpFrame(live(d)), "id", "fp"),
      (p, d) => ImageDedupIndex.upsert(spark, p, fpFrame(d), "id", "fp"),
      retracts = true,
      ImageDedupIndex.delete(spark, _, _),
      ImageDedupIndex.compact(spark, _, 2),
      ImageDedupIndex.vacuum(spark, _, 0L)),
    Family("SimHashIndex", Seq("bands", "params"), "bands",
      (p, d) => SimHashIndex.build(spark, p, textFrame(live(d)), "doc_id", "text"),
      (p, d) => SimHashIndex.upsert(spark, p, textFrame(d), "doc_id", "text"),
      retracts = true,
      SimHashIndex.delete(spark, _, _),
      SimHashIndex.compact(spark, _, 2),
      SimHashIndex.vacuum(spark, _, 0L)))

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("index_protocol").toString + "/idx"

  private def layout(f: Family) = new CompositeIndex(f.name, f.components)

  /** Every component's rows at the published pin, sorted, doubles and
    * floats at full precision. */
  private def pinnedRows(f: Family, path: String): Map[String, Seq[String]] = {
    val ci = layout(f)
    val p = ci.pin(spark, path)
    f.components.map(c => c -> ci.readAt(spark, path, p, c).collect()
      .map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted).toMap
  }

  private def pinnedIds(f: Family, path: String): Set[Long] = {
    val ci = layout(f)
    ci.readAt(spark, path, ci.pin(spark, path), f.idComponent)
      .select(col("id")).collect().map(_.getLong(0)).toSet
  }

  for (f <- families) test(s"${f.name}: one composite version per effective write, none per no-op; pinned rows equal a fresh build") {
    val path = freshPath()
    var model: Map[Long, Int] = (1L to 40L).map(_ -> 0).toMap
    f.build(path, model.toSeq.sorted)
    def version = layout(f).pin(spark, path).version
    /** Runs `step`, checks the composite version moved by `bump` and
      * every pinned component equals a fresh build of `model`. */
    def check(what: String, bump: Long)(step: => Unit): Unit = {
      val v0 = version
      step
      assert(version === v0 + bump, s"${f.name} $what: composite version")
      assert(pinnedIds(f, path) === model.keySet, s"${f.name} $what: ids")
      val fresh = freshPath()
      f.build(fresh, model.toSeq.sorted)
      val want = pinnedRows(f, fresh)
      val got = pinnedRows(f, path)
      f.components.foreach(c =>
        assert(got(c) === want(c), s"${f.name} $what: component $c rows"))
    }

    // replaced docs (new generation) and new ids
    val up = (5L to 8L).map(_ -> 1) ++ (101L to 103L).map(_ -> 0)
    check("upsert", 1) {
      f.upsert(path, up.map { case (id, g) => (id, Some(g)) })
      model ++= up
    }
    // a retraction (NULL content) beside a replacement and an insert;
    // a family without a retraction form replaces and inserts only
    val retracted = if (f.retracts) Seq(3L, 4L) else Nil
    check("upsert with a retraction", 1) {
      f.upsert(path, retracted.map(_ -> None) ++ Seq(9L -> Some(2), 104L -> Some(0)))
      model = model -- retracted ++ Seq(9L -> 2, 104L -> 0)
    }
    check("delete", 1) {
      f.delete(path, Seq(10L, 11L, 9999L))
      model --= Seq(10L, 11L)
    }
    check("no-op delete of absent ids", 0) {
      f.delete(path, Seq(7777L, 8888L))
    }
    check("compact", 1) { f.compact(path) }
    check("vacuum", 0) { f.vacuum(path); () }
    // more ids than one purge chunk, a present id in each chunk: two
    // chunks, one composite version
    val present = (12L to 20L).toSeq
    val absent = (1 to graft.util.Pushdown.RetractChunk + 1 - present.size)
      .map(i => 100000L + i)
    check("delete of RetractChunk + 1 ids", 1) {
      f.delete(path, present.init ++ absent :+ present.last)
      model --= present
    }
  }

  test("one index protocol: publishes, compactions, pins, purges, survivor rules and one-per-id reductions each have one implementation") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val member = """\b(?:def|val|var|class|object)\s+(\w+)""".r
    // every code line of the tree: (file under graft/, the object or
    // class member (two-space indent) it is in, the line)
    val code: Seq[(String, String, String)] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .sortBy(_.toString).flatMap { f =>
          var owner = "<top>"
          Files.readAllLines(f).asScala.toSeq.filterNot(isComment).map { l =>
            if (l.startsWith("  ") && !l.startsWith("   "))
              member.findFirstMatchIn(l).foreach(m => owner = m.group(1))
            (root.relativize(f).toString, owner, l)
          }
        }
      finally walk.close()
    }
    def calls(needle: String) = code.filter { case (_, _, l) =>
      l.contains(needle) && !l.contains("def " + needle) }
    def files(needle: String): Map[String, Int] =
      calls(needle).groupBy(_._1).map { case (f, ls) => f -> ls.size }
    def under(dir: String, needle: String) = files(needle).keySet.filter(_.startsWith(dir))
    val ci = "sources/CompositeIndex.scala"
    // the composite pin is published by the one write step only
    assert(files("commitPin(").keySet ++ files("publishNext(").keySet === Set(ci))
    assert(calls("commitPin(").filter(_._1 == ci).map(_._2).toSet ===
      Set("write", "build", "migrate"))
    // one pinned compaction, one Pin type
    assert(under("operators/", "compactTableAt(") === Set.empty)
    assert(under("operators/", "case class Pin") === Set.empty)
    // one chunked id purge: every index-component predicate delete is
    // CompositeIndex.writeComponent's
    assert(under("operators/", "deleteWhere(") === Set.empty)
    assert(calls("deleteWhere(").filter(_._1 == ci).map(_._2).toSet === Set("writeComponent"))
    assert(calls("RetractChunk").filter(_._1 == ci).map(_._2).toSet === Set("writeComponent"))
    // one survivor rule (incumbents win, the larger id of an in-batch
    // pair dies) and one one-per-id reduction for the admission gates
    assert(files("""col("id_b").as("__dead")""") === Map("operators/Dedup.scala" -> 1))
    assert(files("deterministicOnePerKey(").filter(_._1.startsWith("operators/")) ===
      Map("operators/Dedup.scala" -> 1))
    // manifest commits: MergeTable's one commit path, the composite
    // pin, and the IVF layout's own three in GraftSession (the
    // remaining separate commit path), plus a demo
    assert(files("Manifests.commit(") === Map(
      "sources/MergeTable.scala" -> 1, ci -> 1,
      "GraftSession.scala" -> 3, "MergeLiteDemo.scala" -> 1))
  }
}
