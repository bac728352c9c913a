package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.KeySet

/** Regime-differential battery for MergeTable's key handling: for every
  * key type the literal form admits, `Literals` and `Frame` built from
  * the SAME keys must give identical rows and files on every operation
  * the writers and the read path use — including NULL-keyed rows in
  * the probed frame, an empty key set, and keys absent from the table.
  * The frame form is also forced past the literal budget, so its
  * range + broadcast semi-join discovery is the one compared. */
class KeySetSpec extends SparkSpec {

  /** Each admitted key type as an expression over a row number `i`. */
  private val keyTypes: Seq[(String, Column => Column)] = Seq(
    "byte" -> (i => (i - 20).cast("byte")),
    "short" -> (i => (i * 100).cast("short")),
    "int" -> (i => (i * 1000).cast("int")),
    "long" -> (i => i.cast("long") * 10000000000L),
    "boolean" -> (i => i % 2 === 0),
    "string" -> (i => concat(lit("k\t"), i.cast("string"), lit("\n"))),
    "date" -> (i => date_add(lit("2020-01-01").cast("date"), i.cast("int"))),
    "timestamp" -> (i => timestamp_seconds(i.cast("long") * 3600L + 1600000000L)),
    "timestamp_ntz" ->
      (i => timestamp_seconds(i.cast("long") * 3600L + 1600000000L)
        .cast("timestamp_ntz")),
    "decimal" -> (i => (i * 1.25).cast("decimal(10,2)")))

  /** The distinct keys of row numbers `ids` under key expression `key`. */
  private def keyFrame(key: Column => Column, ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.toDF("i").select(key(col("i")).as("k")).distinct()
  }

  /** Rows 0..39 keyed by `key` in four parquet files, plus three
    * NULL-keyed rows. */
  private def table(key: Column => Column): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("keyset").toString + "/t"
    spark.range(0, 43)
      .select(when(col("id") < 40, key(col("id"))).as("k"), col("id").as("v"))
      .repartition(4, col("v")).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def literals(keys: DataFrame): KeySet = {
    val ks = KeySet.validated(keys, Seq("k"))
    assert(ks.isInstanceOf[KeySet.Literals],
      s"${keys.schema("k").dataType} keys must take the literal form")
    ks
  }

  /** The frame form forced past the budget: range + broadcast discovery. */
  private def frame(keys: DataFrame): KeySet =
    KeySet.Frame(keys, Seq("k"), KeySet.DiscoveryInLimit + 1L)

  /** Every operation agrees between the two forms of one key set. */
  private def assertSame(label: String, l: KeySet, f: KeySet, d: DataFrame,
      unique: Boolean = true): Unit = {
    if (unique) assert(l.overlap(d) === f.overlap(d), s"$label: overlap")
    assert(rows(l.anti(d)) === rows(f.anti(d)), s"$label: anti")
    assert(l.anti(d).filter(col("k").isNull).count() === 3,
      s"$label: anti must keep the NULL-keyed rows")
    assert(l.hitsAny(d) === f.hitsAny(d), s"$label: hitsAny")
    assert(l.touchedFiles(d) === f.touchedFiles(d), s"$label: touchedFiles")
    // the small frame collects to literals itself; same files again
    assert(l.touchedFiles(d) ===
      KeySet.Frame(f.keys, Seq("k"), f.size.min(10L)).touchedFiles(d),
      s"$label: small-frame touchedFiles")
  }

  keyTypes.foreach { case (name, key) =>
    test(s"Literals and Frame agree on $name keys") {
      val d = table(key)
      // 95 is outside the table's 0..39 rows: an absent key (boolean
      // aside, whose two values are both present)
      val ids = Seq(3, 7, 11, 95)
      val l = literals(keyFrame(key, ids))
      val f = frame(keyFrame(key, ids))
      assertSame(s"$name keys", l, f, d)
      if (name != "boolean") {
        assert(l.overlap(d)._2 === 3L, s"$name: three of four keys are present")
        assert(l.touchedFiles(d).nonEmpty)
      }

      // absent keys only
      val gone = Seq(120, 121)
      assertSame(s"$name absent keys", literals(keyFrame(key, gone)),
        frame(keyFrame(key, gone)), d)

      // the empty key set
      val none = literals(keyFrame(key, Nil))
      assert(none.size === 0L)
      assertSame(s"$name empty set", none, frame(keyFrame(key, Nil)), d)
      assert(none.touchedFiles(d).isEmpty && !none.hitsAny(d))

      // union: two literal sets stay literal, and match the frame union
      val (a, b) = (Seq(3, 7), Seq(7, 11, 95))
      val lu = literals(keyFrame(key, a)).union(literals(keyFrame(key, b)))
      assert(lu.isInstanceOf[KeySet.Literals])
      val fu = frame(keyFrame(key, a)).union(frame(keyFrame(key, b)))
      assertSame(s"$name union", lu, fu, d, unique = false)
      assert(rows(lu.anti(d)) === rows(l.anti(d)), s"$name: union = whole set")
    }
  }

  test("a union past the literal budget becomes a frame over the same keys") {
    val key: Column => Column = i => i.cast("long")
    val d = table(key)
    val a = literals(keyFrame(key, 0 until 600))
    val b = literals(keyFrame(key, 500 until 1100))
    val u = a.union(b)
    assert(!u.isInstanceOf[KeySet.Literals] && u.size === 1100L)
    assert(rows(u.keys) === rows(keyFrame(key, 0 until 1100)))
    assertSame("past-budget union", u, frame(keyFrame(key, 0 until 1100)), d,
      unique = false)
    assert(u.anti(d).count() === 3L, "every non-NULL row's key is in the set")
  }

  test("unstable or multi-column keys validate to the frame form") {
    import spark.implicits._
    val doubles = Seq(1.5, 2.5).toDF("k")
    assert(!KeySet.validated(doubles, Seq("k")).isInstanceOf[KeySet.Literals])
    val pairs = Seq((1L, "a"), (2L, "b")).toDF("k", "j")
    val ks = KeySet.validated(pairs, Seq("k", "j"))
    assert(!ks.isInstanceOf[KeySet.Literals] && ks.size === 2L)
  }
}
