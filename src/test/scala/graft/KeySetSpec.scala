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
  * range + broadcast semi-join discovery is the one compared. Past the
  * budget the same battery compares the held form with the frame form
  * the test seam forces, at 1,001 and 5,000 keys. */
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

  /** The key types with more than 5,000 distinct values, each as an
    * expression that stays distinct over row numbers 0..10,000 (byte
    * and boolean keys cannot pass the literal budget). */
  private val wideKeyTypes: Seq[(String, Column => Column)] =
    keyTypes.filterNot { case (n, _) => n == "byte" || n == "boolean" }.map {
      case ("short", _) => "short" -> ((i: Column) => i.cast("short"))
      case other => other
    }

  /** Every operation agrees between the held and the frame form. */
  private def assertSameHeld(label: String, h: KeySet, f: KeySet, d: DataFrame): Unit = {
    assertSame(label, h, f, d)
    assert(rows(h.keys) === rows(f.keys), s"$label: keys")
    val (a, b) = (h.union(f), f.union(h))
    assert(rows(a.anti(d)) === rows(b.anti(d)), s"$label: union")
  }

  for ((name, key) <- wideKeyTypes; n <- Seq(1001, 5000))
    test(f"Held and Frame agree on $n%,d $name keys") {
      val d = table(key)
      // every other row number: rows 0, 2, .., 38 of the table are hit
      val ids = (0 until 2 * n by 2)
      val h = KeySet.validated(keyFrame(key, ids), Seq("k"))
      val f = KeySet.framesOnlyForTest(KeySet.validated(keyFrame(key, ids), Seq("k")))
      assert(h.isInstanceOf[KeySet.Held], s"$name keys past the budget must be held")
      assert(f.isInstanceOf[KeySet.Frame], "the seam must force the frame form")
      assert(h.size === n.toLong && f.size === n.toLong)
      assertSameHeld(s"$n $name keys", h, f, d)
      assert(h.overlap(d) === ((43L, 20L)), s"$name: twenty keys are present")
      assert(h.touchedFiles(d).nonEmpty)
    }

  test("past the budget, the held form refuses what the frame form refuses") {
    import spark.implicits._
    def refused(what: String)(body: => Any): Unit = {
      val held = intercept[IllegalArgumentException](body).getMessage
      val framed = intercept[IllegalArgumentException](
        KeySet.framesOnlyForTest(body)).getMessage
      assert(held.contains(what), s"expected '$what' in: $held")
      assert(framed.contains(what), s"expected '$what' in: $framed")
    }
    val ups = (1L to 1500L).map(i => (Option(i), s"v$i"))
    def u(rows: Seq[(Option[Long], String)]) = rows.toDF("k", "v")
    def keys(ids: Seq[Option[Long]]) = ids.toDF("k")
    refused("updates contain NULL")(KeySet.validatedChanges(
      Some(u(ups :+ ((None, "x")))), None, Seq("k")))
    refused("keys contain NULL")(KeySet.validatedChanges(
      Some(u(ups)), Some(keys((2001L to 3500L).map(Option(_)) :+ None)), Seq("k")))
    refused("must be unique")(KeySet.validatedChanges(
      Some(u(ups :+ ((Some(7L), "again")))), None, Seq("k")))
    refused("both upserted and deleted")(KeySet.validatedChanges(
      Some(u(ups)), Some(keys(Seq(Some(1499L)))), Seq("k")))
    // a CDC batch past the budget with one op that routes nowhere
    import graft.streaming.{CdcOp, JobProcessor}
    val path = java.nio.file.Files.createTempDirectory("keyset_cdc").toString + "/t"
    graft.sources.MergeTable.init(spark, path,
      Seq(CdcOp("k0", 1L, "U", "p")).toDF().drop("op"), bloomKeys = Seq("key"))
    val batch = ((1 to 1500).map(i => CdcOp(s"k$i", 2L, "U", s"p$i")) :+
      CdcOp("k9999", 2L, null, "p")).toDF()
    refused("NULL in op column")(JobProcessor.applyCdcBatch(
      spark, batch, path, Seq("key"), "seq", "op", "D"))
    assert(graft.sources.MergeTable.read(spark, path).count() === 1L)
  }

  test("past the budget, a row-level call writes the same rows held as framed") {
    import spark.implicits._
    import graft.sources.MergeTable
    def run(): Seq[String] = {
      val path = java.nio.file.Files.createTempDirectory("keyset_rl").toString + "/t"
      MergeTable.init(spark, path, (1L to 3000L).map(i => (i, s"base$i")).toDF("k", "v"))
      MergeTable.mergeLite(spark, path, (1L to 100L).map(i => (i, s"d$i")).toDF("k", "v"), Seq("k"))
      MergeTable.applyChanges(spark, path,
        Some((1001L to 2500L).map(i => (i, s"u$i")).toDF("k", "v")),
        Some((51L to 650L).toDF("k")), Seq("k"))
      MergeTable.merge(spark, path, (2001L to 3600L).map(i => (i, s"m$i")).toDF("k", "v"), Seq("k"))
      rows(MergeTable.read(spark, path))
    }
    val held = run()
    assert(held.size === 3600 - 600)
    assert(held === KeySet.framesOnlyForTest(run()))
  }

  test("past the budget, a key widened from int to long over a delta and tombstones writes the same rows held as framed") {
    import spark.implicits._
    import graft.sources.MergeTable
    def run(): Seq[String] = {
      val path = java.nio.file.Files.createTempDirectory("keyset_widen").toString + "/t"
      MergeTable.init(spark, path, (1 to 3000).map(i => (i, s"base$i")).toDF("k", "v"))
      // int-keyed row-level state past the budget: a delta, tombstones
      MergeTable.mergeLite(spark, path, (1 to 1500).map(i => (i, s"d$i")).toDF("k", "v"), Seq("k"))
      MergeTable.deleteLite(spark, path, (1501 to 2800).toDF("k"), Seq("k"))
      // long keys past the budget re-upsert delta and tombstoned keys;
      // the int-typed state is probed against them
      MergeTable.mergeLite(spark, path, (1001L to 2200L).map(i => (i, s"w$i")).toDF("k", "v"),
        Seq("k"), allowSchemaEvolution = true)
      rows(MergeTable.read(spark, path))
    }
    val expected = rows(((1L to 1000L).map(i => (i, s"d$i")) ++
      (1001L to 2200L).map(i => (i, s"w$i")) ++
      (2801L to 3000L).map(i => (i, s"base$i"))).toDF("k", "v"))
    assert(run() === expected)
    assert(KeySet.framesOnlyForTest(run()) === expected)
  }
}
