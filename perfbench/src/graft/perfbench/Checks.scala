package graft.perfbench

import scala.collection.mutable

import graft.streaming.CdcOp

/** Result checkers: pure functions over collected results and the
  * generator's reference answers. `None` accepts; `Some(why)` rejects. */
object Checks {
  type Verdict = Option[String]

  private def fail(cond: Boolean, why: => String): Verdict = if (cond) Some(why) else None
  private def firstOf(vs: Verdict*): Verdict = vs.collectFirst { case Some(w) => w }

  private def ranked(ids: Seq[Long], scores: Seq[Double], k: Int, ascending: Boolean): Verdict = {
    val ordered = scores.zip(scores.drop(1)).forall { case (a, b) =>
      if (ascending) a <= b + 1e-9 else a >= b - 1e-9 }
    firstOf(
      fail(ids.size != k, s"expected $k rows, got ${ids.size}"),
      fail(ids.distinct.size != ids.size, s"duplicate ids ${ids.mkString(",")}"),
      fail(!ordered, s"scores out of order: ${scores.mkString(",")}"))
  }

  /** `searchKnowledge` top-k: the query is doc `planted`'s own text, so
    * it ranks first at distance 0; every distance matches `dist`. */
  def vector(rows: Seq[(Long, Double)], planted: Long, k: Int, dist: Long => Double): Verdict =
    firstOf(
      ranked(rows.map(_._1), rows.map(_._2), k, ascending = true),
      fail(rows.headOption.forall(_._1 != planted),
        s"top hit ${rows.headOption.map(_._1)} is not the planted doc $planted"),
      rows.collectFirst { case (id, d) if math.abs(d - dist(id)) > 1e-4 =>
        s"doc $id distance $d, expected ${dist(id)}" })

  /** `hybridSearchKnowledge` top-k: the planted doc leads both legs, so it
    * leads the fused ranking. */
  def hybrid(rows: Seq[(Long, Double)], planted: Long, k: Int): Verdict =
    firstOf(
      ranked(rows.map(_._1), rows.map(_._2), k, ascending = false),
      fail(rows.headOption.forall(_._1 != planted),
        s"top hit ${rows.headOption.map(_._1)} is not the planted doc $planted"))

  def rowsEqual[T](what: String, got: Seq[T], want: Seq[T]): Verdict =
    fail(got != want, s"$what: got ${got.take(8).mkString(";")}, want ${want.take(8).mkString(";")}")

  /** The program's answer to a point read against the model's live rows. */
  def read(got: Map[String, (Long, String)], want: Map[String, (Long, String)]): Verdict =
    fail(got != want, s"point read: got $got, want $want")

  /** Every op of a committed batch was consumed by the stream. */
  def commit(consumed: Long, sent: Long, error: Option[String]): Verdict =
    firstOf(error, fail(consumed != sent, s"stream consumed $consumed of $sent ops"))

  /** The curation output: exactly the expected survivors, each with a split. */
  def pass(kept: Seq[(Long, String)], want: Set[Long]): Verdict = {
    val ids = kept.map(_._1)
    firstOf(
      fail(ids.distinct.size != ids.size, "duplicate ids in output"),
      fail(ids.toSet != want, {
        val got = ids.toSet
        s"kept ${got.size}, want ${want.size}; missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)}"
      }),
      kept.collectFirst { case (id, s) if !Set("train", "valid", "test")(s) =>
        s"doc $id has split $s" })
  }
}

/** Reference answers computed from the generated inputs. */
object Ref {
  def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    1.0 - dot / math.sqrt(na * nb)
  }

  /** Per task status: (task, chat) pairs joined on the chat's user being
    * the task's assignee, for one priority and one session, and the
    * pairs' summed chat tokens. */
  def sessionTasks(tasks: Seq[Task], chats: Seq[Chat], priority: String,
      session: String): Seq[(String, Long, Long)] = {
    val byUser = tasks.filter(_.priority == priority).groupBy(_.assignedTo)
    val pairs = for {
      c <- chats if c.sessionId == session
      t <- byUser.getOrElse(c.userId, Nil)
    } yield (t.status, c.tokensUsed.toLong)
    pairs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (s, ps) => (s, ps.size.toLong, ps.map(_._2).sum) }
  }

  /** `analytics.Profile` rows for (key, seq) over the live table. */
  def profile(live: collection.Map[String, (Long, String)]): Seq[(String, Long, Long, Long, String, String)] = {
    val keys = live.keys.toSeq
    val seqs = live.values.map(_._1).toSeq
    Seq(
      ("key", 0L, keys.size.toLong, keys.size.toLong, keys.min, keys.max),
      ("seq", 0L, seqs.size.toLong, seqs.distinct.size.toLong, seqs.min.toString, seqs.max.toString))
  }

  private val EnMarkers = Set("the", "and", "of", "to", "is", "that", "with")

  /** The docs `Curation.fullPipeline` keeps from a planted batch: `en`
    * text only, one doc per exact-text group (lowest id), the best doc
    * (longest, then lowest id) per planted near-dup cluster, then no doc
    * sharing a word 8-gram with the eval set. */
  def curateKept(b: CurateBatch, eval: Seq[(Long, String)], n: Int = 8): Set[Long] = {
    def grams(t: String): Iterator[String] = {
      val w = t.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
      if (w.length < n) Iterator.empty else w.sliding(n).map(_.mkString(" "))
    }
    val evalGrams = eval.iterator.flatMap(e => grams(e._2)).toSet
    val english = b.docs.filter(d => d._2.split(" ").exists(EnMarkers))
    val exact = english.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
    val text = exact.toMap
    val cluster = mutable.HashMap[Long, Int]()
    for ((c, i) <- b.clusters.zipWithIndex; id <- c) cluster(id) = i
    val best = exact.filter(d => cluster.contains(d._1))
      .groupBy(d => cluster(d._1)).values
      .map(_.minBy(d => (-d._2.length, d._1))._1).toSet
    exact.map(_._1)
      .filter(id => !cluster.contains(id) || best(id))
      .filterNot(id => grams(text(id)).exists(evalGrams))
      .toSet
  }

  /** Near-dup pairs the planted clusters imply, as (smaller, larger) ids. */
  def plantedPairs(b: CurateBatch): Set[(Long, Long)] =
    b.clusters.iterator.flatMap { c =>
      for (x <- c.iterator; y <- c.iterator if x < y) yield (x, y)
    }.toSet
}

/** The ingest client's model of the table: live rows by key, updated
  * with each committed batch under last-seq-wins per key. */
final class IngestModel(base: Seq[CdcOp]) {
  val live = mutable.HashMap[String, (Long, String)]()
  base.foreach(o => live(o.key) = (o.seq, o.payload))

  def apply(ops: Seq[CdcOp]): Unit =
    ops.groupBy(_.key).foreach { case (k, os) =>
      val w = os.maxBy(_.seq)
      if (w.op == "D") live.remove(k) else live(k) = (w.seq, w.payload)
    }

  def read(keys: Seq[String]): Map[String, (Long, String)] =
    keys.distinct.flatMap(k => live.get(k).map(k -> _)).toMap
}

/** Each checker against a good result and a deliberately corrupted one. */
object SelfTest {
  def cases: Seq[(String, Checks.Verdict, Checks.Verdict)] = {
    val dist = Map(7L -> 0.0, 3L -> 0.9, 5L -> 0.95)
    val vec = Seq((7L, 0.0), (3L, 0.9), (5L, 0.95))
    val hyb = Seq((7L, 0.032), (3L, 0.016), (5L, 0.015))
    val sql = Seq(("Completed", 3L, 120L), ("Failed", 1L, 40L))
    val model = new IngestModel(Seq(CdcOp("a", 0, "U", "x"), CdcOp("b", 0, "U", "y")))
    model(Seq(CdcOp("a", 2, "U", "z"), CdcOp("b", 3, "D", null), CdcOp("a", 1, "U", "w")))
    val want = model.read(Seq("a", "b", "c"))
    val prof = Ref.profile(model.live)
    val batch = CurateBatch(
      Array(1L -> "the cat sat", 2L -> "the cat sat down", 3L -> "a dog of mine",
        4L -> "zuba kota"),
      Array(Array(1L, 2L)), Array())
    val kept = Ref.curateKept(batch, Nil)
    Seq(
      ("vector", Checks.vector(vec, 7L, 3, dist), Checks.vector(vec.updated(1, (3L, 0.5)), 7L, 3, dist)),
      ("hybrid", Checks.hybrid(hyb, 7L, 3), Checks.hybrid(hyb.reverse, 7L, 3)),
      ("sql", Checks.rowsEqual("sql", sql, sql), Checks.rowsEqual("sql", sql.take(1), sql)),
      ("read", Checks.read(Map("a" -> ((2L, "z"))), want), Checks.read(Map("a" -> ((1L, "w"))), want)),
      ("profile", Checks.rowsEqual("profile", prof, Ref.profile(model.live)),
        Checks.rowsEqual("profile", prof.map(p => p.copy(_3 = p._3 + 1)), Ref.profile(model.live))),
      ("commit", Checks.commit(300, 300, None), Checks.commit(299, 300, None)),
      ("pass", Checks.pass(Seq((2L, "train"), (3L, "test")), kept),
        Checks.pass(Seq((1L, "train"), (2L, "train"), (3L, "test")), kept)))
  }
}
