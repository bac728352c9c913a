package graft.perfbench

import scala.collection.mutable

import graft.streaming.CdcOp

/** Deterministic random source: everything the benchmark feeds the
  * program is drawn from one of these, seeded from `--seed` and a
  * stream name, so the same seed always yields the same inputs. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def dbl(): Double = r.nextDouble()
  /** A uniformly shuffled 0 until n. */
  def permutation(n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- a.indices.reverse) {
      val j = int(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
}

object Rng {
  def apply(seed: Long, stream: String): Rng =
    new Rng(seed * 1000003L ^ stream.hashCode.toLong * 0x9E3779B97F4A7C15L)
}

/** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(r: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.dbl())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Zipf text over a fixed vocabulary: English function words hold the top
  * ranks (so the curation language filter reads every doc as `en`), then
  * lowercase pseudo-words that can match no language marker and no
  * error-shaped query pattern. Words are single-space separated, so the
  * search preprocessor leaves a query of at most 200 characters as is. */
object Text {
  val Function: Seq[String] = Seq("the", "of", "and", "to", "a", "in", "is",
    "that", "for", "it", "with", "as", "on", "at", "by", "this")

  val vocab: Array[String] = {
    val r = new Rng(7L)
    val syl = for (c <- "bdfgkmnprstvz"; v <- "aeiou") yield s"$c$v"
    val seen = mutable.LinkedHashSet[String]() ++= Function
    while (seen.size < 6000) {
      val w = (0 until 2 + r.int(3)).map(_ => syl(r.int(syl.size))).mkString
      seen += w
    }
    seen.toArray
  }
  private val zipf = new Zipf(vocab.length, 1.05)

  def word(r: Rng): String = vocab(zipf.sample(r))

  def words(r: Rng, lo: Int, hi: Int): Array[String] =
    Array.fill(lo + r.int(hi - lo + 1))(word(r))

  /** Words until the next one would push the text past `maxChars`. */
  def capped(r: Rng, minWords: Int, maxChars: Int): String = {
    val sb = new StringBuilder
    var n = 0
    var done = false
    while (!done) {
      val w = word(r)
      if (sb.length + 1 + w.length > maxChars && n >= minWords) done = true
      else {
        if (n > 0) sb.append(' ')
        sb.append(w); n += 1
      }
    }
    sb.toString
  }
}

// ---- serve ---------------------------------------------------------------

final case class Doc(id: Long, content: String, sourceType: String)
final case class Task(id: Long, name: String, status: String, progress: Int,
    assignedTo: String, priority: String)
final case class Chat(id: Long, sessionId: String, userId: String,
    role: String, content: String, tokensUsed: Int)

sealed trait ServeOp { def kind: String }
final case class VectorOp(doc: Int) extends ServeOp { def kind = "vector" }
final case class HybridOp(doc: Int) extends ServeOp { def kind = "hybrid" }
final case class SqlOp(priority: String, session: String) extends ServeOp { def kind = "sql" }

final case class ServeInput(docs: Array[Doc], tasks: Array[Task],
    chats: Array[Chat], ops: Array[ServeOp], warmup: Array[ServeOp])

object ServeGen {
  val Docs = 500
  val Tasks = 5000
  val Chats = 10000
  val People: Seq[String] = (0 until 40).map(i => f"user$i%02d")
  val Sessions: Seq[String] = (0 until 400).map(i => f"s$i%04d")
  /** One cycle of the client. The cheap kinds come more often than
    * `hybrid` (more than ten times their cost), so each kind's median
    * rests on a similar share of the window's samples. */
  val Cycle: Seq[String] = Seq("vector", "sql", "vector", "hybrid", "vector", "sql")

  def apply(seed: Long, nCycles: Int): ServeInput = {
    val r = Rng(seed, "serve")
    val docs = Array.tabulate(Docs) { i =>
      Doc(i.toLong, Text.capped(r, 12, 200),
        graft.schema.Schemas.SourceTypes(r.int(graft.schema.Schemas.SourceTypes.size)))
    }
    val tasks = Array.tabulate(Tasks) { i =>
      Task(i.toLong, s"task $i", graft.schema.Schemas.TaskStatuses(r.int(4)),
        r.int(101), People(r.int(People.size)),
        graft.schema.Schemas.TaskPriorities(r.int(4)))
    }
    val sessionZipf = new Zipf(Sessions.size, 1.0)
    val chats = Array.tabulate(Chats) { i =>
      Chat(i.toLong, Sessions(sessionZipf.sample(r)), People(r.int(People.size)),
        graft.schema.Schemas.ChatRoles(r.int(3)), Text.capped(r, 4, 80),
        1 + r.int(2000))
    }
    def op(kind: String): ServeOp = kind match {
      case "vector" => VectorOp(r.int(Docs))
      case "hybrid" => HybridOp(r.int(Docs))
      case "sql" => SqlOp(graft.schema.Schemas.TaskPriorities(r.int(4)), Sessions(r.int(Sessions.size)))
    }
    val warmup = Seq("vector", "hybrid", "sql").map(op).toArray
    val ops = Array.fill(nCycles)(Cycle).flatten.map(op)
    ServeInput(docs, tasks, chats, ops, warmup)
  }
}

// ---- ingest --------------------------------------------------------------

/** One step of the ingest client's cycle. */
sealed trait IngestStep { def kind: String }
final case class Commit(kind: String, ops: Array[CdcOp]) extends IngestStep
final case class Read(keys: Array[String]) extends IngestStep { def kind = "read" }
case object ProfileStep extends IngestStep { def kind = "profile" }
case object MaintainStep extends IngestStep { def kind = "maintain" }

/** `warmup` runs in every set-up round. `coldWarmup` runs only in the
  * first, on the cold JVM, so that the window's first large commit does
  * not pay for compiling the large-batch path. */
final case class IngestInput(base: Array[CdcOp], warmup: Array[IngestStep],
    coldWarmup: Array[IngestStep], steps: Array[IngestStep], curate: CurateInput)

object IngestGen {
  val BaseKeys = 10000
  val Small = 300   // distinct keys < 1000: the literal key path
  val Large = 3000  // distinct keys > 1000: past the literal budget
  val ReadKeys = 16
  /** One cycle; the window holds several. */
  val Cycle: Seq[String] = Seq("commit_small", "read", "commit_large", "read")

  def key(i: Int): String = f"k$i%07d"

  def apply(seed: Long, nCycles: Int): IngestInput = {
    val r = Rng(seed, "ingest")
    // hot keys are a seeded permutation of the base key space
    val perm = r.permutation(BaseKeys)
    val hot = new Zipf(BaseKeys, 1.0)
    var nextKey = BaseKeys
    var seq = 0L
    def payload(): String = Text.capped(r, 4, 60)
    val base = Array.tabulate(BaseKeys)(i => CdcOp(key(i), 0L, "U", payload()))
    def hotKey(): String = key(perm(hot.sample(r)))
    def anyKey(): String = key(r.int(nextKey))
    def batch(n: Int): Array[CdcOp] = Array.fill(n) {
      seq += 1
      val x = r.dbl()
      if (x < 0.5) CdcOp(hotKey(), seq, "U", payload())
      else if (x < 0.8) CdcOp(anyKey(), seq, "U", payload())
      else if (x < 0.9) { nextKey += 1; CdcOp(key(nextKey - 1), seq, "U", payload()) }
      else CdcOp(if (r.int(2) == 0) hotKey() else anyKey(), seq, "D", null)
    }
    def step(kind: String): IngestStep = kind match {
      case "commit_small" => Commit(kind, batch(Small))
      case "commit_large" => Commit(kind, batch(Large))
      case "read" => Read(Array.fill(ReadKeys)(if (r.int(4) == 0) anyKey() else hotKey()))
    }
    val warmup = Seq("commit_small", "read").map(step).toArray
    val coldWarmup = Seq("commit_large", "read").map(step).toArray
    val steps = (0 until nCycles).flatMap(_ => Cycle.map(step)).toArray
    IngestInput(base, warmup, coldWarmup, steps, CurateGen(seed))
  }
}

// ---- curation batch, run by the ingest workload's traced probes ---------

/** One curation batch with its planted structure: `clusters` are the
  * near-duplicate groups (original first), `contaminated` the docs that
  * carry a span copied from an eval doc. */
final case class CurateBatch(docs: Array[(Long, String)],
    clusters: Array[Array[Long]], contaminated: Array[Long])

final case class CurateInput(eval: Array[(Long, String)], batch: CurateBatch)

object CurateGen {
  val Docs = 500
  val Clusters = 40
  val Contaminated = 10
  val EvalDocs = 40
  val SpanWords = 12

  def batch(seed: Long, b: Int, eval: Array[(Long, String)]): CurateBatch = {
    val r = Rng(seed, s"curate-batch-$b")
    val idBase = b.toLong * 1000000L
    val texts = mutable.ArrayBuffer.fill(Docs)(Text.words(r, 60, 140))
    // planted near-dup clusters: 1-3 copies of a doc, each with one word
    // replaced and maybe one appended (shingle Jaccard ~0.9 to the
    // original, far above the 0.8 threshold)
    val clusters = r.permutation(Docs).take(Clusters).map { o =>
      val copies = (1 to 1 + r.int(3)).map { _ =>
        val w = texts(o).clone()
        val pos = w.length / 3 + r.int(w.length / 3)
        var repl = Text.word(r)
        while (repl == w(pos)) repl = Text.word(r)
        w(pos) = repl
        val grown = if (r.int(2) == 0) w :+ Text.word(r) else w
        texts += grown
        idBase + texts.size - 1
      }
      ((idBase + o) +: copies).toArray
    }
    // planted contamination: an eval span spliced into docs outside the
    // clusters
    val inCluster = clusters.flatten.toSet
    val candidates = (0 until Docs).filterNot(i => inCluster(idBase + i))
    val contaminated = (0 until Contaminated).map { c =>
      val i = candidates((c * 37 + r.int(37)) % candidates.size)
      val ev = eval(r.int(eval.length))._2.split(" ")
      val from = r.int(ev.length - SpanWords)
      val span = ev.slice(from, from + SpanWords)
      val w = texts(i)
      val at = r.int(w.length)
      texts(i) = (w.take(at) ++ span ++ w.drop(at))
      idBase + i
    }.distinct.toArray
    CurateBatch(texts.zipWithIndex.map { case (w, i) => (idBase + i, w.mkString(" ")) }.toArray,
      clusters, contaminated)
  }

  def apply(seed: Long): CurateInput = {
    val r = Rng(seed, "curate-eval")
    val eval = Array.tabulate(EvalDocs)(i => (i.toLong, Text.words(r, 40, 80).mkString(" ")))
    CurateInput(eval, batch(seed, 1, eval))
  }
}

/** SHA-256 over a canonical dump of a workload's generated inputs. */
object Digest {
  def of(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0x1e.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def serve(in: ServeInput): String = of(
    in.docs.iterator.map(_.toString) ++ in.tasks.iterator.map(_.toString) ++
      in.chats.iterator.map(_.toString) ++ (in.warmup ++ in.ops).iterator.map(_.toString))

  def ingest(in: IngestInput): String = {
    def step(s: IngestStep): Iterator[String] = s match {
      case Commit(k, ops) => Iterator(k) ++ ops.iterator.map(_.toString)
      case Read(keys) => Iterator("read" +: keys: _*)
      case other => Iterator(other.kind)
    }
    val b = in.curate.batch
    of(in.base.iterator.map(_.toString) ++ (in.warmup ++ in.coldWarmup ++ in.steps).iterator.flatMap(step) ++
      in.curate.eval.iterator.map(_.toString) ++ b.docs.iterator.map(_.toString) ++
      b.clusters.iterator.map(_.mkString(",")) ++ Iterator(b.contaminated.mkString(",")))
  }
}
