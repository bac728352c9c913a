package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.kb.KnowledgeBase
import graft.operators.LexicalIndex
import graft.safety.SqlSafety
import graft.schema.Schemas
import graft.search.{HashEmbedder, SearchService}

/** The chat-turn read path: knowledge-base vector and hybrid search and
  * parameterized SQL, one client, no writes. */
final class Serve(in: ServeInput, dir: Path) extends Workload {
  val name = "serve"
  val kinds = Seq("vector", "hybrid", "sql")
  val headline = kinds
  val cycle = ServeGen.Cycle.size
  val K = 5
  val Clusters = 4
  val Probe = 2
  private val embedder = HashEmbedder(Schemas.EmbeddingDim)
  private def kbDir = dir.resolve("input/knowledge_base").toString
  private var g: GraftSession = _
  private var ivf: Path = _
  private var lex: Path = _
  private var pos = 0

  /** One query shape for every `sql` op: a chat session's users' tasks
    * of one priority, per status, with the session's token use. */
  private val Query =
    "SELECT t.status, COUNT(*) AS n, SUM(c.tokens_used) AS tokens " +
      "FROM tasks t JOIN chat_history c ON c.user_id = t.assigned_to " +
      "WHERE t.priority = :pr AND c.session_id = :sid GROUP BY t.status ORDER BY t.status"

  def prepare(spark: SparkSession): Unit = {
    val t0 = new java.sql.Timestamp(1767225600000L)
    val kbRows = in.docs.toSeq.map(d => Row(d.id, d.content, null, d.sourceType,
      s"https://kb.example/doc/${d.id}", s"doc ${d.id}", 0, null, t0, null,
      0.5, 0.5, 0.0, "{}", t0))
    val noVec = Schemas.knowledgeBase.filterNot(_.name == "embedding")
    val docs = spark.createDataFrame(java.util.Arrays.asList(kbRows: _*),
      org.apache.spark.sql.types.StructType(noVec))
    embedder.embedColumn(docs, "content", "embedding")
      .select(Schemas.knowledgeBase.fieldNames.map(col): _*)
      .write.parquet(kbDir)
    val tasks = in.tasks.toSeq.map(t => Row(t.id, t.name, t.status, t.progress,
      t.assignedTo, t.priority, s"about ${t.name}", t0, t0, t0, "{}"))
    spark.createDataFrame(java.util.Arrays.asList(tasks: _*), Schemas.tasks)
      .write.parquet(dir.resolve("input/tasks").toString)
    val chats = in.chats.toSeq.map(c => Row(c.id, c.sessionId, c.userId, c.role,
      c.content, null, null, null, null, c.tokensUsed, t0, "{}"))
    spark.createDataFrame(java.util.Arrays.asList(chats: _*), Schemas.chatHistory)
      .write.parquet(dir.resolve("input/chat_history").toString)
  }

  def setup(spark: SparkSession, round: Int, c: Client): Unit = {
    ivf = dir.resolve(s"setup$round/ivf")
    lex = dir.resolve(s"setup$round/lexical")
    g = GraftSession(spark, embedder).loadKnowledgeBase(spark.read.parquet(kbDir))
    c.trace("setup.index_knowledge", round)(
      g.indexKnowledge(ivf.toString, Clusters, Probe, kmeansIters = 1))
    c.trace("setup.build_lexical_index", round)(g.buildLexicalIndex(lex.toString))
    spark.read.parquet(dir.resolve("input/tasks").toString).createOrReplaceTempView("tasks")
    spark.read.parquet(dir.resolve("input/chat_history").toString)
      .createOrReplaceTempView("chat_history")
    in.warmup.foreach(run(c, _))
  }

  def next(c: Client): Unit = {
    run(c, in.ops(pos % in.ops.length))
    pos += 1
  }

  private def text(doc: Int) = in.docs(doc).content

  private def run(c: Client, op: ServeOp): Unit = op match {
    case VectorOp(d) =>
      c.op("vector", 1)(g.searchKnowledge(text(d), K).select("id", "similarity")
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))) { rows =>
        val q = embedder.embed(Seq(text(d))).head
        Checks.vector(rows, d.toLong, K,
          id => Ref.cosineDistance(q, embedder.embed(Seq(in.docs(id.toInt).content)).head))
      }
    case HybridOp(d) =>
      c.op("hybrid", 1)(g.hybridSearchKnowledge(text(d), K)
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))) { rows =>
        Checks.hybrid(rows, d.toLong, K)
      }
    case SqlOp(pr, sid) =>
      c.op("sql", 1)(g.sql(Query, Map("pr" -> pr, "sid" -> sid))
        .fold(v => throw new IllegalStateException(s"refused: $v"),
          _.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))) { rows =>
        Checks.rowsEqual("sql", rows, Ref.sessionTasks(in.tasks.toSeq, in.chats.toSeq, pr, sid))
      }
  }

  def digest: String = Digest.serve(in)

  def storedBytesPerRow: Double = (Jvm.dirBytes(ivf) + Jvm.dirBytes(lex)).toDouble / in.docs.length

  private var recall = Seq.empty[Double]

  def probe(c: Client): Unit = {
    val spark = g.spark
    val exactKb = spark.read.parquet(kbDir)
    val r = Rng(in.docs.length.toLong, "serve-probe")
    recall = (0 until 8).map { i =>
      val q = Text.capped(r, 6, 80)
      val processed = c.trace("search.preprocess", i)(SearchService.preprocess(spark, q))
      c.trace("safety.validate", i) {
        SqlSafety.validateText(Query)
        SqlSafety.validatePlan(spark.sql(Query, Map("pr" -> "High", "sid" -> "s0001"))
          .queryExecution.analyzed)
      }
      val qv = embedder.embed(Seq(processed)).head
      val got = c.trace("kb.ivf", i)(KnowledgeBase.matchDocuments(g.knowledgeBase, qv, K)
        .select("id").collect().map(_.getLong(0)).toSet)
      val exact = KnowledgeBase.matchDocuments(exactKb, qv, K)
        .select("id").collect().map(_.getLong(0)).toSet
      c.trace("operators.bm25", i)(LexicalIndex.bm25TopK(spark, lex.toString, "id",
        processed.split(" ").distinct.toSeq, 50).collect())
      (got & exact).size.toDouble / K
    }
  }

  def layerMetrics(c: Client, work: Map[Int, SpanWork]): Map[String, Double] = {
    import Workload._
    Map(
      "plans.ivf_input_bytes" -> medianOf(spansOf(c, work, "kb.ivf"))(_.inputBytes.toDouble),
      "kb.recall_at_k" -> recall.sum / recall.size,
      "operators.bm25_ms" -> medianOf(spansOf(c, work, "operators.bm25"))(_.span.durMs),
      "operators.bm25_jobs" -> medianOf(spansOf(c, work, "operators.bm25"))(_.jobs.toDouble),
      "search.preprocess_ms" -> medianOf(spansOf(c, work, "search.preprocess"))(_.span.durMs),
      "safety.validate_ms" -> medianOf(spansOf(c, work, "safety.validate"))(_.span.durMs))
  }
}
