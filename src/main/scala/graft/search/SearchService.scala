package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions
import graft.kb.KnowledgeBase
import graft.operators.Dedup

/** The reference's multi-source search pipeline (SURVEY §3.1,
  * `backend/services/search_service.py:118-217`): preprocess → fan out
  * to sources → union → URL-dedup (first occurrence wins in source
  * order) → truncate → format → embed+upsert side effect.
  *
  * Source order is the reference's insertion order: stackoverflow,
  * github, official_doc, spark_docs (`search_service.py:154-170`) —
  * Python's seen-set order has no distributed analog, so the priority
  * is an explicit column (SURVEY §7 hard-parts).
  */
object SearchService {

  /** In-flight search result (`backend/services/search_clients.py:64-72`). */
  val documentSchema: StructType = StructType(Seq(
    StructField("content", StringType, nullable = false),
    StructField("title", StringType, nullable = true),
    StructField("source_type", StringType, nullable = false),
    StructField("source_url", StringType, nullable = true),
    StructField("rank", IntegerType, nullable = false)))

  /** A pluggable source: returns Documents for a (processed) query.
    * Real impls are HTTP connectors (out-of-engine, S9); tests use
    * fixture DataFrames. Failures must yield an empty frame of
    * [[documentSchema]] — the reference swallows per-source errors
    * (`search_service.py:163-170`). */
  trait Source extends Serializable {
    def name: String
    def search(spark: SparkSession, query: String, maxResults: Int): DataFrame
  }

  /** A [[Source]] whose `search` already returns a bounded,
    * MATERIALIZED frame (≤ maxResults rows, localCheckpointed) — e.g.
    * [[graft.util.Retry.source]], which must force the plan inside its
    * retry loop. [[fanOutSearch]] skips its own limit+checkpoint for
    * these instead of materializing a second redundant copy. */
  trait EagerSource extends Source

  val SourcePriority: Seq[String] =
    Seq("stackoverflow", "github", "official_doc", "spark_docs")

  private def priorityCol(c: Column): Column =
    SourcePriority.zipWithIndex.foldLeft(lit(SourcePriority.size)) {
      case (acc, (s, i)) => when(c === s, i).otherwise(acc)
    }

  /** Fan-out + union + order-preserving URL dedup + limit
    * (J6 + J7/D2 + O7). */
  def fanOutSearch(
      spark: SparkSession, sources: Seq[Source], query: String,
      maxResults: Int, sourceTimeoutMs: Long = 60000L): DataFrame = {
    val processed = preprocess(spark, query)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], documentSchema)
    // The reference swallows per-source errors (`search_service.py:163-170`).
    // DataFrames are lazy, so a plan that fails at action time (the realistic
    // HTTP-connector failure mode) would escape a bare try around `search`;
    // force each source's bounded result eagerly (limit + localCheckpoint)
    // so action-time failures are caught here and degrade to an empty frame.
    // An EagerSource (Retry.source) has already done exactly that inside
    // its retry loop — re-checkpointing it would materialize a second
    // redundant copy, so those pass through as-is.
    // Sources run CONCURRENTLY (the reference fans out, and Spark's
    // scheduler is thread-safe): fan-out latency is max(source), not
    // sum(source) — with serial dispatch four 2 s connectors cost 8 s.
    // Each call is wrapped in blocking{} (it blocks on Spark actions /
    // connector I/O, and the global fork-join pool would otherwise
    // starve when sources outnumber cores), and the whole fan-out shares
    // ONE deadline: a hung connector — a hang is not an exception, so
    // the try can't catch it — degrades to the empty frame at the
    // deadline instead of blocking the search forever. The hung thread
    // itself is abandoned (JVM threads aren't cancellable), which
    // matches the reference's fire-and-forget timeout behavior.
    val frames = {
      import scala.concurrent.{Await, ExecutionContext, Future, blocking}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futures = sources.map { s =>
        Future {
          blocking {
            try s match {
              case _: EagerSource => s.search(spark, processed, maxResults)
              case _ => s.search(spark, processed, maxResults)
                .limit(maxResults).localCheckpoint(true)
            } catch { case _: Exception => empty }
          }
        }
      }
      val deadlineNs = System.nanoTime() + sourceTimeoutMs * 1000000L
      futures.map { f =>
        val remainMs = math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L)
        try Await.result(f, remainMs.millis)
        catch { case _: java.util.concurrent.TimeoutException => empty }
      }
    }
    val unioned = frames.foldLeft(empty)(_ unionByName _)
      .withColumn("src_priority", priorityCol(col("source_type")))
      // the reference appends only truthy-URL documents
      // (`search_service.py:176`: `if doc.source_url and ...`) — null/empty
      // URLs are dropped, never grouped into one dedup partition
      .filter(col("source_url").isNotNull && col("source_url") =!= "")
    // first occurrence wins: source priority, then per-source rank
    Dedup.firstWins(unioned, Seq("source_url"),
        Seq(asc("src_priority"), asc("rank")))
      .orderBy(asc("src_priority"), asc("rank"))
      .limit(maxResults)
      .drop("src_priority")
      .withColumn("content",
        when(length(col("content")) > 500,
          concat(substring(col("content"), 1, 500), lit("..."))).otherwise(col("content")))
  }

  /** F1 preprocessing applied to a single driver-side query string,
    * with no planning per call. [[TextFunctions.preprocessSearchQuery]]'s
    * expression is analyzed over a one-column relation once per session
    * and bound to that column; each call evaluates the bound expression
    * on one `InternalRow`. A DataFrame over the column runs this same
    * `Expression` (a one-row local frame interprets it through
    * `ConvertToLocalRelation`), so the two cannot drift, and no call
    * plans a query. Calls on one session share the bound expression
    * and evaluate it one at a time: the regex expressions inside it
    * cache their compiled pattern and result buffer in mutable fields. */
  def preprocess(spark: SparkSession, query: String): String = {
    val e = boundPreprocess(spark)
    e.synchronized(e.eval(InternalRow(UTF8String.fromString(query)))).toString
  }

  private val preprocessBySession =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, Expression]())

  private def boundPreprocess(spark: SparkSession): Expression =
    preprocessBySession.computeIfAbsent(spark, s => {
      val q = s.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq(StructField("q", StringType))))
      q.select(TextFunctions.preprocessSearchQuery(col("q"))).queryExecution.analyzed match {
        case Project(Seq(e), child) => BindReferences.bindReference(e, child.output)
        case other => throw new IllegalStateException(s"unexpected preprocess plan:\n$other")
      }
    })

  /** Context→source mapping (F13, `backend/tools/search_tools.py:48-56`). */
  val contextSourceMap: Map[String, String] = Map(
    "error" -> "stackoverflow",
    "code_example" -> "github",
    "documentation" -> "official_doc",
    "best_practice" -> "official_doc")

  /** §3.1 steps 5-6: dedup'd results → embed → content-hash upsert into
    * the knowledge base; returns the post-merge KB. */
  def upsertResults(
      kb: DataFrame, results: DataFrame, embedder: Embedder): DataFrame = {
    val embedded = embedder.embedColumn(results, "content", "embedding")
    KnowledgeBase.upsertDocuments(kb, embedded)
  }

  /** The flagship `smart_search` lifecycle end-to-end (SURVEY §3.1):
    * context→source mapping → preprocess → fan-out → dedup → limit →
    * embed + upsert side-effect → formatted results.
    *
    * @return (formatted results, knowledge base after the upsert)
    */
  def smartSearch(
      spark: SparkSession, sources: Seq[Source], kb: DataFrame,
      embedder: Embedder, query: String, context: Option[String] = None,
      maxResults: Int = 5): (DataFrame, DataFrame) = {
    val wanted = context.flatMap(contextSourceMap.get)
    val active = wanted match {
      case Some(s) => sources.filter(_.name == s)
      case None    => sources
    }
    val results = fanOutSearch(spark, active, query, maxResults)
    val mergedKb = upsertResults(kb, results, embedder)
    (results, mergedKb)
  }
}

/** Embedding connector (V1, `backend/services/vector_service.py:26-84`):
  * the OpenAI client in production; hermetic deterministic impl for
  * tests. Batching mirrors the reference's BATCH_SIZE=100 via
  * mapPartitions + grouped(batchSize). */
trait Embedder extends Serializable {
  def dim: Int
  def batchSize: Int = 100
  def embed(batch: Seq[String]): Seq[Array[Float]]

  /** Add an embedding column, batched per partition — the 100 TB path:
    * no driver round-trip, connector called once per `batchSize` texts.
    * Null texts (e.g. a malformed streaming request) embed as "" so the
    * connector cannot NPE and poison a replaying micro-batch. */
  def embedColumn(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val idx = df.schema.fieldIndex(textCol)
    val self = this
    graft.util.BatchedRows.appendFloatArray(df, outCol, batchSize)(rows =>
      self.embed(rows.map(r => if (r.isNullAt(idx)) "" else r.getString(idx))))
  }
}

/** Deterministic hash-based embedder (unit-norm) for tests — stands in
  * for text-embedding-3-small exactly like the reference's mocks. */
case class HashEmbedder(dim: Int = 64) extends Embedder {
  def embed(batch: Seq[String]): Seq[Array[Float]] = batch.map { text =>
    val v = Array.tabulate(dim) { i =>
      val h = scala.util.hashing.MurmurHash3.stringHash(text, i)
      (h.toDouble / Int.MaxValue).toFloat
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    if (norm == 0f) v else v.map(_ / norm)
  }
}
