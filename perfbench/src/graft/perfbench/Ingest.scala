package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.analytics.Profile
import graft.sources.MergeTable
import graft.streaming.{CdcOp, JobProcessor}

/** The job stream: one writer feeds CDC micro-batches through a
  * MemoryStream into a keyed, bloom-filtered MergeTable, with a point
  * read after each batch; a profile and a maintenance pass follow the
  * window. */
final class Ingest(in: IngestInput, dir: Path) extends Workload {
  val name = "ingest"
  val kinds = Seq("commit_small", "commit_large", "read", "profile", "maintain", "pass")
  /** Profile and maintain run once a run, after the window, and `pass`
    * in the traced run's probes only: they are reported per layer. */
  val headline = Seq("commit_small", "commit_large", "read")
  val cycle = IngestGen.Cycle.size
  /** Fold past 200 tombstones (fewer than one cycle's deletes) and reclaim
    * every unreferenced file at once: with one client, no reader still
    * holds a superseded version. */
  val Policy = MergeTable.MaintenancePolicy(
    foldAtTombstoneRows = Some(200L), vacuumRetainMillis = Some(0L))
  private val curate = new Curate(in.curate, dir)

  private var spark: SparkSession = _
  private var table: String = _
  private var stream: MemoryStream[CdcOp] = _
  private var query: StreamingQuery = _
  private var model: IngestModel = _
  private var pos = 0
  private var stored = 0.0
  private var cdcBytes = 0L
  private var readRows = 0L
  /** Per commit kind: the stream engine's own time per commit, from its
    * progress reports (trigger execution minus the sink's `addBatch`). */
  private val streamSelfMs = collection.mutable.Map[String, collection.mutable.ArrayBuffer[Double]]()

  private def baseDir = dir.resolve("input/base").toString

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    in.base.toSeq.toDF().drop("op").write.parquet(baseDir)
    curate.prepare(spark)
  }

  def setup(spark: SparkSession, round: Int, c: Client): Unit = {
    this.spark = spark
    table = dir.resolve(s"setup$round/table").toString
    MergeTable.init(spark, table, spark.read.parquet(baseDir), bloomKeys = Seq("key"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    stream = MemoryStream[CdcOp]
    query = JobProcessor.runChangesToMergeTable(spark, stream.toDF(), table,
      dir.resolve(s"setup$round/checkpoint").toString)
    model = new IngestModel(in.base.toSeq)
    in.warmup.foreach(run(c, _))
    if (round == 0) in.coldWarmup.foreach(run(c, _))
  }

  override def teardown(): Unit = if (query != null) query.stop()

  override def onWindow(): Unit = { cdcBytes = 0L; readRows = 0L; streamSelfMs.clear() }

  def next(c: Client): Unit = {
    run(c, in.steps(pos % in.steps.length))
    pos += 1
  }

  private def run(c: Client, step: IngestStep): Unit = step match {
    case Commit(kind, ops) =>
      val before = query.recentProgress.lastOption.fold(-1L)(_.batchId)
      c.op(kind, ops.length) {
        stream.addData(ops.toSeq)
        query.processAllAvailable()
      } { _ =>
        model(ops.toSeq)
        cdcBytes += ops.map(o => 16L + o.key.length + o.op.length +
          Option(o.payload).fold(0)(_.length)).sum
        val batches = query.recentProgress.filter(_.batchId > before)
        streamSelfMs.getOrElseUpdate(kind, collection.mutable.ArrayBuffer()) +=
          batches.map { p =>
            def ms(phase: String) = Option(p.durationMs.get(phase)).fold(0L)(_.longValue)
            (ms("triggerExecution") - ms("addBatch")).toDouble
          }.sum
        val consumed = batches.map(_.numInputRows).sum
        Checks.commit(consumed, ops.length, query.exception.map(_.toString))
      }
    case Read(keys) =>
      c.op("read", 1)(MergeTable.read(spark, table).filter(col("key").isin(keys.toSeq: _*))
        .select("key", "seq", "payload").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap) { got =>
        readRows += got.size
        Checks.read(got, model.read(keys.toSeq))
      }
    case ProfileStep =>
      c.op("profile", 1)(Profile.profile(MergeTable.read(spark, table), Seq("key", "seq"))
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5)))) { rows =>
        Checks.rowsEqual("profile", rows, Ref.profile(model.live))
      }
    case MaintainStep =>
      c.op("maintain", 1)(MergeTable.maintain(spark, table, Policy)) { _ =>
        val info = MergeTable.describe(spark, table)
        val p = info.pressure
        stored = (info.baseBytes + p.deltaBytes + p.tombstoneBytes).toDouble / model.live.size
        val n = MergeTable.read(spark, table).count()
        Checks.rowsEqual("live rows after maintain", Seq(n), Seq(model.live.size.toLong))
      }
  }

  def digest: String = Digest.ingest(in)

  override def afterWindow(c: Client): Unit = {
    run(c, ProfileStep)
    // the row-level state the window's commits left, before the fold
    if (c.trace.on) info = MergeTable.describe(spark, table)
    run(c, MaintainStep)
  }

  def storedBytesPerRow: Double = stored

  private var info: MergeTable.TableInfo = _

  def probe(c: Client): Unit = {
    val keys = in.steps.collectFirst { case Read(k) => k }.get.toSeq
    (0 until 8).foreach { i =>
      c.trace("sources.snapshot", i)(MergeTable.snapshot(spark, table))
      c.trace("sources.read_plan", i)(MergeTable.read(spark, table)
        .filter(col("key").isin(keys: _*)).queryExecution.executedPlan)
    }
    curate.probe(spark, c)
  }

  def layerMetrics(c: Client, work: Map[Int, SpanWork]): Map[String, Double] = {
    import Workload._
    val commits = spansOf(c, work, "commit_small") ++ spansOf(c, work, "commit_large")
    val reads = spansOf(c, work, "read")
    Map(
      "sources.snapshot_ms" -> medianOf(spansOf(c, work, "sources.snapshot"))(_.span.durMs),
      "sources.read_plan_ms" -> medianOf(spansOf(c, work, "sources.read_plan"))(_.span.durMs),
      "sources.rows_read_per_result" ->
        reads.map(_.inputRecords).sum.toDouble / math.max(1L, readRows),
      "sources.write_amp" -> commits.map(_.outputBytes).sum.toDouble / math.max(1L, cdcBytes),
      "sources.maintain_bytes_rewritten" ->
        medianOf(spansOf(c, work, "maintain"))(_.outputBytes.toDouble),
      "sources.delta_files" -> info.pressure.deltaFiles.toDouble,
      "sources.tombstone_rows" -> info.pressure.tombstoneRows.toDouble,
      "sources.manifest_bytes" -> info.manifestBytes.toDouble,
      "streaming.self_ms.commit_small" -> Stats.median(streamSelfMs("commit_small").toSeq),
      "streaming.self_ms.commit_large" -> Stats.median(streamSelfMs("commit_large").toSeq),
      "analytics.profile_ms" -> medianOf(spansOf(c, work, "profile"))(_.span.durMs)) ++
      curate.layerMetrics(c, work)
  }
}
