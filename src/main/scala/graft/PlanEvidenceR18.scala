package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Plan evidence for the round-18 writer-path literal fusion: the
  * before/after physical shapes of the three per-commit key probes
  * that [[graft.sources.MergeTable]] now drives from ONE collected
  * literal list ([[graft.sources.KeySet.Literals]]) instead of per-consumer
  * broadcast builds. Shapes are built over a real staged row-level
  * table (the q144 lineage) so the dumped plans are the ones the
  * bench executes.
  *
  * Usage: runMain graft.PlanEvidenceR18
  */
object PlanEvidenceR18 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = Paths.get("plans/r18")
    Files.createDirectories(out)
    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(out.resolve(s"$name.txt"), txt)
      println(s"[evidence] wrote $name")
    }
    // stage the q144 lineage up to the deleteLite call
    val docs = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    def slice(lo: Int, hi: Int) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 40).as("head"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ev18")
    val t = tmp.toString + "/t"
    graft.sources.MergeTable.init(spark, t, slice(0, 300))
    graft.sources.MergeTable.mergeLite(spark, t, slice(200, 350), Seq("doc_id"))
    val snap = graft.sources.MergeTable.snapshot(spark, t)
    val deltaDf = graft.sources.MergeTable.relationFor(spark, snap.delta, Nil,
      Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("head",
          org.apache.spark.sql.types.StringType)))))
    // the q144 delete batch, both representations
    val kFrame = docs.filter(
        (col("doc_id") >= 100 && col("doc_id") < 130) ||
        (col("doc_id") >= 210 && col("doc_id") < 215))
      .select(col("doc_id")).distinct().localCheckpoint(true)
    val kLits: Seq[Any] = kFrame.collect().map(_.get(0)).toSeq

    // 1) delta overlap probe
    dump("internal_delta_probe_before_broadcast",
      deltaDf.select(col("doc_id"))
        .join(broadcast(kFrame.withColumn("__hit0", lit(true))),
          Seq("doc_id"), "left")
        .agg(count(lit(1)), count(col("__hit0"))))
    dump("internal_delta_probe_after_isin",
      deltaDf.agg(count(lit(1)),
        count(when(col("doc_id").isin(kLits: _*), lit(1)))))
    // 2) delta survivor re-write input
    dump("internal_survivors_before_antijoin",
      deltaDf.join(broadcast(kFrame), Seq("doc_id"), "left_anti"))
    dump("internal_survivors_after_notin",
      deltaDf.filter(col("doc_id").isNull || !col("doc_id").isin(kLits: _*)))
    // 3) scope discovery over the base (In pushdown — unchanged shape,
    //    now fed from the already-collected list instead of a fresh
    //    collect job; dumped to show PushedFilters carries the keys)
    val base = graft.sources.MergeTable.relationFor(spark, snap.entries,
      Nil, None)
    dump("internal_discovery_in_pushdown",
      base.filter(col("doc_id").isin(kLits: _*))
        .select(input_file_name().as("__file")).distinct())
    graft.util.Checkpoints.free(kFrame)

    // 4) the READ-path suppression (round-18 session 2): a table whose
    //    manifest records the suppression key set (dvlits) reads with a
    //    literal NOT-In filter — no union+distinct exchange, no
    //    broadcast build, no tombstone-file scan. Before = the same
    //    table with the dvlits line stripped (the pre-dvlits manifest),
    //    which rebuilds the broadcast anti-join.
    val t2 = tmp.toString + "/t2"
    graft.sources.MergeTable.init(spark, t2, slice(0, 300))
    graft.sources.MergeTable.mergeLite(spark, t2, slice(200, 350), Seq("doc_id"))
    val delKeys = spark.range(100, 130).select(col("id").as("doc_id"))
    graft.sources.MergeTable.deleteLite(spark, t2, delKeys, Seq("doc_id"))
    dump("internal_read_suppression_after_notin",
      graft.sources.MergeTable.read(spark, t2))
    // strip dvlits into a fresh version: the broadcast-path manifest
    locally {
      val root = new org.apache.hadoop.fs.Path(t2)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
      val v = graft.sources.Manifests.latestVersion(fs, mdir).get
      graft.sources.Manifests.commit(fs, mdir, v + 1,
        graft.sources.Manifests.read(fs, mdir, v)
          .filterNot(_.startsWith("dvlits\t")))
    }
    dump("internal_read_suppression_before_broadcast",
      graft.sources.MergeTable.read(spark, t2))
    graft.util.Fs.deleteRecursively(tmp)
    spark.stop()
  }
}
