package graft.util

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** The one local `SparkSession` builder for the mains and the test
  * suite (`graft.Bench` keeps its own: it is the driver contract). One
  * definition so master, shuffle partitions, extensions and session
  * zone cannot drift apart across the harnesses. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, default 4 — the core count `Bench` reads. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with `cpus` shuffle partitions, the engine's SQL
    * functions and planner rule ([[GraftExtensions]]), a UTC session
    * zone, no UI, and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
