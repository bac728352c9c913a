package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import graft.util.Sessions

/** Dump `.explain("formatted")` for named queries to plans/<tag>/<name>.txt.
  *
  * Usage: runMain graft.PlanDump <tag-or-dir> [queryPrefix...]
  * e.g. `runMain graft.PlanDump r17/before q122 q105` writes
  * plans/r17/before/q122_... .txt etc. With no prefixes, dumps every query.
  *
  * Session settings mirror Bench/Verify (same cpus, shuffle partitions,
  * UTC) so the captured plan is the one the bench actually executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r17")
    val prefixes = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(outDir.resolve(s"$name.txt"), txt)
        println(s"[plandump] wrote $name (${txt.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
