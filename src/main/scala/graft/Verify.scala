package graft
import java.nio.file.{Files, Paths}
import graft.util.Sessions
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict
    // the dump (developer iteration); the driver passes exactly two.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Sessions.local(Sessions.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else try {
        // stale-output guard: remove the previous run's dump BEFORE
        // executing, so a query that fails at analysis time (before
        // mode("overwrite") touches anything) leaves a MISSING output —
        // graded as a failure — instead of the prior round's parquet
        // being silently graded as a pass
        graft.util.Fs.deleteRecursively(Paths.get(s"$outDir/$name"))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape (shared with Bench): a tab or CR in builder-
    // authored SQL would otherwise make the driver's json.load fail and
    // silently zero the round's correctness.
    def q(s: String): String = graft.util.JsonEscape.string(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
