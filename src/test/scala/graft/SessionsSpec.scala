package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Pins what `graft.util.Sessions.local` sets, on the suite's own
  * session (built by `Sessions.local(4)`), and keeps it the only session
  * builder besides `Bench`'s, so hand-written builders cannot drift
  * apart again in master, shuffle partitions, extensions or zone. */
class SessionsSpec extends SparkSpec {

  test("the factory session: local[cpus], cpus shuffle partitions, UTC, extensions") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.ui.enabled") === "false")
    val sim = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D))").head().getDouble(0)
    assert(sim === 1.0)
  }

  test("only util/Sessions.scala and Bench.scala call the session builder in code") {
    val needle = "SparkSession" + ".builder"
    def scalaFiles(root: String): Seq[Path] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val users = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(p => Files.readAllLines(p).asScala.exists(l => !isComment(l) && l.contains(needle)))
      .map(_.toString).sorted
    assert(users === Seq(
      "src/main/scala/graft/Bench.scala", "src/main/scala/graft/util/Sessions.scala"))
  }
}
