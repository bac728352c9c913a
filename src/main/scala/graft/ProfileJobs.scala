package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}
import graft.util.Sessions

/** Per-Spark-job wall-clock profile of one declared query: runs the
  * query lambda under a listener that records every job's start/end and
  * callsite, so the fixed-overhead decomposition of a staged lineage
  * (how many jobs each commit launches, and what each costs) is visible
  * without the UI.
  *
  * Usage: runMain graft.ProfileJobs <queryName> [queryName...]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val repeat = 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)
    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = j.stageInfos.map(_.name).mkString(" | ")
        jobs += Job(j.jobId, d, j.time)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == j.jobId).foreach(_.end = j.time)
      }
    })
    args.foreach { name =>
      (1 to repeat).foreach { i =>
        jobs.synchronized(jobs.clear())
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val tBuild = System.nanoTime()
        val n = df.count()
        val t1 = System.nanoTime()
        Thread.sleep(300) // let listener events drain
        println(f"=== $name run $i: total ${(t1 - t0) / 1e9}%.3f s (build ${(tBuild - t0) / 1e9}%.3f, serve ${(t1 - tBuild) / 1e9}%.3f), $n rows, ${jobs.size} jobs")
        if (i == repeat) {
          var prevEnd = 0L
          jobs.synchronized(jobs.toSeq).sortBy(_.start).foreach { j =>
            val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
            prevEnd = math.max(prevEnd, j.end)
            // a job whose end event has not drained yet must not print a
            // huge negative duration and corrupt the gap accounting
            val dur = if (j.end == 0L) "  running" else
              f"${(j.end - j.start) / 1e3}%8.3f s"
            println(f"  job ${j.id}%3d $dur  (gap ${gap}%6.3f)  ${j.desc.take(120)}")
          }
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
