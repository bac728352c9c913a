package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.{Tables => T}
import graft.util.Sessions

/** Scratch profiler for the q33/q38/q80 chain (not part of the contract). */
object ProfileQ80 {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)

    import graft.util.Timing.time

    // warmup
    val docs = T.documents(spark, d)
    docs.count()
    Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.8).count()

    for (round <- 1 to 2) {
      println(s"--- pass $round ---")
      val pairs = time("STAGE minhash pairs") {
        val p = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.8)
          .select(col("id_a"), col("id_b"))
        p.count(); p
      }
      val clusters = time("STAGE dupClusters (CC)") {
        val c = Dedup.dupClusters(docs, "doc_id", pairs)
        c.count(); c
      }
      time("STAGE keepBest full") {
        Dedup.keepBestPerCluster(docs, "doc_id", pairs,
          Seq(desc("n_chars"), asc("doc_id"))).count()
      }
      time("STAGE q80 entry end-to-end") {
        SparkEntry.queries("q80_keep_best")(spark, d).count()
      }
      time("STAGE q38 entry end-to-end") {
        SparkEntry.queries("q38_dup_clusters")(spark, d).count()
      }
    }
    spark.stop()
  }
}
