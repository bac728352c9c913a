package graft

import org.apache.spark.sql.functions._

import graft.sources.MergeTable
import graft.util.Sessions

/** Scale validation for the storage-level keyed MERGE: a 10M-row table
  * compacted into key-range-sorted files, then narrow/scattered merges,
  * a narrow delete, and vacuum — demonstrating that rewrite cost tracks
  * the files actually HIT (the point of keyed storage MERGE), with the
  * update key range pruned at the parquet footer level. Run manually:
  * `sbt "runMain graft.StorageScaleDemo"`.
  */
object StorageScaleDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)
    import spark.implicits._

    val n = sys.env.getOrElse("STORAGE_SCALE_ROWS", "10000000").toLong
    val files = 32
    val path = java.nio.file.Files
      .createTempDirectory("storage_scale").toString + "/tbl"

    import graft.util.Timing.time
    def rows(r: org.apache.spark.sql.DataFrame) =
      r.select(col("id"), md5(col("id").cast("string")).as("payload"))

    time(f"init $n%,d rows") {
      MergeTable.init(spark, path, rows(spark.range(n).toDF()))
    }
    time(s"compact into $files key-sorted files") {
      MergeTable.compactTable(spark, path, "id", numFiles = files)
    }
    // narrow merge: 1k contiguous keys — range pushdown should confine
    // the rewrite to ~1 file out of 32
    val narrow = time("merge 1k contiguous keys") {
      MergeTable.merge(spark, path,
        rows(spark.range(5000000L, 5001000L).toDF()),
        Seq("id"))
    }
    println(s"  -> hit=${narrow.filesRewritten} kept=${narrow.filesKept} written=${narrow.filesWritten}")
    require(narrow.filesRewritten <= 2,
      s"narrow merge must hit <=2 of $files files, hit ${narrow.filesRewritten}")
    // scattered merge: 1k keys spread across the whole range — every
    // file is hit; the cost bound is the table rewrite, honestly
    val scattered = time("merge 1k scattered keys") {
      MergeTable.merge(spark, path,
        rows(spark.range(0L, n, n / 1000L).toDF()),
        Seq("id"))
    }
    println(s"  -> hit=${scattered.filesRewritten} kept=${scattered.filesKept} written=${scattered.filesWritten}")
    val del = time("deleteWhere 100k-key contiguous range") {
      MergeTable.deleteWhere(spark, path,
        col("id") >= 1000000L && col("id") < 1100000L)
    }
    println(s"  -> hit=${del.filesRewritten} kept=${del.filesKept} written=${del.filesWritten}")
    val removed = time("vacuum (retain=0, exclusive)") {
      MergeTable.vacuum(spark, path, retainMillis = 0)
    }
    println(s"  -> removed $removed orphaned files")
    val cnt = time("full read + count") {
      MergeTable.read(spark, path).count()
    }
    println(s"  -> $cnt rows (expect ${n - 100000})")
    require(cnt == n - 100000, s"row count drifted: $cnt")
    spark.stop()
  }
}
