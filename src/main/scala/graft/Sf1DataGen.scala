package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Generate a 10× ("sf1") dataset from the driver's sf0.1 tables, for
  * the scale-step bench (`SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt
  * "runMain graft.Bench"` → BENCH_sf1.json). The driver ships
  * sf{0.001,0.01,0.1} only; this replicates sf0.1 ten times with the
  * relationships that make the copy a WELL-FORMED larger instance
  * rather than a dup-bomb:
  *
  *  - **copy 0 is byte-identical to sf0.1** — every fixed literal in
  *    the query suite (BM25 terms, query vectors by vec_id, date
  *    windows) matches exactly the rows it matched at sf0.1;
  *  - fact/entity keys shift by copy × 10^9, so FK joins
  *    (orders↔lineitem↔part/supplier, orders↔customer) stay 1:1 with
  *    the original — 10× rows join to 10× rows, never a cross-copy
  *    fan-out; region/nation are DIMENSIONS (5/25 rows) and stay
  *    unscaled, like TPC-H itself;
  *  - document text in copies 1-9 gets a copy-prefixed vocabulary
  *    (the RetrievalScaleDemo trick): dedup/BM25/span operators see
  *    10× the clusters/terms, not 10-way cross-copy duplicate
  *    classes that would change the problem shape superlinearly;
  *  - embeddings in copies 1-9 get deterministic per-dim noise (±0.3,
  *    cosine vs the original ≈ 0.5-0.6), so vector near-dup/kNN work
  *    scales in corpus size instead of drowning in exact-tie copies;
  *  - `events` is read through the schema-adaptive [[Tables.events]]
  *    and written back as TIMESTAMP(MICROS)/NTZ — the driver's
  *    round-7+ provision format — so the sf1 bench exercises exactly
  *    the encoding the engine is graded on (the loader's NTZ branch).
  *
  * Idempotent: skips tables whose _SUCCESS marker exists.
  * Run: `sbt "runMain graft.Sf1DataGen [outDir] [copies]"`.
  */
object Sf1DataGen {
  private val Shift = 1000000000L

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val spark = Sessions.local(Sessions.envCpus)

    def done(name: String) =
      new java.io.File(s"$out/$name.parquet", "_SUCCESS").exists()
    def write(name: String, df: DataFrame, files: Int): Unit = {
      if (!done(name)) {
        df.repartition(files).write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"wrote $name")
      } else println(s"skip $name (exists)")
    }
    val reps = spark.range(copies).select(col("id").as("copy"))
    def replicated(name: String): DataFrame =
      Tables.table(spark, src, name).crossJoin(reps)
    def shifted(df: DataFrame, keys: Seq[String]): DataFrame =
      keys.foldLeft(df)((d, k) =>
        d.withColumn(k, col(k) + col("copy") * Shift)).drop("copy")

    // dimensions: unscaled, verbatim
    write("region", Tables.table(spark, src, "region"), 1)
    write("nation", Tables.table(spark, src, "nation"), 1)

    write("customer", shifted(replicated("customer"), Seq("c_custkey")), 8)
    write("supplier", shifted(replicated("supplier"), Seq("s_suppkey")), 4)
    write("part", shifted(replicated("part"), Seq("p_partkey")), 8)
    write("orders", shifted(replicated("orders"), Seq("o_orderkey", "o_custkey")), 16)
    write("lineitem", shifted(replicated("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), 32)
    // events: load through the adaptive loader (whatever the source
    // format), shift keys, and write ts as µs-NTZ — the wall-clock IS
    // the UTC instant under the pinned session zone, so the cast is a
    // value-preserving re-tag mirroring the driver's current format.
    val eventsSf1 = shifted(
      Tables.events(spark, src).crossJoin(reps), Seq("event_id", "user_id"))
      .withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
    write("events", eventsSf1, 16)

    // documents: copy 0 verbatim; copies 1-9 copy-prefixed vocabulary
    if (!done("documents")) {
      val docs = replicated("documents")
      val prefixed = docs.withColumn("text",
        when(col("copy") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
            w => concat(lit("c"), col("copy"), lit("_"), w)))))
      write("documents", shifted(prefixed, Seq("doc_id")), 16)
    } else println("skip documents (exists)")

    // embeddings: copy 0 verbatim; copies 1-9 decorrelated by ±0.3
    // deterministic per-dim noise (cosine vs original ~0.5-0.6)
    if (!done("embeddings")) {
      val emb = replicated("embeddings")
      // the float/float division below still promotes to double under
      // Spark's numeric rules, so cast the result back: every consumer
      // of this table getSeq[Float]s the column
      val noised = emb.withColumn("embedding",
        when(col("copy") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            transform(sequence(lit(0), size(col("embedding")) - 1),
              i => (pmod(xxhash64(col("vec_id") * 131 + i * 7 + col("copy")),
                lit(1000)).cast("float") / 1000f - 0.5f) * 0.6f),
            (x, n) => x + n)).cast("array<float>"))
      write("embeddings", shifted(noised, Seq("vec_id")), 8)
    } else println("skip embeddings (exists)")

    Tables.all.foreach { t =>
      println(s"$t: ${Tables.byName(spark, out, t).count()} rows")
    }
    spark.stop()
  }
}
