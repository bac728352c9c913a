package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimilaritySearch}
import graft.util.Sessions

/** Adversarial-skew validation at 1M docs, with TASK-LEVEL straggler
  * evidence (per-stage max/median task runtimes from a SparkListener —
  * the spark.ui numbers, captured programmatically):
  *
  *  1. **simHashNearDupEdges with a 100k-doc identical class** (10% of
  *     the corpus; every doc shares one fingerprint). The pair-space
  *     form is quadratic in the OUTPUT here by definition (100k
  *     identical docs = 5×10^9 pairs on any engine); the edge form
  *     collapses identical fingerprints first, so the degenerate band
  *     bucket never forms: 99,999 star edges, linear runtime, no
  *     straggler.
  *  2. **topKJoin, 100 queries × 1M-vector corpus**: the CollectTopK
  *     map-side-heap plan (the q44 fix) must show balanced tasks — the
  *     old window formulation funneled each query's corpus copy through
  *     one reducer, exactly the straggler this demo measures for.
  *
  * A stage counts as skewed when max > 10 × median over its tasks
  * (ignoring sub-second stages, where scheduler noise dominates) —
  * the shared [[graft.util.TaskSkew]] yardstick.
  * Run manually: `sbt "runMain graft.SkewScaleDemo"`.
  */
object SkewScaleDemo {

  def main(args: Array[String]): Unit = {
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)
    // the recorded numbers ran 2 shuffle partitions per core (64 on local[32])
    spark.conf.set("spark.sql.shuffle.partitions", 2L * cpus)
    val skew = new graft.util.TaskSkew().attach(spark)
    import graft.util.Timing.time

    // ---- 1. simhash with a 100k-doc identical class --------------------
    val nDocs = sys.env.getOrElse("SKEW_DOCS", "1000000").toLong
    val classSize = nDocs / 10 // 100k identical short docs
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") < classSize, lit("same short boilerplate line of text"))
        .otherwise(concat_ws(" ", (0 until 8).map(j =>
          concat(lit("w"), col("id") * 17 + j)): _*))
        .as("text"))
      .localCheckpoint(true)
    skew.clear()
    val edges = time(s"simHashNearDupEdges ($nDocs docs, $classSize identical)") {
      val e = Dedup.simHashNearDupEdges(docs, "doc_id", "text").localCheckpoint(true)
      println(s"  edges=${e.count()}")
      e
    }
    skew.report("simhash-edges")
    // the identical class is a STAR: linear edge count, rep = min id
    val stars = edges.filter(col("id_a") === 0 && col("hamming") === 0).count()
    assert(stars == classSize - 1, s"star edges: $stars != ${classSize - 1}")
    val clusters = Dedup.dupClusters(docs, "doc_id", edges.select("id_a", "id_b"))
    val classDocs = clusters.filter(col("cluster") === 0).count()
    println(s"  stars=$stars classComponent=$classDocs")
    assert(classDocs >= classSize, s"class component too small: $classDocs")
    graft.util.Checkpoints.free(edges)

    // ---- 2. topKJoin: 100 queries x 1M vectors -------------------------
    val dim = 64
    val corpus = spark.range(nDocs).select(col("id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => pmod(xxhash64(col("id") * lit(dim) + i), lit(1000)).cast("float") / 1000f)
        .as("embedding"))
      .localCheckpoint(true)
    val queries = spark.range(100).select(col("id").as("qid"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => pmod(xxhash64(col("id") * lit(dim) + i + 7), lit(1000)).cast("float") / 1000f)
        .as("qv"))
    skew.clear()
    time(s"topKJoin (100 queries x $nDocs vectors, k=10)") {
      val got = SimilaritySearch.topKJoin(
        queries, "qid", "qv", corpus, "id", "embedding", k = 10)
      println(s"  rows=${got.count()}")
    }
    skew.report("topk-join")
    spark.stop()
  }
}
