package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimilaritySearch}
import graft.util.Sessions

/** Closes q43's sf1 adjudication with a NUMBER: the embedding-near-dup
  * shape (`Dedup.embeddingNearDups` — within-cluster pairwise cosine,
  * the SemDeDup candidate stage) re-run at sf0.1 AND sf1 under both
  * quantizers, in ONE session window (in-window ratios, per the
  * host-swing discipline):
  *
  *   - **fixed-label quantizer** (q43's oracle form — the label column
  *     is the cluster): label cardinality stays 10 while the corpus
  *     grows 10x, so cluster size grows 10x and within-cluster pairs
  *     grow ~100x — quadratic BY DATASET CONSTRUCTION, the BENCH_sf1
  *     note's standing claim;
  *   - **corpus-scaled quantizer** (the note's own prescription:
  *     SemanticIndex's k knob): k-means k grows with the corpus
  *     (k=10 at sf0.1 → k=100 at sf1), holding the expected cluster
  *     size flat, so candidate pairs grow ~LINEARLY with the corpus
  *     and the probe wall stays flat.
  *
  * The quantizer build (k sequential farthest-point seeds + Lloyd
  * rounds) is timed separately: it is the ingest-amortized part, the
  * q103/q113 build-vs-serve convention. Pair counts are exact
  * (sum n·(n-1)/2 over cluster sizes); walls are the full
  * embeddingNearDups count at minCosine=0.3 (q43's threshold).
  * Run: `sbt "runMain graft.EmbedDedupQuantizerDemo"` (expects the
  * Sf1DataGen output at /tmp/graft_sf1; COVERAGE.md records the
  * measured numbers).
  */
object EmbedDedupQuantizerDemo {

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)

    val sf01 = sys.env.getOrElse("GRAFT_SF01_DIR", "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("GRAFT_SF1_DIR", "/tmp/graft_sf1")

    def candidatePairs(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.groupBy(col(c)).count()
        .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
        .head().getLong(0)

    def wallOf(body: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = body
      (n, (System.nanoTime() - t0) / 1e9)
    }

    // (scale label, dir, corpus-scaled k)
    var results = Map.empty[String, (Long, Double, Long, Double)]
    for ((label, dir, k) <- Seq(("sf0.1", sf01, 10), ("sf1", sf1, 100))) {
      val emb = Tables.embeddings(spark, dir).localCheckpoint(true)
      val n = emb.count()

      // arm A: q43's fixed-label quantizer
      val candA = candidatePairs(emb, "label")
      val (survA, wallA) = wallOf {
        Dedup.embeddingNearDups(emb, "vec_id", "embedding",
          clusterCol = "label", minCosine = 0.3).count()
      }

      // arm B: corpus-scaled k-means quantizer (build timed separately
      // — the ingest-amortized part)
      val tq0 = System.nanoTime()
      val cents = SimilaritySearch.kmeansCentroids(
        emb, "vec_id", "embedding", k = k, iters = 5)
      val assigned = SimilaritySearch.assignClusters(emb, "embedding", cents)
        .localCheckpoint(true)
      val quantWall = (System.nanoTime() - tq0) / 1e9
      val candB = candidatePairs(assigned, "cluster")
      val (survB, wallB) = wallOf {
        Dedup.embeddingNearDups(assigned, "vec_id", "embedding",
          clusterCol = "cluster", minCosine = 0.3).count()
      }
      graft.util.Checkpoints.free(assigned)
      graft.util.Checkpoints.free(emb)

      println(f"$label%-6s n=$n%6d  fixed-label(k=10): cand $candA%12d surv $survA%9d wall $wallA%6.2f s   " +
        f"corpus-scaled(k=$k%3d): quantizer $quantWall%6.2f s, cand $candB%12d surv $survB%9d wall $wallB%6.2f s")
      results += label -> (candA, wallA, candB, wallB)
    }

    val (candA01, wallA01, candB01, wallB01) = results("sf0.1")
    val (candA1, wallA1, candB1, wallB1) = results("sf1")
    println(f"ratios sf1/sf0.1 (one window): fixed-label cand ${candA1.toDouble / candA01}%.1fx " +
      f"wall ${wallA1 / wallA01}%.2fx   corpus-scaled cand ${candB1.toDouble / candB01}%.1fx " +
      f"wall ${wallB1 / wallB01}%.2fx")

    // the adjudication: fixed labels are quadratic by construction
    // (~100x pairs for 10x data); the corpus-scaled quantizer keeps
    // pair growth ~linear (<= 30x allows k-means imbalance)
    require(candA1 >= candA01 * 50,
      s"fixed-label pairs must blow up quadratically ($candA01 -> $candA1)")
    require(candB1 <= candB01 * 30,
      s"corpus-scaled pairs must grow ~linearly ($candB01 -> $candB1)")
    require(candB1 * 3 <= candA1,
      s"corpus-scaled must prune the candidate space vs fixed labels " +
        s"($candB1 vs $candA1)")
    spark.stop()
  }
}
