package graft

import org.apache.spark.sql.functions._

import graft.operators.{SemanticIndex, SimilaritySearch}
import graft.util.Sessions

/** Serving-cost measurement for the persisted semantic-dedup index:
  * at 1M indexed vectors, what does a per-batch admission probe cost
  * versus the only alternative the batch operator offers — assigning
  * the WHOLE corpus fresh and re-deriving the same-cluster pairs?
  *
  * Geometry: 256 latent centers (center coords ±1, per-vector noise
  * ±0.15 ⇒ two independent same-center vectors sit at cosine ≈ 0.978,
  * a planted perturbed COPY at ≈ 0.9999), so tau=0.995 isolates
  * planted near-dups from ordinary same-cluster neighbors. The batch
  * concentrates on 8 of the 256 clusters — the realistic arriving-
  * batch shape, and the case where the probe's `cluster IN` pushdown
  * pays: the corpus scan prunes ~97% of files after [[SemanticIndex
  * .compact]], and pair work is |batch| × (rows in the 8 clusters),
  * never corpus-sized.
  *
  * Reported: quantizer train + build + compact (one-time, amortized),
  * probe + admit wall time, planted recall, and the fresh-recompute
  * wall time with pair-set parity. Run:
  * `sbt "runMain graft.SemanticIndexScaleDemo"`; `SEM_VECS` /
  * `SEM_BATCH` size corpus/batch, `SEM_PATH` reuses a built index,
  * `SEM_QUANTIZER=kmeans` trains the quantizer with
  * [[SemanticIndex.buildKmeans]] instead of latent-label means. */
object SemanticIndexScaleDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)

    val nVecs = sys.env.getOrElse("SEM_VECS", "1000000").toLong
    val nBatch = sys.env.getOrElse("SEM_BATCH", "4000").toInt
    val dim = 64
    // latent = k: probe cost is |batch| × (corpus/k) candidate
    // cosines — k is the knob that keeps clusters ~1e3-1e4 rows as
    // the corpus grows (the SemDeDup recipe). SEM_LATENT=1024 at 4M
    // vectors demonstrates it staying flat.
    val latent = sys.env.getOrElse("SEM_LATENT", "256").toInt
    val hotClusters = 8 // the batch's concentration
    val tau = 0.995
    val reuse = sys.env.get("SEM_PATH")
    val path = reuse.getOrElse(java.nio.file.Files
      .createTempDirectory("graft_sem_idx").toString + "/idx")
    println(s"index path: $path")

    def centerExpr(c: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(c * 131071L + i * 524287L), lit(2000)).cast("float") / 1000f) - 1f
    def noiseExpr(id: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      (pmod(xxhash64(id * 7919L + i * 104729L + 13L), lit(300)).cast("float") / 1000f) - 0.15f

    // checkpointed WITHOUT the latent label: a pruned-away checkpoint
    // column leaves a dangling constraint that Union's constraint
    // rewrite later chokes on (key-not-found) — derive __c from
    // vec_id when training instead
    val corpus = spark.range(nVecs).select(
        col("id").as("vec_id"), pmod(col("id"), lit(latent)).as("__c"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => centerExpr(col("__c"), i) + noiseExpr(col("vec_id"), i))
          .cast("array<float>").as("vec"))
      .localCheckpoint(true)
    println(s"corpus=${corpus.count()} vectors, $latent latent centers")

    import graft.util.Timing.time

    if (reuse.isEmpty) {
      // SEM_QUANTIZER=kmeans exercises the TRAINED path end-to-end:
      // SemanticIndex.buildKmeans runs the deterministic k-means
      // (farthest-point init) over the corpus itself and pins the
      // result — the unlabeled-corpus entry. Default stays the
      // latent-label means (one shuffle); everything downstream
      // (compact, probe, admit, fresh-recompute parity) is identical
      // under either quantizer, which is the point: the probe
      // contract does not depend on where the centroids came from.
      if (sys.env.get("SEM_QUANTIZER").contains("kmeans")) {
        time(s"buildKmeans ($nVecs vectors, k=$latent, one-time)") {
          SemanticIndex.buildKmeans(
            spark, path, corpus, "vec_id", "vec", k = latent, iters = 5)
        }
      } else {
        val cents = time("train quantizer (per-center means, one-time)") {
          SimilaritySearch.centroids(
            corpus.withColumn("__c", pmod(col("vec_id"), lit(latent))),
            "__c", "vec").localCheckpoint(true)
        }
        time(s"build index ($nVecs vectors, one-time)") {
          SemanticIndex.build(spark, path, corpus, "vec_id", "vec", cents)
        }
      }
      time("compact (cluster-major locality, one-time)") {
        SemanticIndex.compact(spark, path, numFiles = 64)
      }
    }

    // batch: even slots perturb an INDEXED vector from the 8 hot
    // clusters (cosine ≈ 0.9999 to its original — a planted near-dup);
    // odd slots are novel same-cluster vectors (≈ 0.978 to neighbors,
    // below tau). All land in hotClusters of the 256.
    val half = (nBatch / 2).max(1)
    val stride = (nVecs / latent / half).max(1L) * latent
    val batch = spark.range(nBatch).toDF("i")
      .withColumn("vec_id", col("i") + nVecs)
      .withColumn("__src",
        // wrap into the corpus at a latent-multiple so the source
        // always EXISTS and keeps its cluster id (src % latent)
        pmod((col("i") / 2).cast("long") * stride,
          lit((nVecs / latent).max(1L) * latent)) + pmod(col("i"), lit(hotClusters)))
      .withColumn("vec",
        when(col("i") % 2 === 0,
          transform(sequence(lit(0), lit(dim - 1)),
            i => centerExpr(pmod(col("__src"), lit(latent)), i) +
              noiseExpr(col("__src"), i) +
              (pmod(xxhash64(col("vec_id") * 31L + i), lit(9)).cast("float") / 1000f) - 0.004f))
          .otherwise(
            transform(sequence(lit(0), lit(dim - 1)),
              i => centerExpr(pmod(col("i"), lit(hotClusters)), i) +
                noiseExpr(col("vec_id"), i)))
          .cast("array<float>"))
      .select(col("vec_id"), col("vec"))
      .localCheckpoint(true)
    println(s"batch=${batch.count()} vectors ($half planted near-dups, " +
      s"$hotClusters clusters touched)")

    val probe = time(s"PROBE $nBatch-vec batch against the index (cold)") {
      SemanticIndex.nearDupsAgainst(
        spark, path, batch.select(col("vec_id"), col("vec")),
        "vec_id", "vec", tau)
    }
    val probePairs = probe.count()
    val planted = probe.filter(col("id_a") < nVecs).count()
    println(s"probe pairs=$probePairs (planted corpus-hits=$planted of $half)")
    // steady-state serving: the same probe with session machinery warm
    // (codegen cache, manifest/footers in page cache) — what batch
    // N+1 of an ingest stream actually pays
    time(s"PROBE again (warm serving)") {
      SemanticIndex.nearDupsAgainst(
        spark, path, batch.select(col("vec_id"), col("vec")),
        "vec_id", "vec", tau).count()
    }

    val admitted = time("ADMIT (gate composed: probe + rank resolution)") {
      SemanticIndex.admit(spark, path,
        batch.select(col("vec_id"), col("vec")), "vec_id", "vec", tau)
    }
    println(s"admitted=${admitted.count()} of $nBatch")

    if (!sys.env.contains("SEM_SKIP_FRESH")) {
      // what every batch would pay without the index: re-assign the
      // full corpus under the same quantizer, then the same
      // same-cluster pair rule restricted to batch-touching pairs
      val cents = SemanticIndex.centroids(spark, path)
      val fresh = time("FRESH recompute (assign corpus ∪ batch + pair scan)") {
        val all = corpus
          .unionByName(batch.select(col("vec_id"), col("vec")))
        val assigned = SimilaritySearch.assignClustersWithSim(all, "vec", cents)
        val b = assigned.filter(col("vec_id") >= nVecs)
          .select(col("cluster"), col("vec_id").as("id_b"), col("vec").as("vb"))
        val pairs = assigned
          .select(col("cluster"), col("vec_id").as("id_a"), col("vec").as("va"))
          .join(broadcast(b), Seq("cluster"))
          .filter(col("id_a") =!= col("id_b"))
          .withColumn("cosine",
            graft.functions.VectorFunctions.cosineSimilarity(col("va"), col("vb")))
          .filter(col("cosine") >= tau)
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
          .distinct()
          .localCheckpoint(true)
        pairs
      }
      val freshPairs = fresh.count()
      println(s"fresh batch-touching pairs=$freshPairs " +
        s"(probe/fresh agree: ${freshPairs == probePairs})")
    }

    spark.stop()
  }
}
