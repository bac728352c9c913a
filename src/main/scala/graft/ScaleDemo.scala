package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Scale validation harness: replicates the sf0.1 corpora to ~200k
  * documents / scaled vectors (each copy's vocabulary prefixed so
  * near-duplicates exist only within a copy) and measures the dedup and
  * similarity operators at 40x the bench size. Run manually:
  * `sbt "runMain graft.ScaleDemo"`.
  */
object ScaleDemo {
  def main(args: Array[String]): Unit = {
    // NOTE: driver heap comes from build.sbt's forked-run javaOptions
    // (-Xmx via SPARK_DRIVER_MEM, default 8g) — spark.driver.memory set
    // on the builder is a no-op inside an already-running JVM.
    val spark = Sessions.local(Sessions.envCpus)
    val d = "/root/testdata/sf0.1"
    val copies = sys.env.getOrElse("SCALE_COPIES", "40").toInt
    val vecCopies = math.max(1,
      sys.env.getOrElse("SCALE_VEC_COPIES", (copies / 4).toString).toInt)
    // path keyed on BOTH sizes, and documents written LAST (its existence
    // is the build-complete marker) — a half-finished build or a changed
    // vecCopies must never silently reuse stale data
    val base = s"/tmp/graft_scale_${copies}_v$vecCopies"

    import graft.util.Timing.time
    def withConf[T](key: String, value: String)(f: => T): T = {
      val before = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try f finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    // ---- build the scaled corpora (once) --------------------------------
    // completeness marker = documents' _SUCCESS file, not the directory
    // (Spark creates the dir at job START, so a killed build would be
    // silently reused on rerun — RetrievalScaleDemo's rule)
    val docsPath = s"$base/documents.parquet"
    if (!new java.io.File(docsPath, "_SUCCESS").exists()) {
      val emb = Tables.embeddings(spark, d)
      (0 until vecCopies).map { c =>
        emb.select((col("vec_id") + lit(c.toLong * 1000000)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$base/embeddings.parquet")
      val docs = Tables.documents(spark, d)
      val scaled = (0 until copies).map { c =>
        docs.select(
          (col("doc_id") + lit(c.toLong * 1000000)).as("doc_id"),
          // prefix every word with the copy tag: shingles across copies
          // share nothing, so near-dups stay within-copy
          concat_ws(" ", transform(split(trim(col("text")), "\\s+"),
            w => concat(lit(s"c${c}_"), w))).as("text"))
      }.reduce(_ unionByName _)
      scaled.repartition(32).write.mode("overwrite").parquet(docsPath)
    }
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    println(s"documents=${docs.count()} embeddings=${emb.count()}")

    // warmup
    docs.agg(sum(length(col("text")))).head()

    // ---- dedup at 200k ---------------------------------------------------
    val exact = time("exact dedup (sha256 groupBy)") {
      operators.Dedup.exactByContent(docs, "text", Seq(asc("doc_id"))).count()
    }
    val lsh = time("minhash-LSH near-dups (j>=0.8)") {
      operators.Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.8).count()
    }
    val sim = time("simhash near-dups (ham<=3)") {
      operators.Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3).count()
    }
    println(s"  exact=$exact lshPairs=$lsh simhashPairs=$sim (expect lsh ≈ 256*$copies)")

    // ---- similarity over the scaled vectors ----------------------------------------------
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    time("brute-force kNN top-10 (scaled x 64d)") {
      operators.SimilaritySearch.topK(emb, "embedding", q, 10).collect()
    }
    val cents = time("IVF centroids (10 clusters)") {
      val c = operators.SimilaritySearch.centroids(emb, "label", "embedding")
      c.cache(); c.count(); c
    }
    time("IVF kNN nprobe=2 (prunes 80%)") {
      operators.SimilaritySearch.ivfTopK(emb, "label", "embedding", cents, q, 10, nprobe = 2).collect()
    }
    val queries100 = emb.filter(col("vec_id") < 100)
    time("batch kNN join: 100 queries x corpus") {
      operators.SimilaritySearch.topKJoin(queries100, "vec_id", "embedding",
        emb, "vec_id", "embedding", 5).count()
    }

    // ---- learned IVF quantizer over the scaled vectors ------------------
    time("kmeans quantizer (k=10, 5 iters, scaled x 64d)") {
      val cents = operators.SimilaritySearch.kmeansCentroids(
        emb, "vec_id", "embedding", k = 10, iters = 5)
      val assigned = operators.SimilaritySearch.assignClusters(
        emb, "embedding", cents).cache()
      // compare BASE vector ids (vec_id % 1e6): the scaled corpus holds
      // vecCopies bit-identical copies of every vector, so the raw
      // top-10 id sets are arbitrary tie-broken subsets of the copies —
      // two correct rankings would report recall < 1 nondeterministically
      val exact = operators.SimilaritySearch.topK(emb, "embedding", q, 10)
        .select("vec_id").collect().map(_.getLong(0) % 1000000L).toSet
      val approx = operators.SimilaritySearch.ivfTopK(
          assigned, "cluster", "embedding", cents, q, 10, nprobe = 2)
        .select("vec_id").collect().map(_.getLong(0) % 1000000L).toSet
      println(s"  learned-IVF nprobe=2 recall@10 = ${
        (exact & approx).size.toDouble / exact.size}")
      assigned.unpersist()
    }

    // ---- dup clustering end-to-end at 200k docs -------------------------
    time("dup clusters (LSH pairs -> CC -> reps)") {
      val pairs = operators.Dedup
        .minHashNearDups(docs, "doc_id", "text", threshold = 0.8)
        .select("id_a", "id_b")
      val reps = operators.Dedup.dupClusters(docs, "doc_id", pairs)
        .filter(col("is_rep")).count()
      println(s"  representatives=$reps")
    }

    // ---- round-5 operators at 200k docs ---------------------------------
    time("repeated 8-gram spans (ExactSubstr-style)") {
      val spans = operators.Curation
        .repeatedNgramSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
      println(s"  spans=${spans.count()}")
    }
    time("BM25 two-query rankings + RRF fusion") {
      // copy-prefixed vocabulary: use copy-0 terms so matches exist
      val rankings = operators.Lexical.bm25TopKMany(docs, "doc_id", "text",
        Seq(Seq("c0_spark", "c0_join", "c0_slow"), Seq("c0_vector", "c0_stream")),
        k = 100)
      println(s"  fused=${operators.Lexical.rrfFuse(rankings, "doc_id", 20).count()}")
    }

    // ---- connected components on a synthetic 10M-node pair graph --------
    val ccNodes = sys.env.getOrElse("SCALE_CC_NODES", "10000000").toLong
    val chain = 5 // chains of 5 -> worst-case diameter 4, ~5 rounds
    time(s"connected components ($ccNodes nodes, chains of $chain)") {
      val nodes = spark.range(ccNodes).select(col("id"))
      val edges = spark.range(ccNodes).filter(col("id") % chain =!= 0)
        .select(col("id").as("id_a"), (col("id") - 1).as("id_b"))
      val k = operators.Dedup.connectedComponents(nodes, edges)
        .select(countDistinct("cluster")).head().getLong(0)
      println(s"  clusters=$k (expect ${(ccNodes + chain - 1) / chain})")
    }

    // ---- as-of / interval joins at 10M x 1M on 100k keys ----------------
    // synthetic event times from xxhash64 (deterministic, ~11.5-day span)
    val nKeys = 100000L
    val span = 1000000000000L // 1e12 us
    val points = spark.range(10000000L).select(
      col("id"), (col("id") % nKeys).as("k"),
      pmod(xxhash64(col("id")), lit(span)).as("t"))
    val states = spark.range(1000000L).select(
      (col("id") % nKeys).as("k"),
      pmod(xxhash64(col("id") + 777), lit(span)).as("t"),
      col("id").as("payload"))
    time("as-of join: 10M points x 1M states, 100k keys") {
      val n = operators.TimeSeries.joinAsOf(points, states, Seq("k"), "t", "t",
          Seq("payload"))
        .agg(count(col("asof_payload"))).head().getLong(0)
      println(s"  matched=$n")
    }
    time("interval join: 10M points x 1M 1h-intervals (binned)") {
      val ivs = states.select(col("k"), col("t").as("s_us"),
        (col("t") + 3600000000L).as("e_us"))
      val n = operators.TimeSeries.intervalJoin(
        points.withColumnRenamed("t", "p_us"), "p_us",
        ivs, "s_us", "e_us", Seq("k"), binSeconds = 3600).count()
      println(s"  matched=$n")
    }
    time("sessionize 10M events, 100k keys (30 min gap)") {
      // t is micros as long; sessionize casts via timestamp — feed micros
      val ev = points.select(col("k"),
        timestamp_micros(col("t")).as("ts"), col("id"))
      val n = operators.TimeSeries.sessionStats(ev, Seq("k"), "ts",
        gapSeconds = 1800, tieBreak = Seq(col("id"))).count()
      println(s"  sessions=$n")
    }

    // ---- skew: 10M rows, 50% on ONE key ---------------------------------
    // Finding worth stating: COUNT/SUM skew is absorbed by map-side
    // partial aggregation (each task pre-combines its half of key 42),
    // so plain vs salted count differ little. Salting matters where
    // partial aggregation cannot reduce — joins (one task receives the
    // whole hot key's build/probe stream) and non-combinable aggs.
    val skewRows = sys.env.getOrElse("SCALE_SKEW_ROWS", "10000000").toLong
    val skewed = spark.range(skewRows).select(
      when(col("id") % 2 === 0, lit(42L)).otherwise(col("id") % 100000L).as("k"),
      col("id").as("v")).localCheckpoint(true)
    time("plain groupBy count (partial agg absorbs skew)") {
      skewed.groupBy("k").agg(count(lit(1)).as("n"), sum("v")).count()
    }
    time("salted two-stage count, same data") {
      operators.Skew.saltedCount(skewed, Seq("k"), salts = 32).count()
    }
    // the join case: force sort-merge (no broadcast, AQE skew split off)
    // to expose the single 5M-row straggler partition, then salt it away
    val dims = spark.range(100000L)
      .select(col("id").as("k"), md5(col("id").cast("string")).as("attr"))
      .localCheckpoint(true)
    withConf("spark.sql.adaptive.skewJoin.enabled", "false") {
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        time("plain sort-merge join, hot key in ONE task") {
          skewed.join(dims, Seq("k")).agg(count(lit(1))).head()
        }
        time("salted join, hot key spread over 32 tasks") {
          operators.Skew.saltedJoin(skewed, dims, "k", salts = 32)
            .agg(count(lit(1))).head()
        }
      }
    }
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      time("same join, AQE skew-split enabled (the default)") {
        skewed.join(dims, Seq("k")).agg(count(lit(1))).head()
      }
    }
    time("bloom-pruned join: 10M facts vs 100 keys") {
      val dims = spark.range(100).select((col("id") * 997).as("dk"))
      val n = operators.BloomPrune.filteredJoin(
        skewed, "k", dims, "dk", expectedItems = 100, numBits = 10000).count()
      println(s"  matched=$n")
    }
    spark.stop()
  }
}
