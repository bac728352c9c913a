package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.util.Sessions

/** Scale validation for the distributed connected-components LOOP —
  * the path a 100 TB dedup graph actually takes (`Dedup.scala`
  * connectedComponentsLoop), which the adaptive gate hides below 1M
  * edges. Three parts, all above that threshold:
  *
  *  1. **Giant-component stress**: 10M nodes / ~6.6M edges with ONE
  *     component holding 35% of all nodes (the web-crawl shape: a
  *     boilerplate/template family dominating the graph), wired as a
  *     4-level hub tree (diameter ~8) — high fan-in hubs, skewed
  *     frontier, the shape that breaks naive label propagation.
  *     Reports rounds-to-converge and per-round frontier/seconds via
  *     the onRound hook.
  *  2. **Loop == driver fast-path** on a ~1M-edge slice of the same
  *     graph: both code paths must emit identical (id, cluster) labels.
  *  3. **q38 composition with a degenerate near-dup class**: 1M real
  *     text docs where one 3.3k-doc near-identical class produces
  *     ~5.4M verified pairs THROUGH minHashNearDups (every band
  *     bucket degenerate — the streamed band self-join earns its keep)
  *     into the forced loop, then nearDupKeepBest end-to-end.
  *
  * Why part 3's giant class is 0.33% of docs, not 35%: a single
  * NEAR-dup class of k docs is k²/2 PAIRS in any pair-space LSH —
  * 350k docs in one class would be 6×10^10 pairs, quadratic by
  * construction, on any engine. The web-crawl reality is that such
  * classes are overwhelmingly EXACT duplicates, which the pipeline
  * collapses FIRST with a linear hash-dedup ([[operators.Dedup
  * .exactByContent]] — part 3 demonstrates it at 350k copies / 35%);
  * near-dup LSH then runs on the exact-deduped residual where class
  * sizes are bounded. Part 1 covers the 35%-giant-COMPONENT shape in
  * edge space, where it belongs.
  *
  * Run manually: `sbt "runMain graft.CcScaleDemo"`.
  */
object CcScaleDemo {
  def main(args: Array[String]): Unit = {
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)
    // the recorded numbers ran 2 shuffle partitions per core (64 on local[32])
    spark.conf.set("spark.sql.shuffle.partitions", 2L * cpus)
    import graft.util.Timing.time

    // ---- part 1: giant-component loop stress ---------------------------
    val nNodes = sys.env.getOrElse("CC_NODES", "10000000").toLong
    val giant = (nNodes * 35) / 100 // 35% of nodes in ONE component
    val nodes = spark.range(nNodes).toDF("id")
    // 4-level hub tree over [0, giant): leaves → 10-hubs → 1000-hubs →
    // 100000-hubs → node 0. Diameter ~8, fan-in up to 100k at the top.
    def level(mod: Long, prevMod: Long) =
      spark.range(nNodes).filter(col("id") < giant)
        .filter(col("id") % prevMod === 0 && col("id") % mod =!= 0)
        .select(col("id").as("id_a"), (col("id") - col("id") % mod).as("id_b"))
    val giantEdges = level(10L, 1L)
      .unionByName(level(1000L, 10L))
      .unionByName(level(100000L, 1000L))
      .unionByName(
        spark.range(nNodes).filter(col("id") < giant)
          .filter(col("id") % 100000L === 0 && col("id") =!= 0)
          .select(col("id").as("id_a"), lit(0L).as("id_b")))
    // the rest: 2-node components (i, i+1) — millions of tiny clusters
    val pairEdges = spark.range(nNodes).filter(col("id") >= giant)
      .filter((col("id") - lit(giant)) % 2 === 0 && col("id") + 1 < nNodes)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val edges = giantEdges.unionByName(pairEdges).localCheckpoint(true)
    val nEdges = edges.count()
    println(s"nodes=$nNodes edges=$nEdges giantComponent=$giant (35%)")

    val labels = time(s"CC loop ($nNodes nodes, $nEdges edges, giant=35%)") {
      val out = Dedup.connectedComponents(nodes, edges,
        maxIter = 25, maxDriverEdges = 0, // force the distributed loop
        onRound = (r, frontier, secs) =>
          println(f"  round $r%2d: frontier=$frontier%10d  $secs%6.1f s"))
        .localCheckpoint(true)
      println(s"  labels=${out.count()}")
      out
    }
    // exact structural invariants of the synthetic graph
    val giantSize = labels.filter(col("cluster") === 0).count()
    val nClusters = labels.select(countDistinct(col("cluster"))).head().getLong(0)
    val expectClusters = 1 + (nNodes - giant + 1) / 2
    assert(giantSize == giant, s"giant component: $giantSize != $giant")
    assert(nClusters == expectClusters, s"clusters: $nClusters != $expectClusters")
    println(s"  giant=$giantSize clusters=$nClusters (both exact)")

    // ---- part 2: loop == driver fast-path on a ~1M-edge slice ----------
    // slice spans the giant tree's tail AND the 2-node region, so both
    // structures are compared; only edges with BOTH endpoints inside
    // survive, like any subgraph restriction
    val lo = giant - 1000000L; val hi = giant + 1000000L
    val sliceNodes = nodes.filter(col("id") >= lo && col("id") < hi)
    val sliceEdges = edges.filter(
      col("id_a") >= lo && col("id_a") < hi && col("id_b") >= lo && col("id_b") < hi)
      .localCheckpoint(true)
    println(s"slice: nodes=${sliceNodes.count()} edges=${sliceEdges.count()}")
    val viaLoop = time("slice via distributed loop") {
      Dedup.connectedComponents(sliceNodes, sliceEdges,
        maxDriverEdges = 0).localCheckpoint(true)
    }
    val viaDriver = time("slice via driver union-find") {
      Dedup.connectedComponents(sliceNodes, sliceEdges,
        maxDriverEdges = Long.MaxValue).localCheckpoint(true)
    }
    assert(viaLoop.except(viaDriver).isEmpty && viaDriver.except(viaLoop).isEmpty,
      "loop and driver fast-path labels must be identical")
    println("  slice labels identical across both paths")
    graft.util.Checkpoints.free(edges)

    // ---- part 3: q38 composition, degenerate near-dup class ------------
    val nDocs = sys.env.getOrElse("CC_DOCS", "1000000").toLong
    val classSize = 3300L // one near-identical class → ~5.4M pairs
    val template = (0 until 30).map(i => s"tmpl$i").mkString(" ")
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") < classSize,
          // near-identical: shared 30-word template + 2 unique words
          // (shingle Jaccard ≈ 28/32 ≈ 0.875 ≥ 0.8 for every pair)
          concat(lit(template), lit(" u"), col("id"), lit("x u"), col("id"), lit("y")))
        .otherwise(
          // unique docs: disjoint per-doc vocabulary, no cross matches
          concat_ws(" ", (0 until 30).map(j =>
            concat(lit("w"), col("id") * 37 + j)): _*))
        .as("text"))
      .localCheckpoint(true)
    println(s"docs=${docs.count()} (one ${classSize}-doc near-identical class)")

    val pairs = time(s"minHashNearDups (degenerate ${classSize}-doc class)") {
      val p = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.8)
      println(s"  verified pairs=${p.count()}")
      p
    }
    val clusters = time("dupClusters over the pair set (loop path: >1M edges)") {
      val c = Dedup.dupClusters(docs, "doc_id", pairs.select("id_a", "id_b"))
        .localCheckpoint(true)
      println(s"  rows=${c.count()}")
      c
    }
    val classRows = clusters.filter(col("cluster") === 0).count()
    assert(classRows == classSize, s"near-dup class: $classRows != $classSize")
    val reps = clusters.filter(col("is_rep")).count()
    assert(reps == nDocs - classSize + 1, s"reps: $reps")
    println(s"  class=$classRows reps=$reps (both exact)")

    time("nearDupKeepBest end-to-end (longest text wins)") {
      val kept = Dedup.nearDupKeepBest(docs, "doc_id", "text",
        preference = Seq(length(col("text")).desc, col("doc_id").asc))
      println(s"  kept=${kept.count()} (expect ${nDocs - classSize + 1})")
    }

    // ---- part 3b: the 35%-exact-dup web-crawl shape is LINEAR ----------
    // 350k exact copies of one page: collapsed by hash dedup in one
    // shuffle BEFORE any near-dup pass — why a 35% NEAR-dup class never
    // reaches pair space in the production composition
    val exactDocs = spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") < (nDocs * 35) / 100, lit("the same boilerplate page"))
        .otherwise(concat(lit("unique page "), col("id"))).as("text"))
    time(s"exactByContent (35% of $nDocs docs one exact class)") {
      val kept = Dedup.exactByContent(exactDocs, "text", Seq(asc("doc_id")))
      println(s"  kept=${kept.count()} (expect ${nDocs - (nDocs * 35) / 100 + 1})")
    }
    spark.stop()
  }
}
