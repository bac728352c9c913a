package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Decontaminate, Packing, TimeSeries}
import graft.query.Relational
import graft.util.Sessions

/** The 100×-shaped END-TO-END number: the fluent corpus chain
  * ([[Corpus]]: curate → dedupExact → admitAgainst → lmFilter →
  * filterGopher → pack) over a 1M-doc arriving corpus with planted
  * impurities, reported as a per-stage wall-time + rows-in/rows-out
  * funnel. Three runs:
  *
  *  1. **full** (FUNNEL_ROWS, default 1M) — the headline funnel;
  *  2. **repeat** (same size) — per-stage rows-out must be IDENTICAL
  *     (the chain is deterministic end to end; a mismatch fails the run);
  *  3. **quarter** (size/4) — per-stage time ratios vs the full run;
  *     every stage must scale ~linearly (no stage's full/quarter time
  *     ratio should be far above 4× the data ratio).
  *
  * Planted classes (id mod 100): 2% exact dups + 1% short docs die in
  * curate; 1% incumbent near-dups + 1% in-batch near-dups die at the
  * admission gate (probing a PERSISTED 250k-doc [[operators.DedupIndex]],
  * built once and reused across runs); 1% large-vocab gibberish dies at
  * the CCNet-style LM cut; 1% symbol-only docs die at the Gopher cut;
  * the rest (good docs: 30 four-letter words from a 600-word vocab, so
  * the self-trained bigram LM separates them from gibberish) flow
  * through to sequence packing.
  *
  * The admission stage processes the arrival in BOUNDED slices
  * (default 125k docs) — the [[operators.DedupIndex.admit]] contract
  * (the probe broadcasts the batch side, so batches stay ingest-sized;
  * per-slice cost is printed and should be flat, the same flatness
  * DedupIndexScaleDemo measures against corpus size).
  *
  * Run: `sbt "runMain graft.PipelineScaleDemo"`. `PIPE_LEGACY=1` runs
  * the original round-3 operator sections (rollingStats, applyChanges,
  * assignPacks, decontaminate) instead.
  */
object PipelineScaleDemo {

  // ---- deterministic corpus synthesis (letters-only words, so the
  // Gopher alpha-fraction signal behaves like real text) --------------
  private val WordLen = 4
  private val GoodVocab = 600L       // small vocab → bigrams repeat → low LM nll
  private val GibVocab = 456976L     // 26^4 → bigrams ~unique → high nll

  private def letterWord(h: Column, len: Int): Column =
    concat((0 until len).map { i =>
      val div = math.pow(26, i).toLong
      call_function("char",
        lit(97) + pmod((h / lit(div)).cast("long"), lit(26L)))
    }: _*)

  private def wordOf(seed: Column, j: Column, vocab: Long): Column =
    letterWord(pmod(xxhash64(seed * 1000003L + j * 8191L), lit(vocab)), WordLen)

  private def textOf(seed: Column, nWords: Int, vocab: Long): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(nWords - 1)),
      j => wordOf(seed, j, vocab)))

  /** 29 words of `seed`'s good text + a changed last word: 26 of 28
    * shingles shared with the original → jaccard 26/30 ≈ 0.87 ≥ 0.8. */
  private def perturbedOf(seed: Column): Column =
    concat(textOf(seed, 29, GoodVocab), lit(" zzzz"))

  /** The arriving corpus: planted impurity classes by id mod 100. */
  private def arrivals(spark: SparkSession, n: Long): DataFrame = {
    val cls = pmod(col("id"), lit(100L))
    val block = (col("id") / lit(100L)).cast("long")
    val class7Seed = block * 100L + 7L
    val incumbentSeed = block + 10000000L
    spark.range(n).select(col("id").as("doc_id"),
      when(cls === 0L || cls === 1L, textOf(class7Seed, 30, GoodVocab))
        .when(cls === 2L, perturbedOf(incumbentSeed))
        .when(cls === 3L, textOf(col("id"), 5, GoodVocab))
        .when(cls === 4L, textOf(col("id"), 30, GibVocab))
        .when(cls === 5L, perturbedOf(class7Seed))
        // symbol docs: unique first word (or curate's exact dedup
        // collapses the whole class to one row), 29 symbol words →
        // symbol_word_ratio ≈ 0.97 dies at the Gopher cut, while the
        // massively repeated (@#$%, @#$%) bigram keeps the LM nll low
        .when(cls === 6L, concat(letterWord(col("id"), 8), lit(" "),
          concat_ws(" ", transform(sequence(lit(1), lit(29)), _ => lit("@#$%")))))
        .otherwise(textOf(col("id"), 30, GoodVocab))
        .as("text"))
  }

  /** Incumbent corpus behind the admission index: disjoint seeds except
    * the class-2 targets (seeds 10M+block), disjoint ids. */
  private def incumbents(spark: SparkSession, nInc: Long): DataFrame =
    spark.range(nInc).select(
      (col("id") + 2000000000L).as("doc_id"),
      textOf(col("id") + 10000000L, 30, GoodVocab).as("text"))

  private final case class StageResult(name: String, secs: Double, rowsOut: Long)

  private def runFunnel(
      spark: SparkSession, n: Long, idxPath: String, maxNll: Double,
      sliceSpan: Long, label: String): Seq[StageResult] = {
    println(s"== funnel '$label': $n arriving docs ==")
    val results = scala.collection.mutable.ListBuffer[StageResult]()
    var cur = arrivals(spark, n).localCheckpoint(true)
    val rowsIn = cur.count()
    println(f"  raw: $rowsIn%d docs")

    def stage(name: String)(f: DataFrame => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val out = f(cur).localCheckpoint(true)
      val rows = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      results += StageResult(name, secs, rows)
      println(f"  $name%-22s ${secs}%7.1f s  rows-out=$rows%d")
      graft.util.Checkpoints.free(cur)
      cur = out
    }

    stage("curate")(d => Corpus(d, "doc_id", "text")
      .curate(Curation.Config(lang = None, minTokens = 10)).toDF)
    stage("dedupExact")(d => Corpus(d, "doc_id", "text").dedupExact().toDF)
    // the slice frames (admitAgainst returns checkpointed frames) must
    // outlive the stage: stage() materializes its OWN checkpoint of
    // the union from their live blocks, and only then may they free —
    // freeing inside the lambda would require a second full
    // checkpoint of the union there, whose blocks nothing ever frees
    var sliceFrames: Seq[DataFrame] = Nil
    stage("admitAgainst")(d => {
      // bounded admission slices (the admit contract); per-slice cost
      // printed — flatness here is the stage's own scale proof
      val nSlices = ((n + sliceSpan - 1) / sliceSpan).toInt
      val parts = (0 until nSlices).map { s =>
        val sl = d.filter(col("doc_id") >= s * sliceSpan &&
          col("doc_id") < (s + 1) * sliceSpan)
        val t0 = System.nanoTime()
        val adm = Corpus(sl, "doc_id", "text").admitAgainst(idxPath, 0.8).toDF
        val kept = adm.count()
        println(f"    admit slice $s%2d: ${(System.nanoTime() - t0) / 1e9}%6.1f s  kept=$kept%d")
        adm
      }
      sliceFrames = parts
      parts.reduce(_ unionByName _)
    })
    sliceFrames.foreach(graft.util.Checkpoints.free)
    stage(s"lmFilter($maxNll)")(d =>
      Corpus(d, "doc_id", "text").lmFilter(maxNll).toDF)
    stage("filterGopher")(d => Corpus(d, "doc_id", "text").filterGopher().toDF)
    stage("pack(4096,64)")(d =>
      Corpus(d, "doc_id", "text").pack(seqLen = 4096L, shards = 64).toDF)

    val packs = Packing.packStats(cur, "n_tokens").count()
    println(s"  packs=$packs")
    graft.util.Checkpoints.free(cur)
    results.toSeq
  }

  def main(args: Array[String]): Unit = {
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)
    // the recorded numbers ran 2 shuffle partitions per core (64 on local[32])
    spark.conf.set("spark.sql.shuffle.partitions", 2L * cpus)

    if (sys.env.get("PIPE_LEGACY").contains("1")) { legacy(spark); spark.stop(); return }

    val n = sys.env.getOrElse("FUNNEL_ROWS", "1000000").toLong
    val nInc = sys.env.getOrElse("FUNNEL_INCUMBENTS", "250000").toLong
    val maxNll = sys.env.getOrElse("FUNNEL_MAXNLL", "9.5").toDouble
    val sliceSpan = sys.env.getOrElse("FUNNEL_SLICE", "125000").toLong

    // one persisted admission index, reused read-only by all three runs
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_funnel_idx").toString + "/idx"
    val inc = incumbents(spark, nInc).localCheckpoint(true)
    val t0 = System.nanoTime()
    operators.DedupIndex.build(spark, idxPath, inc, "doc_id", "text")
    operators.DedupIndex.compact(spark, idxPath, numFiles = 32)
    println(f"admission index: $nInc%d incumbents, built+compacted in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s (one-time, amortized)")
    graft.util.Checkpoints.free(inc)

    val full = runFunnel(spark, n, idxPath, maxNll, sliceSpan, "full")
    val repeat = runFunnel(spark, n, idxPath, maxNll, sliceSpan, "repeat")
    val quarter = runFunnel(spark, n / 4, idxPath, maxNll, sliceSpan, "quarter")

    val reproducible = full.map(r => (r.name, r.rowsOut)) ==
      repeat.map(r => (r.name, r.rowsOut))
    println(s"reproducible (per-stage rows identical across runs): $reproducible")
    require(reproducible, "funnel is not deterministic run-to-run")

    println("stage scaling (full vs quarter, data ratio 4x):")
    full.zip(quarter).foreach { case (f, q) =>
      println(f"  ${f.name}%-22s full=${f.secs}%6.1f s quarter=${q.secs}%6.1f s " +
        f"ratio=${f.secs / math.max(0.1, q.secs)}%4.1fx")
    }
    spark.stop()
  }

  /** The original round-3 operator sections (kept runnable; they back
    * recorded COVERAGE numbers). `PIPE_LEGACY=1` selects them. */
  private def legacy(spark: SparkSession): Unit = {
    import graft.util.Timing.time

    val n = sys.env.getOrElse("PIPE_ROWS", "10000000").toLong
    val keys = 100000L

    // ---- rolling stats: 10M events, 100k keys ---------------------------
    val events = spark.range(n).select(col("id"),
      (col("id") % keys).as("k"),
      pmod(xxhash64(col("id")), lit(1000000000000L)).as("t"),
      (pmod(xxhash64(col("id") + 1), lit(10000)) / lit(100.0)).as("v"))
    time(s"rollingStats ($n rows, $keys keys, w=20)") {
      val out = TimeSeries.rollingStats(events, Seq("k"),
        Seq(asc("t"), asc("id")), "v", nRows = 20, sumType = "decimal(18,2)")
      println(s"  rows=${out.count()}")
    }

    // ---- CDC apply: 10M ops, 2M keys, 5 ops/key -------------------------
    time(s"applyChanges ($n ops, ${n / 5} keys)") {
      val ops = spark.range(n).select(
        (col("id") % (n / 5)).as("key"), col("id").as("seq"),
        when(pmod(col("id"), lit(11)) === 0, "D").otherwise("U").as("op"),
        (col("id") * 3).as("payload"))
      val snap = Relational.applyChanges(ops, Seq("key"), Seq(desc("seq")))
      println(s"  snapshot=${snap.count()}")
    }

    // ---- sequence packing: 10M docs, 64 shards --------------------------
    time(s"assignPacks ($n docs, 64 shards, 4096 tok)") {
      val toks = spark.range(n).select(col("id"),
        (pmod(xxhash64(col("id")), lit(900)) + 100).as("tok"))
      val packed = Packing.packStats(
        Packing.assignPacks(toks, "id", "tok", seqLen = 4096L, shards = 64), "tok")
      println(s"  packs=${packed.count()}")
    }

    // ---- decontamination: 1M docs vs 10k-doc eval set -------------------
    val docs = math.max(100000L, n / 10)
    time(s"decontaminate ($docs docs vs ${docs / 100} eval)") {
      def corpus(ids: org.apache.spark.sql.DataFrame) = ids.select(col("id"),
        concat_ws(" ", (0 until 30).map(j =>
          concat(lit("w"), pmod(xxhash64(col("id") * 31 + j), lit(5000)))): _*)
          .as("text"))
      // eval reuses the first 1% of train ids' text: real overlap, so
      // the run demonstrates actual drops, not just throughput
      val train = corpus(spark.range(docs).toDF("id"))
      val evalSet = corpus(spark.range(docs / 100).toDF("id"))
      val clean = Decontaminate.decontaminate(train, evalSet, "id", "text",
        n = 8, hashGrams = true)
      println(s"  kept=${clean.count()}")
    }
  }
}
