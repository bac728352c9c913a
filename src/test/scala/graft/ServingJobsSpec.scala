package graft

import graft.operators.LexicalIndex

/** Spark-job ceilings of the serving read path, counted like
  * [[MergeTableJobsSpec]]'s under a job group of the test's own. A
  * single-query BM25 call is the dictionary lookup plus one ranking
  * action; a hybrid search is the dictionary lookup plus one fused
  * action for both legs. Both run on an index whose corpus statistics
  * are already known (the build seeds them). */
class ServingJobsSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("serving_jobs").toString + "/idx"

  private def corpus(n: Int): Seq[(Long, String)] = {
    val rng = new scala.util.Random(29)
    (1L to n.toLong).map(id =>
      (id, Seq.fill(5 + rng.nextInt(20))(s"w${rng.nextInt(40)}").mkString(" ")))
  }

  private def assertCeiling(what: String, ceiling: Int)(body: => Any): Unit = {
    val n = JobCount.of(spark)(body)
    info(s"$what: $n jobs (ceiling $ceiling)")
    assert(n <= ceiling, s"$what launched $n Spark jobs, ceiling $ceiling")
  }

  test("indexed bm25TopK: one query takes at most 3 jobs") {
    val path = freshPath()
    LexicalIndex.build(spark, path, corpus(60).toDF("doc_id", "text"), "doc_id", "text")
    assertCeiling("bm25TopK, one query", 3) {
      assert(LexicalIndex.bm25TopK(spark, path, "doc_id", Seq("w1", "w7"), 10)
        .collect().nonEmpty)
    }
  }

  test("hybridSearchKnowledge on a lexical index takes at most 4 jobs") {
    val emb = graft.search.HashEmbedder(16)
    val kb = corpus(60).toDF("id", "content")
    val g = GraftSession(spark, emb)
      .loadKnowledgeBase(emb.embedColumn(kb, "content", "embedding"))
      .buildLexicalIndex(freshPath())
    assertCeiling("hybridSearchKnowledge", 4) {
      assert(g.hybridSearchKnowledge("w1 w7 w20", k = 5).collect().length === 5)
    }
  }
}
