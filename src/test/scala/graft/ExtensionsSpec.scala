package graft

import org.apache.spark.sql.SparkSession

/** SQL-surface registration via SparkSessionExtensions (the shared test
  * session is built by `Sessions.local`, which installs
  * [[GraftExtensions]] — extensions bind at session build time, so
  * `getOrCreate` on an existing session would silently skip them). */
class ExtensionsSpec extends SparkSpec {

  private lazy val extSpark: SparkSession = spark

  test("custom expressions are callable from spark.sql") {
    val row = extSpark.sql("""
      SELECT
        cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS self,
        round(cosine_distance(array(1.0D, 0.0D), array(0.0D, 1.0D)), 6) AS dist,
        dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        l2_norm(array(3.0D, 4.0D)) AS norm,
        simhash64(array('a','b','c')) AS sh,
        size(minhash_signature(array('a','b'), 16)) AS sigsize,
        size(shingle_hashes(array('a','b','c','d'), 2)) AS nshingles,
        element_at(l2_normalize(array(3.0D, 4.0D)), 1) AS nx,
        regexp_count('a1b22c333', '[0-9]+') AS rc,
        deflate_ratio(repeat('spam ', 200)) < deflate_ratio('q7e!Zk9@x2') AS defl,
        nfc_normalize('café') = 'café' AS nfc_eq
    """).collect()(0)
    assert(row.getDouble(0) === 1.0)
    assert(row.getDouble(1) === 1.0) // orthogonal → distance 1
    assert(row.getDouble(2) === 11.0)
    assert(row.getDouble(3) === 5.0)
    assert(row.getInt(5) === 16)
    assert(row.getInt(6) === 3)
    assert(math.abs(row.getDouble(7) - 0.6) < 1e-12)
    assert(row.getInt(8) === 3)
    assert(row.getBoolean(9))  // repetitive text compresses harder
    assert(row.getBoolean(10)) // nfc_eq
  }

  test("round-5 SQL functions: html_unescape, md5_prefix64, simhash64_md5") {
    val row = extSpark.sql("""
      SELECT
        html_unescape('caf&eacute; &amp; &#8212; ok') AS unesc,
        md5_prefix64('') AS fp_empty,
        simhash64_md5(array('a','a','a')) AS sh
    """).collect()(0)
    assert(row.getString(0) === "café & — ok")
    // md5('') = d41d8cd98f00b204...: first 8 bytes big-endian signed
    assert(row.getLong(1) === java.lang.Long.parseUnsignedLong("d41d8cd98f00b204", 16))
    // one distinct token, odd count: fp = bits of md5-prefix64('a')
    assert(row.getLong(2) === java.lang.Long.parseUnsignedLong("0cc175b9c0f1b6a8", 16))
  }

  test("wrong-arity SQL calls fail with the function name, not IndexOutOfBounds") {
    // one arg to a 2-arg function
    val e1 = intercept[Exception](spark.sql("SELECT cosine_similarity(array(1.0))").collect())
    assert(e1.toString.contains("cosine_similarity") &&
      e1.toString.contains("2 arguments, got 1"))
    // three args to a 1-or-2-arg function
    val e2 = intercept[Exception](spark.sql("SELECT deflate_ratio('x', 6, 7)").collect())
    assert(e2.toString.contains("deflate_ratio"))
    // zero args to a 1-arg function
    val e3 = intercept[Exception](spark.sql("SELECT html_unescape()").collect())
    assert(e3.toString.contains("html_unescape"))
  }

  test("minhashSignatureLongs skips null slots (null element != literal 0L)") {
    // getLong on a null slot reads 0 — an unguarded loop would make
    // array(NULL) indistinguishable from array(0L)
    import graft.functions.HashExpressions.minhashSignatureLongs
    import org.apache.spark.sql.functions.{array, lit}
    val row = spark.range(1).select(
        minhashSignatureLongs(
          array(lit(null).cast("bigint")), 4).as("ofNull"),
        minhashSignatureLongs(array(lit(0L)), 4).as("ofZero"),
        minhashSignatureLongs(
          array().cast("array<bigint>"), 4).as("ofEmpty"))
      .collect()(0)
    val ofNull = row.getSeq[Long](0)
    assert(ofNull === row.getSeq[Long](2),
      "a null element must contribute nothing, like an empty array")
    assert(ofNull !== row.getSeq[Long](1),
      "a null element must not hash as literal 0L")
  }

  test("simhash64 via SQL equals the Scala API") {
    import extSpark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(Seq("x", "y", "z")).toDF("t")
    val viaApi = df.select(graft.functions.HashExpressions.simhash64(col("t")))
      .collect()(0).getLong(0)
    val viaSql = extSpark.sql("SELECT simhash64(array('x','y','z'))").collect()(0).getLong(0)
    assert(viaApi === viaSql)
  }

  test("smartSearch composes the §3.1 lifecycle with a context filter") {
    import extSpark.implicits._
    val spark2 = extSpark
    val so = new search.SearchService.Source {
      def name = "stackoverflow"
      def search(s: SparkSession, q: String, n: Int) = {
        import s.implicits._
        Seq((s"so: $q", "t", "stackoverflow", "http://so/1", 0))
          .toDF("content", "title", "source_type", "source_url", "rank")
      }
    }
    val gh = new search.SearchService.Source {
      def name = "github"
      def search(s: SparkSession, q: String, n: Int) = {
        import s.implicits._
        Seq((s"gh: $q", "t", "github", "http://gh/1", 0))
          .toDF("content", "title", "source_type", "source_url", "rank")
      }
    }
    val emb = search.HashEmbedder(8)
    val kb0 = emb.embedColumn(
      Seq(("existing", "t", "internal", "http://k/1", 0))
        .toDF("content", "title", "source_type", "source_url", "rank"),
      "content", "embedding")
    // context 'error' → stackoverflow only
    val (results, mergedKb) = search.SearchService.smartSearch(
      spark2, Seq(so, gh), kb0, emb, "how to fix", context = Some("error"))
    assert(results.select("source_type").as[String].collect().toSeq === Seq("stackoverflow"))
    assert(mergedKb.count() === 2) // existing + 1 new
  }
}
