package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import ExprBridge.{toColumn, toExpr}

/** Okapi BM25 as ONE scoring kernel, shared by the fresh
  * ([[graft.operators.Lexical]]) and indexed
  * ([[graft.operators.LexicalIndex]]) ranking paths.
  *
  * Query-invariant codegen: the query's terms, their idfs and the
  * corpus `avgdl` live in the expression object, which generated code
  * reaches through `ctx.addReferenceObj` — nothing per-query is inlined
  * as a Java literal. Two queries with the same plan shape therefore
  * generate byte-identical source, and Spark's codegen cache compiles
  * the scoring stage once per JVM instead of once per query (a per-term
  * `when(tf > 0, lit(idf) * ...)` fold inlined every idf, so each new
  * query compiled a fresh whole-stage class).
  */
object Bm25 {

  /** Lucene's non-negative idf smoothing: ln(1 + (N - df + 0.5)/(df + 0.5)). */
  def idf(n: Long, df: Long): Double = math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** BM25 of one query against each row. `tfs` is either the row's
    * query-term occurrence bag (`array<string>`, one element per
    * occurrence) or a term → tf map (`map<string, bigint>`); `dl` is the
    * document length (double). `terms` and `idfs` align by position. */
  def score(tfs: Column, dl: Column, terms: Seq[String], idfs: Seq[Double],
      avgdl: Double, k1: Double, b: Double): Column =
    toColumn(Bm25Score(toExpr(tfs), toExpr(dl), terms, idfs, avgdl, k1, b))
}

/** Per row: sum over `terms` IN ORDER of
  * `((idf*tf)*(k1+1)) / (tf + k1*((1-b) + (b*dl)/avgdl))`, 0.0 where
  * tf = 0 — the exact left-to-right association the DuckDB oracle
  * parses, so scores are bit-reproducible across engines. */
case class Bm25Score(
    tfs: Expression, dl: Expression, terms: Seq[String], idfs: Seq[Double],
    avgdl: Double, k1: Double, b: Double) extends BinaryExpression {
  require(terms.nonEmpty && terms.length == idfs.length,
    s"need one idf per term, got ${terms.length} terms and ${idfs.length} idfs")

  private val keys = terms.map(UTF8String.fromString).toArray
  private val idfArr = idfs.toArray
  private val k1p1 = k1 + 1.0
  private val oneMinusB = 1.0 - b

  override def left: Expression = tfs
  override def right: Expression = dl
  override def dataType: DataType = DoubleType
  override def prettyName: String = "bm25_score"

  override def checkInputDataTypes(): TypeCheckResult = (tfs.dataType, dl.dataType) match {
    case (ArrayType(StringType, _) | MapType(StringType, LongType, _), DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case (t, d) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string> | map<string,bigint>, double), " +
        s"got (${t.catalogString}, ${d.catalogString})")
  }

  /** Called per row by the interpreted path and by generated code. */
  def score(tfs: AnyRef, dl: Double): Double = tfs match {
    case m: MapData => fold(m.keyArray(), m.valueArray(), dl)
    case bag: ArrayData => fold(bag, null, dl)
  }

  /** `words(j)` occurs `counts(j)` times (once each when `counts` is
    * null, the occurrence bag). */
  private def fold(words: ArrayData, counts: ArrayData, dl: Double): Double = {
    val tf = new Array[Long](keys.length)
    val n = words.numElements()
    var j = 0
    while (j < n) {
      if (!words.isNullAt(j)) {
        val w = words.getUTF8String(j)
        val c = if (counts == null) 1L else if (counts.isNullAt(j)) 0L else counts.getLong(j)
        var i = 0
        while (i < keys.length) {
          if (w == keys(i)) tf(i) += c
          i += 1
        }
      }
      j += 1
    }
    // (b*dl)/avgdl, as DuckDB parses `0.25 + 0.75 * dl/avgdl`:
    // b*(dl/avgdl) differs from the oracle in the last ulp
    val norm = oneMinusB + (b * dl) / avgdl
    // reduceLeft over the per-term scores: the first term seeds the sum
    var s = termScore(0, tf(0).toDouble, norm)
    var i = 1
    while (i < keys.length) {
      s += termScore(i, tf(i).toDouble, norm)
      i += 1
    }
    s
  }

  private def termScore(i: Int, tf: Double, norm: Double): Double =
    if (tf > 0) ((idfArr(i) * tf) * k1p1) / (tf + k1 * norm) else 0.0

  override protected def nullSafeEval(t: Any, d: Any): Any =
    score(t.asInstanceOf[AnyRef], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bm25", this, classOf[Bm25Score].getName)
    defineCodeGen(ctx, ev, (t, d) => s"$ref.score($t, $d)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(tfs = newLeft, dl = newRight)
}
