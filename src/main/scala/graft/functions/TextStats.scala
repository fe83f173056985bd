package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The four quality-scoring counters of a document in ONE native byte
  * scan: whitespace-token count, non-whitespace character count,
  * stopword hits, and punctuation characters (SURVEY §2.10: custom
  * `Expression` over UDF).
  *
  * The composable form pays three regex passes plus an interpreted
  * projection per document — `split(trim(text), "\\s+")` materializes a
  * token array, `regexp_replace(text, "\\s+", "")` rewrites the text,
  * `regexp_count(text, "[^a-z0-9\\s]")` scans it again, and the
  * stopword HOF `filter` drops the whole projection out of whole-stage
  * codegen, so common subexpressions are re-evaluated. At 500k docs
  * (sf10) that stack of engines made tx_quality — and the pipe_curate /
  * pipe_fates gates that embed the same formula over a DOUBLED corpus —
  * the slowest rows in the suite.
  *
  * Field semantics replicate the composable form EXACTLY (the DuckDB
  * oracle rows pin them):
  *  - `n_tokens` ≡ `size(split(trim(text), "\\s+"))`: the fields of
  *    [[TokenWindows.splitFieldBounds]], whose edge cases are Spark's —
  *    spaces-only trim, so an empty/space-only text yields 1 (the [""]
  *    array), and — because Spark's split uses limit=-1, unlike Java's
  *    String.split — BOTH a leading and a trailing non-space whitespace
  *    run leak an empty field.
  *  - `nonws_chars` ≡ `length(regexp_replace(text, "\\s+", ""))` — code
  *    points that are not Java `\s` (ASCII [ \t\n\x0B\f\r]).
  *  - `stop_hits` ≡ `size(filter(tokens, t => array_contains(stops, t)))`
  *    — non-empty tokens byte-equal to a stopword.
  *  - `punct_cnt` ≡ `regexp_count(text, "[^a-z0-9\\s]")` — code points
  *    outside [a-z0-9] ∪ `\s` (uppercase counts, per the class).
  * Code points are counted as UTF-8 lead bytes; every class byte-test is
  * ASCII-only, so continuation bytes never miscount.
  */
case class TextQualityStats(child: Expression, stops: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text_quality_stats needs a string column, got $other")
  }

  override def dataType: DataType = TextQualityStats.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "text_quality_stats"

  @transient private lazy val stopBytes: Array[Array[Byte]] =
    stops.map(_.getBytes("UTF-8")).toArray

  override protected def nullSafeEval(input: Any): Any =
    TextQualityStats.compute(input.asInstanceOf[UTF8String], stopBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopBytes", stopBytes, "byte[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextQualityStats.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextQualityStats =
    copy(child = newChild)
}

object TextQualityStats {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("nonws_chars", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("punct_cnt", LongType, nullable = false)))

  /** Column-API entry point: text_quality_stats($"text", stopwords). */
  def apply(c: Column, stops: Seq[String]): Column =
    Bridge.column(TextQualityStats(Bridge.expression(c), stops))

  /** Public deliberately: generated Java calls this static forwarder
    * (see the [[HashedShingles.countTokens]] note on Janino). */
  def compute(s: UTF8String, stops: Array[Array[Byte]]): InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length
    var chars = 0; var ws = 0; var az = 0; var digit = 0
    var i = 0
    while (i < len) {
      val b = bytes(i)
      if ((b & 0xc0) != 0x80) chars += 1
      if (TokenWindows.isWs(b)) ws += 1
      else if (b >= 'a' && b <= 'z') az += 1
      else if (b >= '0' && b <= '9') digit += 1
      i += 1
    }
    val starts = new Array[Int](len / 2 + 2)
    val ends = new Array[Int](len / 2 + 2)
    val nTokens = TokenWindows.splitFieldBounds(bytes, 0, len, starts, ends)
    var stopHits = 0L
    var t = 0
    while (t < nTokens) {
      val t0 = starts(t); val tl = ends(t) - t0
      var k = 0; var matched = false
      while (tl > 0 && k < stops.length && !matched) { // "" never matches
        val sw = stops(k)
        if (sw.length == tl) {
          var j = 0
          while (j < tl && sw(j) == bytes(t0 + j)) j += 1
          matched = j == tl
        }
        k += 1
      }
      if (matched) stopHits += 1
      t += 1
    }
    new GenericInternalRow(Array[Any](
      nTokens.toLong, (chars - ws).toLong, stopHits, (chars - ws - az - digit).toLong))
  }
}
