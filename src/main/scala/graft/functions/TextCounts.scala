package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Open-addressing counter over byte SLICES of one document — the
  * per-row workhorse behind [[RepetitionStats]]. Keys are (offset, len)
  * views into the document's UTF-8 bytes: no token/sentence is ever
  * materialized as a String. Linear probing, FNV-1a hashes cached per
  * slot, grow-by-doubling at 0.7 load. Tracks the distinct count and the
  * maximum multiplicity — the two numbers the repetition ratios need.
  */
private final class SliceCounter(bytes: Array[Byte], expected: Int) {
  private var cap = {
    var c = 16
    val target = math.max(16, expected * 2)
    while (c < target) c <<= 1
    c
  }
  private var offs = new Array[Int](cap)
  private var lens = new Array[Int](cap)
  private var hashes = new Array[Int](cap)
  private var cnts = new Array[Int](cap)
  java.util.Arrays.fill(lens, -1)
  private var used = 0
  private var maxCnt = 0

  private def hash(off: Int, len: Int): Int = {
    var h = 0x811c9dc5
    var i = off
    val end = off + len
    while (i < end) { h = (h ^ (bytes(i) & 0xff)) * 0x01000193; i += 1 }
    h
  }

  private def eq(o1: Int, l1: Int, o2: Int, l2: Int): Boolean = {
    if (l1 != l2) return false
    var i = 0
    while (i < l1) { if (bytes(o1 + i) != bytes(o2 + i)) return false; i += 1 }
    true
  }

  def add(off: Int, len: Int): Unit = {
    val h = hash(off, len)
    var slot = h & (cap - 1)
    while (true) {
      if (lens(slot) < 0) {
        offs(slot) = off; lens(slot) = len; hashes(slot) = h; cnts(slot) = 1
        used += 1
        if (maxCnt < 1) maxCnt = 1
        if (used * 10 > cap * 7) grow()
        return
      } else if (hashes(slot) == h && eq(offs(slot), lens(slot), off, len)) {
        cnts(slot) += 1
        if (cnts(slot) > maxCnt) maxCnt = cnts(slot)
        return
      } else slot = (slot + 1) & (cap - 1)
    }
  }

  private def grow(): Unit = {
    val oldOffs = offs; val oldLens = lens; val oldHashes = hashes; val oldCnts = cnts
    cap <<= 1
    offs = new Array[Int](cap); lens = new Array[Int](cap)
    hashes = new Array[Int](cap); cnts = new Array[Int](cap)
    java.util.Arrays.fill(lens, -1)
    var i = 0
    while (i < oldLens.length) {
      if (oldLens(i) >= 0) {
        var slot = oldHashes(i) & (cap - 1)
        while (lens(slot) >= 0) slot = (slot + 1) & (cap - 1)
        offs(slot) = oldOffs(i); lens(slot) = oldLens(i)
        hashes(slot) = oldHashes(i); cnts(slot) = oldCnts(i)
      }
      i += 1
    }
  }

  def distinct: Int = used
  def maxCount: Int = maxCnt
}

/** Both token counts of `tx_token_counts` in ONE native byte scan:
  * whitespace tokens and "BPE-ish" subword tokens (SURVEY §2.10 token
  * counting; custom `Expression` over UDF).
  *
  * The composable form pays two regex engines per document: `n_ws` ≡
  * `size(split(trim(text), "\\s+"))`, counted by the allocation-free
  * [[TokenWindows.fieldCount]] (the edge cases — [""] for empty or
  * space-only text, the empty field a leading/trailing non-space
  * whitespace run leaks — are defined there, once), and `n_bpe` ≡
  * `regexp_count(text, "[a-z]+|[0-9]|[^a-z0-9\\s]")` — alternation
  * semantics byte-replicated: a maximal `[a-z]` run is one match, each
  * digit is its own match, and every other non-whitespace CODE POINT
  * (uppercase included — lead bytes only, so multibyte continuation
  * bytes never miscount) is its own match. Equivalence incl. edge cases
  * and seeded fuzz is pinned in CurationSpec.
  */
case class TokenCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_counts needs a string column, got $other")
  }

  override def dataType: DataType = TokenCounts.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_counts"

  override protected def nullSafeEval(input: Any): Any =
    TokenCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCounts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

object TokenCounts {

  val schema: StructType = StructType(Seq(
    StructField("n_ws", LongType, nullable = false),
    StructField("n_bpe", LongType, nullable = false)))

  def apply(c: Column): Column = Bridge.column(TokenCounts(Bridge.expression(c)))

  /** Public deliberately: generated Java calls this static forwarder
    * (see the [[HashedShingles.countTokens]] Janino note). */
  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length

    // ---- n_bpe: one pass over all bytes, lead bytes only
    var nBpe = 0L
    var prevAz = false
    var i = 0
    while (i < len) {
      val b = bytes(i)
      if ((b & 0xc0) == 0x80) () // continuation byte: not a code point
      else if (b >= 'a' && b <= 'z') {
        if (!prevAz) nBpe += 1 // a maximal [a-z]+ run is ONE match
        prevAz = true
      } else {
        if (b >= '0' && b <= '9') nBpe += 1 // each digit its own match
        else if (!TokenWindows.isWs(b)) nBpe += 1 // any other code point
        prevAz = false
      }
      i += 1
    }

    // ---- n_ws: the split(trim(text), "\s+") field count
    val nWs = TokenWindows.fieldCount(bytes).toLong

    val row = new GenericInternalRow(2)
    row.setLong(0, nWs)
    row.setLong(1, nBpe)
    row
  }
}

/** The four counters behind `tx_repetition` in ONE native pass —
  * duplicate-sentence and top-token repetition signals (SURVEY §2.10
  * repetition scoring).
  *
  * The composable form materializes two arrays per document and sorts
  * one of them: `split(text, "\\. ")` + `array_distinct` for sentences,
  * and `array_sort` + an interpreted `aggregate` HOF over
  * `split(trim(text), "\\s+")` for the top-token run — the HOF drops the
  * projection out of whole-stage codegen. This expression scans the
  * UTF-8 bytes once per signal with a [[SliceCounter]] (open-addressed
  * (offset,len) views, nothing materialized) and returns the counts;
  * the ratio arithmetic stays in Column space so the oracle-pinned
  * doubles are bit-unchanged:
  *  - `n_sents` / `n_distinct_sents` ≡ sizes of `split(text, "\\. ")`
  *    and its `array_distinct` — the literal ". " delimiter scanned
  *    left-to-right non-overlapping, empty pieces kept (limit=-1);
  *  - `n_toks` ≡ `size(split(trim(text), "\\s+"))` — the fields of
  *    [[TokenWindows.splitFieldBounds]] — and `max_tok_count` the maximum
  *    multiplicity among those fields: the leaked empty fields
  *    participate (both leaking makes "" a count-2 token), exactly as
  *    they do in the composable `array_sort` form.
  * Equivalence incl. edges and seeded fuzz is pinned in CurationSpec.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats needs a string column, got $other")
  }

  override def dataType: DataType = RepetitionStats.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "repetition_stats"

  override protected def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {

  val schema: StructType = StructType(Seq(
    StructField("n_sents", LongType, nullable = false),
    StructField("n_distinct_sents", LongType, nullable = false),
    StructField("n_toks", LongType, nullable = false),
    StructField("max_tok_count", LongType, nullable = false)))

  def apply(c: Column): Column = Bridge.column(RepetitionStats(Bridge.expression(c)))

  /** Public deliberately: generated Java calls this static forwarder. */
  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val len = bytes.length

    // ---- sentences: literal ". " split, left-to-right non-overlapping
    val sents = new SliceCounter(bytes, math.max(4, len / 64))
    var nSents = 0L
    var start = 0
    var i = 0
    while (i < len) {
      if (bytes(i) == '.' && i + 1 < len && bytes(i + 1) == ' ') {
        sents.add(start, i - start); nSents += 1
        i += 2; start = i
      } else i += 1
    }
    sents.add(start, len - start); nSents += 1 // final piece, "" included

    // ---- tokens: the split(trim(text), "\s+") fields, empty ones included
    val starts = new Array[Int](len / 2 + 2)
    val ends = new Array[Int](len / 2 + 2)
    val nToks = TokenWindows.splitFieldBounds(bytes, 0, len, starts, ends)
    val toks = new SliceCounter(bytes, nToks)
    var k = 0
    while (k < nToks) { toks.add(starts(k), ends(k) - starts(k)); k += 1 }

    val row = new GenericInternalRow(4)
    row.setLong(0, nSents)
    row.setLong(1, sents.distinct.toLong)
    row.setLong(2, nToks.toLong)
    row.setLong(3, toks.maxCount.toLong)
    row
  }
}
