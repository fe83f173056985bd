package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** xxhash64 (Spark's seed-42 `xxhash64`) of every n-token window of a
  * text, tokens joined by `sep` — bit-identical to the composable form
  *
  *   transform(sequence(lit(1), size(t) - (n - 1)),
  *     i => xxhash64(array_join(slice(t, i, n), sep)))
  *
  * with `t = split(trim(text), "\\s+")` (TextFunctions.wsTokens), in ONE
  * native byte pass (SURVEY §2.10: custom `Expression` over UDF/HOF).
  *
  * The HOF chain is the hot loop of every gram pipeline (span dedup,
  * decontamination, boilerplate/df profiles, containment): per window it
  * allocates a sliced array, builds the joined string, and walks three
  * interpreted lambdas — `transform` is CodegenFallback, so the whole
  * projection drops out of whole-stage codegen. Here the text is
  * tokenized once into a reusable separator-normalized byte buffer
  * (every whitespace run between tokens replaced by the single `sep`
  * byte), after which EACH window is a contiguous byte range of that
  * buffer — one XXH64 call per window, zero per-window allocation.
  *
  * Split parity is exact, including the edge cases: `trim` strips ASCII
  * SPACE (0x20) only; `split` on Java's `\s+` with limit −1 keeps a
  * leading empty token when the trimmed text starts with a
  * tab/newline and a trailing empty token when it ends with one, and
  * yields one empty token for an all-space text. Windows < 1 (fewer
  * than n tokens) return an empty array — callers that used
  * `filter(size(t) >= n)` purely to guard the transform can drop the
  * token projection entirely (explode of an empty array emits nothing).
  *
  * Bit-equality with the HOF form is pinned in `TokenWindowSpec` over
  * the edge-case corpus; every consuming query keeps its oracle.
  */
case class TokenWindowHashes(child: Expression, n: Int, sep: Byte)
    extends UnaryExpression {
  require(n > 0, s"window width must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_window_hashes needs a string column, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_window_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.hashes(input.asInstanceOf[UTF8String], n, sep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenWindows.hashes($c, $n, (byte) $sep)")

  override protected def withNewChildInternal(newChild: Expression): TokenWindowHashes =
    copy(child = newChild)
}

/** The n-token window STRINGS of a text, tokens joined by `sep` — the
  * string sibling of [[TokenWindowHashes]] for pipelines whose gram must
  * stay a string (portable-md5 Bloom grams, exact COUNT(DISTINCT gram)):
  * bit-identical to
  *
  *   transform(sequence(lit(1), size(t) - (n - 1)),
  *     i => array_join(slice(t, i, n), sep))
  *
  * over wsTokens, but one tokenize pass into the separator-normalized
  * buffer and one UTF8String slice per window — no per-window array
  * slice, join walk, or interpreted lambda dispatch. */
case class TokenWindowStrings(child: Expression, n: Int, sep: Byte)
    extends UnaryExpression {
  require(n > 0, s"window width must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_window_strings needs a string column, got $other")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_window_strings"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.strings(input.asInstanceOf[UTF8String], n, sep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenWindows.strings($c, $n, (byte) $sep)")

  override protected def withNewChildInternal(newChild: Expression): TokenWindowStrings =
    copy(child = newChild)
}

/** Per-bigram (h1, h12) hash pairs of a text — bit-identical to the
  * lmScores chain over wsTokens:
  *
  *   transform(sequence(1, size(t) - 1),
  *     i => struct(xxhash64(t(i)) as h1, xxhash64(t(i), t(i+1)) as h12))
  *
  * (Spark's multi-argument xxhash64 seeds each argument's hash with the
  * previous one, so h12 = XXH64(w2, XXH64(w1, 42)) — which makes h1 a
  * PREFIX of h12's computation: one hash per token plus one per bigram,
  * where the HOF form hashed every token three times and paid the
  * interpreted-lambda walk.) Output is array<struct<h1,h12>> in token
  * order; texts under two tokens yield an empty array (the callers'
  * `size(t) >= 2` filter, folded in). */
case class TokenBigramHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_bigram_hashes needs a string column, got $other")
  }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h1", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("h12", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_bigram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.bigramHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenWindows.bigramHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenBigramHashes =
    copy(child = newChild)
}

/** Whitespace-split FIELD count — bit-identical to
  * `size(split(trim(text), "\\s+"))` (= size(TextFunctions.wsTokens)),
  * including the empty-token edge cases above (an all-space text counts
  * 1, a leading tab adds 1), where [[TokenCount]] counts only NON-EMPTY
  * tokens. Callers that report `n_toks = size(t)` can compute it with
  * this allocation-free scan instead of materializing the token array. */
case class WsFieldCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ws_field_count needs a string column, got $other")
  }

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ws_field_count"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.fieldCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenWindows.fieldCount($c)")

  override protected def withNewChildInternal(newChild: Expression): WsFieldCount =
    copy(child = newChild)
}

/** MULTI-WIDTH window hashes in one tokenize pass: for each width n in
  * `ns` (ascending, distinct), every n-token window's xxhash64 — the
  * hash tagged with its width as array<struct<n:int, h:long>>. Per
  * width, bit-identical to [[TokenWindowHashes]] (same normalized
  * buffer, same contiguous-range XXH64), so a consumer that previously
  * ran one corpus pass PER width (the tx_distinct_ngrams profile: three
  * scans, three tokenizations) gets the identical hash stream from ONE
  * scan with the per-width rows separated by the tag. */
case class TokenWindowHashesTagged(child: Expression, ns: Seq[Int], sep: Byte)
    extends UnaryExpression {
  require(ns.nonEmpty && ns.forall(_ > 0) && ns == ns.distinct.sorted,
    s"widths must be positive, distinct, ascending, got $ns")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_window_hashes_tagged needs a string column, got $other")
  }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_window_hashes_tagged"

  @transient private lazy val nsArr: Array[Int] = ns.toArray

  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.hashesTagged(input.asInstanceOf[UTF8String], nsArr, sep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nsRef = ctx.addReferenceObj("ns", nsArr, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenWindows.hashesTagged($c, $nsRef, (byte) $sep)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenWindowHashesTagged =
    copy(child = newChild)
}

/** md5-bucket of every n-token window in one pass — bit-identical to the
  * DSIR gram chain it replaces:
  *
  *   transform(sequence(1, size(t) - (n-1)),
  *     i => Md5Prefix(array_join(slice(t, i, n), sep), skip, take) % mod)
  *
  * over wsTokens: the window bytes (fields joined by `sep`) are digested
  * straight out of the separator-normalized buffer — md5 of the exact
  * same byte sequence as the gram STRING the old chain materialized —
  * then the [skip, skip+take) hex-nibble value mod `mod`. One
  * thread-local digest, no token array, no gram strings, no interpreted
  * lambda. `take ≤ 15` keeps the value in a positive long, so `%` is
  * already non-negative (= pmod). */
case class TokenWindowMd5Buckets(child: Expression, n: Int, sep: Byte,
                                 skip: Int, take: Int, mod: Int)
    extends UnaryExpression {
  require(n > 0, s"window width must be positive, got $n")
  require(skip >= 0 && take >= 1 && take <= 15 && skip + take <= 32,
    s"need skip >= 0, 1 <= take <= 15, skip + take <= 32, got skip=$skip take=$take")
  require(mod > 0, s"mod must be positive, got $mod")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_window_md5_buckets needs a string column, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_window_md5_buckets"

  override protected def nullSafeEval(input: Any): Any =
    TokenWindows.md5Buckets(input.asInstanceOf[UTF8String], n, sep, skip, take, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenWindows.md5Buckets($c, $n, (byte) $sep, $skip, $take, $mod)")

  override protected def withNewChildInternal(newChild: Expression): TokenWindowMd5Buckets =
    copy(child = newChild)
}

object TokenWindows {

  /** US (0x1F) separator — the gram pipelines' boundary-unambiguous
    * join byte (= the oracles' chr(31)). */
  final val UnitSep: Byte = 0x1f

  /** Column-API entry point, 0x1F-joined (the dominant convention). */
  def apply(c: Column, n: Int): Column =
    Bridge.column(TokenWindowHashes(Bridge.expression(c), n, UnitSep))

  /** Column-API entry point with an explicit join byte (e.g. ' ' for the
    * space-joined boilerplate grams). */
  def apply(c: Column, n: Int, sep: Byte): Column =
    Bridge.column(TokenWindowHashes(Bridge.expression(c), n, sep))

  def fieldCountCol(c: Column): Column =
    Bridge.column(WsFieldCount(Bridge.expression(c)))

  /** Java `\s` on the ASCII range: [ \t\n\x0B\f\r] — the class wsTokens'
    * split("\\s+") matches (tokens are ASCII-whitespace-delimited; `\s`
    * without UNICODE_CHARACTER_CLASS matches no code point above 0x0D).
    * The one whitespace definition of every byte kernel in this package. */
  private[functions] def isWs(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** Field boundaries of `split(trim(text), "\\s+")` with Java limit −1
    * semantics over bytes[lo, hi): writes field start offsets into
    * `starts` and end offsets into `ends`, returns the field count.
    * Caller sizes the arrays to a safe upper bound ((hi−lo)/2 + 2).
    * Fields may be EMPTY (start == end): the [""] of an all-space text
    * and the leading/trailing field a non-space whitespace run leaks.
    * This and its allocation-free twin [[fieldCount]] are the only
    * trim-and-split scans in this package — every token kernel
    * ([[TokenPostings]], [[TextQualityStats]], [[RepetitionStats]], the
    * window kernels) reads its fields here, [[TokenCounts]] counts them
    * there, so split parity is defined exactly once. */
  private[functions] def splitFieldBounds(bytes: Array[Byte], lo0: Int, hi0: Int,
                          starts: Array[Int], ends: Array[Int]): Int = {
    // trim: ASCII space only (Spark `trim` strips 0x20, not tabs)
    var lo = lo0; var hi = hi0
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    var t = 0
    var prev = lo
    var i = lo
    while (i < hi) {
      if (isWs(bytes(i))) {
        starts(t) = prev; ends(t) = i; t += 1
        i += 1
        while (i < hi && isWs(bytes(i))) i += 1
        prev = i
      } else i += 1
    }
    starts(t) = prev; ends(t) = hi
    t + 1
  }

  /** Static helper invoked from both interpreted eval and generated code. */
  def hashes(s: UTF8String, n: Int, sep: Byte): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // worst case one field per 2 bytes ("a b c"), plus the edge fields
    val starts = new Array[Int](len / 2 + 2)
    val ends = new Array[Int](len / 2 + 2)
    val t = splitFieldBounds(bytes, 0, len, starts, ends)
    if (t < n) return new GenericArrayData(Array.emptyLongArray)
    val offs = new Array[Int](t + 1)
    val norm = normalize(bytes, starts, ends, t, sep, offs)
    val w = t - n + 1
    val out = new Array[Long](w)
    var x = 0
    while (x < w) {
      val st = offs(x)
      out(x) = XXH64.hashUnsafeBytes(norm,
        Platform.BYTE_ARRAY_OFFSET + st, offs(x + n) - 1 - st, 42L)
      x += 1
    }
    new GenericArrayData(out)
  }

  /** Column entry point for the window STRINGS form, 0x1F-joined. */
  def stringsCol(c: Column, n: Int): Column =
    Bridge.column(TokenWindowStrings(Bridge.expression(c), n, UnitSep))

  /** Static helper invoked from both interpreted eval and generated code. */
  def strings(s: UTF8String, n: Int, sep: Byte): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val starts = new Array[Int](len / 2 + 2)
    val ends = new Array[Int](len / 2 + 2)
    val t = splitFieldBounds(bytes, 0, len, starts, ends)
    if (t < n) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](t + 1)
    val norm = normalize(bytes, starts, ends, t, sep, offs)
    val w = t - n + 1
    val out = new Array[Any](w)
    var x = 0
    while (x < w) {
      val st = offs(x)
      val l = offs(x + n) - 1 - st
      val b = new Array[Byte](l)
      System.arraycopy(norm, st, b, 0, l)
      out(x) = UTF8String.fromBytes(b)
      x += 1
    }
    new GenericArrayData(out)
  }

  /** Column entry point for the bigram (h1, h12) hash pairs. */
  def bigramHashesCol(c: Column): Column =
    Bridge.column(TokenBigramHashes(Bridge.expression(c)))

  /** Static helper invoked from both interpreted eval and generated code. */
  def bigramHashes(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val starts = new Array[Int](len / 2 + 2)
    val ends = new Array[Int](len / 2 + 2)
    val t = splitFieldBounds(bytes, 0, len, starts, ends)
    if (t < 2) return new GenericArrayData(Array.empty[Any])
    // one xxhash64 per token (seed 42), reused as the seed of the
    // following token's hash for the pair key
    val th = new Array[Long](t)
    var k = 0
    while (k < t) {
      th(k) = XXH64.hashUnsafeBytes(bytes,
        Platform.BYTE_ARRAY_OFFSET + starts(k), ends(k) - starts(k), 42L)
      k += 1
    }
    val out = new Array[Any](t - 1)
    k = 0
    while (k < t - 1) {
      val h12 = XXH64.hashUnsafeBytes(bytes,
        Platform.BYTE_ARRAY_OFFSET + starts(k + 1), ends(k + 1) - starts(k + 1),
        th(k))
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](th(k), h12))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column entry point for the multi-width tagged window hashes,
    * 0x1F-joined. */
  def taggedCol(c: Column, ns: Seq[Int]): Column =
    Bridge.column(TokenWindowHashesTagged(Bridge.expression(c), ns, UnitSep))

  /** Column entry point for the md5-bucket window hashes, 0x1F-joined. */
  def md5BucketsCol(c: Column, n: Int, skip: Int, take: Int, mod: Int): Column =
    Bridge.column(TokenWindowMd5Buckets(Bridge.expression(c), n, UnitSep,
      skip, take, mod))

  /** The separator-normalized buffer every window kernel reads: fields
    * joined by ONE `sep` byte, so any token window is a contiguous range.
    * Fills `offs` (offs(k) = start of field k in the buffer, offs(t) =
    * end + 1, so window [w, w+n) spans [offs(w), offs(w+n) − 1)) and
    * returns the buffer. */
  private def normalize(bytes: Array[Byte], starts: Array[Int], ends: Array[Int],
                        t: Int, sep: Byte, offs: Array[Int]): Array[Byte] = {
    var normLen = t - 1
    var k = 0
    while (k < t) { normLen += ends(k) - starts(k); k += 1 }
    val norm = new Array[Byte](normLen)
    var p = 0
    k = 0
    while (k < t) {
      if (k > 0) { norm(p) = sep; p += 1 }
      offs(k) = p
      val flen = ends(k) - starts(k)
      System.arraycopy(bytes, starts(k), norm, p, flen)
      p += flen
      k += 1
    }
    offs(t) = normLen + 1
    norm
  }

  /** Static helper invoked from both interpreted eval and generated code. */
  def hashesTagged(s: UTF8String, ns: Array[Int], sep: Byte): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val starts = new Array[Int](len / 2 + 2)
    val ends = new Array[Int](len / 2 + 2)
    val t = splitFieldBounds(bytes, 0, len, starts, ends)
    var total = 0
    var i = 0
    while (i < ns.length) { total += math.max(0, t - ns(i) + 1); i += 1 }
    if (total == 0) return new GenericArrayData(Array.empty[Any])
    val offs = new Array[Int](t + 1)
    val norm = normalize(bytes, starts, ends, t, sep, offs)
    val out = new Array[Any](total)
    var o = 0
    i = 0
    while (i < ns.length) {
      val n = ns(i)
      val w = t - n + 1
      var x = 0
      while (x < w) {
        val st = offs(x)
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, XXH64.hashUnsafeBytes(norm,
            Platform.BYTE_ARRAY_OFFSET + st, offs(x + n) - 1 - st, 42L)))
        o += 1
        x += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  private val md5s = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static helper invoked from both interpreted eval and generated code. */
  def md5Buckets(s: UTF8String, n: Int, sep: Byte, skip: Int, take: Int,
                 mod: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val starts = new Array[Int](len / 2 + 2)
    val ends = new Array[Int](len / 2 + 2)
    val t = splitFieldBounds(bytes, 0, len, starts, ends)
    if (t < n) return new GenericArrayData(Array.emptyLongArray)
    val offs = new Array[Int](t + 1)
    val norm = normalize(bytes, starts, ends, t, sep, offs)
    val md = md5s.get()
    val w = t - n + 1
    val out = new Array[Long](w)
    var x = 0
    while (x < w) {
      val st = offs(x)
      md.reset()
      md.update(norm, st, offs(x + n) - 1 - st)
      val d = md.digest()
      var v = 0L
      var j = skip
      val end = skip + take
      while (j < end) {
        val b = d(j >> 1) & 0xff
        val nib = if ((j & 1) == 0) b >> 4 else b & 0xf
        v = (v << 4) | nib
        j += 1
      }
      out(x) = v % mod
      x += 1
    }
    new GenericArrayData(out)
  }

  /** Static helper for [[WsFieldCount]]. */
  def fieldCount(s: UTF8String): Int = fieldCount(s.getBytes)

  /** Number of fields [[splitFieldBounds]] would write for `bytes`,
    * without writing them — for kernels that only need the count. */
  private[functions] def fieldCount(bytes: Array[Byte]): Int = {
    var lo = 0; var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    var t = 1
    var i = lo
    while (i < hi) {
      if (isWs(bytes(i))) {
        t += 1
        i += 1
        while (i < hi && isWs(bytes(i))) i += 1
      } else i += 1
    }
    t
  }
}
