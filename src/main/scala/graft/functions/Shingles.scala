package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit hashes of the DISTINCT n-token shingles of a text, in one
  * native pass (SURVEY §2.10: custom `Expression` over UDF).
  *
  * Replaces the composable `wsTokens` → `shinglesFromTokens` chain for the
  * near-dup pipeline: that form materializes every shingle as a
  * CONCATENATED STRING (k string allocations per document) only for each
  * one to be hashed downstream anyway. Here the text bytes are scanned
  * twice (token count, then fill — both allocation-free byte scans): each
  * whitespace-delimited token is FNV-1a+fmix64 hashed as it is read, a
  * ring buffer holds the last n token hashes, and each complete window
  * emits one fmix-chained shingle hash into an exact-size primitive
  * array. The output is SORTED and DEDUPLICATED — the same set semantics
  * as `shinglesFromTokens`' `array_distinct`, in canonical order, so the
  * downstream set-Jaccard (|A∩B| / (|A|+|B|−|A∩B|)) is exact and a
  * content key over the array is a canonical SET key. Tokenization
  * splits on Java's `\s` class on the ASCII range (space, \t, \n, \x0B,
  * \f, \r) and NEVER emits empty tokens — deliberately stricter than
  * `wsTokens`' `split(trim(text), "\\s+")`, whose space-only trim leaks
  * an empty first token when text starts with a tab/newline; the two
  * forms agree on any text whose leading whitespace is spaces.
  *
  * 64-bit shingle hashes make the Jaccard exact up to hash collisions
  * (~n²·2⁻⁶⁴ per pair — negligible at any corpus size). Output length =
  * distinct windows, 0 when tokens < n; callers should pre-filter short
  * docs on [[TokenCount]] so degenerate documents never reach the
  * aggregation (an empty-set group would otherwise collect every short
  * doc into one reducer row).
  */
case class HashedShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"shingle width must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hashed_shingles needs a string column, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_shingles"

  override protected def nullSafeEval(input: Any): Any =
    HashedShingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashedShingles.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

object HashedShingles {

  /** Column-API entry point: hashed_shingles($"text", n). */
  def apply(c: Column, n: Int): Column =
    Bridge.column(HashedShingles(Bridge.expression(c), n))

  import KernelMath.{FNV_OFFSET, FNV_PRIME, fmix64}

  import TokenWindows.isWs

  /** Public (not package-private) deliberately: generated Java from
    * [[TokenCount]].doGenCode calls this as a static method, and scalac
    * only emits a static forwarder on the companion class for PUBLIC
    * members — a package-private one makes Janino compilation fail and
    * silently drops the whole stage out of codegen. */
  def countTokens(bytes: Array[Byte]): Int = {
    val len = bytes.length
    var tokens = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        tokens += 1
        while (i < len && !isWs(bytes(i))) i += 1
      }
    }
    tokens
  }

  /** Static helper invoked from both interpreted eval and generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val nTokens = countTokens(bytes)
    if (nTokens < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nTokens - n + 1)
    val ring = new Array[Long](n)
    var tokens = 0
    var w = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        var h = FNV_OFFSET
        while (i < len && !isWs(bytes(i))) {
          h ^= (bytes(i) & 0xffL); h *= FNV_PRIME; i += 1
        }
        ring(tokens % n) = fmix64(h)
        tokens += 1
        if (tokens >= n) {
          // combine the window OLDEST-FIRST so the shingle hash is
          // position-defined, like concatenating the token strings
          var acc = FNV_OFFSET
          var j = tokens - n
          while (j < tokens) { acc = fmix64(acc ^ ring(j % n)); j += 1 }
          out(w) = acc
          w += 1
        }
      }
    }
    // canonical set: sort then compact duplicates in place
    java.util.Arrays.sort(out)
    var d = 0
    var r = 1
    while (r < out.length) {
      if (out(r) != out(d)) { d += 1; out(d) = out(r) }
      r += 1
    }
    val distinct = d + 1
    new GenericArrayData(
      if (distinct == out.length) out else java.util.Arrays.copyOf(out, distinct))
  }
}

/** Whitespace-delimited token count as an allocation-free native byte
  * scan — the cheap pre-filter companion to [[HashedShingles]] (callers
  * filter `TokenCount(text) >= n` BEFORE the shingle projection so the
  * pushed-down predicate costs one byte scan, not a re-evaluation of the
  * shingle expression; see the spark-hof pitfall notes). Same `\s`
  * tokenization as [[HashedShingles]]. */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_count needs a string column, got $other")
  }

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_count"

  override protected def nullSafeEval(input: Any): Any =
    HashedShingles.countTokens(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashedShingles.countTokens($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCount {
  /** Column-API entry point: token_count($"text"). */
  def apply(c: Column): Column =
    Bridge.column(TokenCount(Bridge.expression(c)))
}
