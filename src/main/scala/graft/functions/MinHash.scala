package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash LSH band hashes of a shingle set as ONE native Catalyst
  * expression (SURVEY §2.10 guidance: custom `Expression` over UDF).
  *
  * Computes, in a single pass over the shingle array, the k-minimum
  * per-seed hashes AND the `bands` band hashes derived from them —
  * replacing the composable HOF form ([[graft.dedup.Dedup.minhashSignature]]
  * + [[graft.dedup.Dedup.lshBandHashes]]), which evaluates k `transform`
  * lambdas plus k `array_min`s plus `bands` slice-hashes per row on the
  * interpreted (CodegenFallback) path: ~k+bands array traversals and as
  * many allocations where one suffices. Each shingle is byte-hashed ONCE
  * (FNV-1a + fmix64 avalanche); the k per-seed variants are one xor+fmix
  * each, so the dominant cost — scanning shingle bytes — is paid once
  * instead of k times.
  *
  * `doGenCode` emits a direct static call, so the expression stays inside
  * whole-stage codegen. At 100 TB the signature pass runs at scan speed;
  * this is the candidate-generation input of
  * [[graft.dedup.Dedup.minhashPairs]].
  */
case class MinHashBands(child: Expression, k: Int, bands: Int)
    extends UnaryExpression {
  require(k > 0 && bands > 0 && k % bands == 0,
    s"k ($k) must be a positive multiple of bands ($bands)")

  // resolved only after analysis — the Column-API constructor sees an
  // unresolved attribute, so element-type dispatch is lazy: array<string>
  // shingles are byte-hashed per element; array<long> (pre-hashed, e.g.
  // from HashedShingles) skip straight to the per-seed mixing
  private lazy val childIsString: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) => true
    case _ => false
  }

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) |
           ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_bands needs array<string|long>, got $other")
    }
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[ArrayData], k, bands, childIsString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashBands.compute($c, $k, $bands, $childIsString)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {

  /** Column-API entry point: minhash_bands($"shingles", k, bands). */
  def apply(c: Column, k: Int, bands: Int): Column =
    Bridge.column(MinHashBands(Bridge.expression(c), k, bands))

  import KernelMath.{FNV_OFFSET, FNV_PRIME, GOLDEN, fmix64}

  /** Static helper invoked from both interpreted eval and generated code. */
  def compute(arr: ArrayData, k: Int, bands: Int, isString: Boolean): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // null elements are IGNORED — a deliberate choice: a null shingle
      // carries no content. (The HOF form differs: xxhash64(seed, null)
      // folds the seed-only hash into array_min, treating null as a
      // concrete value. The native semantics are the intended ones.)
      if (arr.isNullAt(i)) { i += 1 }
      else {
      // hash the shingle ONCE (or take the pre-hashed long)...
      val base =
        if (isString) {
          val s: UTF8String = arr.getUTF8String(i)
          val bytes = s.getBytes
          var h = FNV_OFFSET
          var bi = 0
          while (bi < bytes.length) { h ^= (bytes(bi) & 0xffL); h *= FNV_PRIME; bi += 1 }
          fmix64(h)
        } else fmix64(arr.getLong(i))
      // ...then derive the k per-seed variants with one xor+fmix each
      var j = 0
      while (j < k) {
        val hj = fmix64(base ^ (GOLDEN * (j + 1)))
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      i += 1
      }
    }
    // band hash = fmix-chained combine of that band's r signature mins
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = FNV_OFFSET ^ b
      var j = b * r
      val end = j + r
      while (j < end) { acc = fmix64(acc ^ mins(j)); j += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }
}
