package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `bands` independent signed-random-projection signatures of an embedding
  * in ONE native pass (SURVEY §2.10: custom `Expression` over UDF).
  *
  * The composable HOF form ([[graft.similarity.Vectors.srpSignature]])
  * evaluates bits×bands `zip_with`+`aggregate` lambda pairs per row on the
  * interpreted CodegenFallback path — ~40 traversals of the vector with an
  * allocation each at the default 16×4. Here each vector element is read
  * once; its ±1 signs for ALL bits of a band come from the bit pattern of
  * one fmix64 hash of (band seed, element index), so the hash cost is
  * `bands` per element, not `bands×bits`. Corpus and queries bucket
  * identically because the signs depend only on (seed, band, index) —
  * no data-dependent training, no literal plane arrays in the plan.
  *
  * Output: array of `bands` signature longs (low `bits` bits used).
  * Accepts array<float> or array<double> input.
  */
case class SrpBands(child: Expression, bits: Int, bands: Int, seed: Long)
    extends FloatOrDoubleArrayInput {
  require(bits > 0 && bits <= 63 && bands > 0, s"bad bits=$bits / bands=$bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "srp_bands"

  override protected def nullSafeEval(input: Any): Any =
    SrpBands.compute(input.asInstanceOf[ArrayData], bits, bands, seed, childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SrpBands.compute($c, $bits, $bands, ${seed}L, $childIsFloat)")

  override protected def withNewChildInternal(newChild: Expression): SrpBands =
    copy(child = newChild)
}

object SrpBands {

  /** Column-API entry point: srp_bands($"vec", bits, bands, seed). */
  def apply(c: Column, bits: Int, bands: Int, seed: Long = 42L): Column =
    Bridge.column(SrpBands(Bridge.expression(c), bits, bands, seed))

  import KernelMath.{GOLDEN, fmix64}

  /** Static helper invoked from both interpreted eval and generated code. */
  def compute(arr: ArrayData, bits: Int, bands: Int, seed: Long,
              isFloat: Boolean): ArrayData = {
    val n = arr.numElements()
    val acc = new Array[Double](bands * bits)
    var j = 0
    while (j < n) {
      val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      var b = 0
      while (b < bands) {
        // one hash per (band, index); its low `bits` bits are the ±1
        // signs of this element against that band's `bits` hyperplanes
        val h = fmix64((seed + 1000L * b) ^ (GOLDEN * (j + 1)))
        val base = b * bits
        var t = 0
        while (t < bits) {
          if (((h >>> t) & 1L) == 1L) acc(base + t) += x else acc(base + t) -= x
          t += 1
        }
        b += 1
      }
      j += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var t = 0
      while (t < bits) {
        if (acc(b * bits + t) >= 0) sig |= (1L << t)
        t += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }
}
