package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native product-quantization kernels (SURVEY §2.10: custom
  * `Expression` over UDF) — the two hot loops of the PQ pipeline,
  * bit-identical to their composable-HOF reference forms (pinned in
  * PqSpec) but one tight primitive loop per row instead of nested
  * interpreted lambda walks.
  *
  *  - [[PqEncodeExpr]]: sub-space argmin encode. The HOF form evaluates
  *    m×ks `zip_with`+`aggregate` lambda pairs per vector (512 at the
  *    shipped m=16, ks=32) — ~2 ms/vector interpreted. Here the flat
  *    codebook is a codegen reference object and each (sub-space,
  *    codeword) distance is a d-length primitive loop.
  *  - [[PqAdcExpr]]: ADC distance — m table lookups folded in sub-space
  *    order. Trivial arithmetic, but the HOF fold allocates per row and
  *    is evaluated once per (query, candidate) — the highest-cardinality
  *    relation of the whole pipeline at corpus scale.
  *
  * Rounding matches Catalyst `round(_, 9)` exactly
  * (BigDecimal.valueOf(x).setScale(9, HALF_UP)): every distance is
  * rounded BEFORE the argmin compare / fold-sum, so ties and sums are
  * reproduced bit-for-bit and the DuckDB oracles stay hash-exact. */
case class PqEncodeExpr(child: Expression, codebook: Array[Double],
                        m: Int, ks: Int, d: Int)
    extends FloatOrDoubleArrayInput {
  require(codebook.length == m * ks * d, "flat codebook length mismatch")

  // content-based equality (the Array field otherwise makes equality
  // reference-based, defeating canonicalization/subexpression merging)
  override def equals(other: Any): Boolean = other match {
    case e: PqEncodeExpr => child == e.child && m == e.m && ks == e.ks &&
      d == e.d && java.util.Arrays.equals(codebook, e.codebook)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(m), Integer.valueOf(ks),
      Integer.valueOf(d), Integer.valueOf(java.util.Arrays.hashCode(codebook)))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(input: Any): Any =
    PqKernels.encode(input.asInstanceOf[ArrayData], codebook, m, ks, d, childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqKernels.encode($c, $cbRef, $m, $ks, $d, $childIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** ADC distance: left = codes array<int> (length m), right = per-query
  * distance table array<array<double>> (m × ks). */
case class PqAdcExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"pq_adc needs (array<int>, array<array<double>>), got $other")
  }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(codes: Any, dtab: Any): Any =
    PqKernels.adc(codes.asInstanceOf[ArrayData], dtab.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, t) => s"graft.functions.PqKernels.adc($c, $t)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}

object PqKernels {

  def encodeCol(c: Column, codebook: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebook.length
    val ks = codebook.head.length
    val d = codebook.head.head.length
    val flat = new Array[Double](m * ks * d)
    var i = 0
    for (mi <- 0 until m; k <- 0 until ks; di <- 0 until d) {
      flat(i) = codebook(mi)(k)(di); i += 1
    }
    Bridge.column(PqEncodeExpr(Bridge.expression(c), flat, m, ks, d))
  }

  def adcCol(codes: Column, dtab: Column): Column =
    Bridge.column(PqAdcExpr(Bridge.expression(codes), Bridge.expression(dtab)))

  import KernelMath.{pruneCut, round9}

  /** Static helper invoked from both interpreted eval and generated
    * code. Left-to-right accumulation per (sub-space, codeword), argmin
    * on the ROUNDED distance with strict < (ties keep the lowest code —
    * array_position-on-first-minimum semantics). Candidates whose raw
    * distance exceeds [[KernelMath.pruneCut]] cannot round below the best, so
    * only contenders pay the BigDecimal round — m·ks rounds per row
    * (512 at the shipped m=16, ks=32) collapse to ~m·log(ks). Chosen
    * codes and emitted values are bit-identical to the unpruned scan
    * (HOF parity pinned in PqSpec). */
  def encode(arr: ArrayData, cb: Array[Double], m: Int, ks: Int, d: Int,
             isFloat: Boolean): ArrayData = {
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var bestD = Double.MaxValue
      var bestK = -1
      var k = 0
      while (k < ks) {
        val base = (mi * ks + k) * d
        val cut = if (bestK < 0) Double.MaxValue else pruneCut(bestD)
        var acc = 0.0
        var i = 0
        while (i < d && acc <= cut) {
          val x = if (isFloat) arr.getFloat(mi * d + i).toDouble
                  else arr.getDouble(mi * d + i)
          val diff = x - cb(base + i)
          acc += diff * diff
          i += 1
        }
        if (i == d && acc <= cut) {
          val r = round9(acc)
          if (r < bestD) { bestD = r; bestK = k }
        }
        k += 1
      }
      out(mi) = bestK
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** ADC: fold the m table lookups in sub-space order, round like the
    * reference form's trailing round(_, 9). */
  def adc(codes: ArrayData, dtab: ArrayData): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      acc += dtab.getArray(mi).getDouble(codes.getInt(mi))
      mi += 1
    }
    round9(acc)
  }
}
