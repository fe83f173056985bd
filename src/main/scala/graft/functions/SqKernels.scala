package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native scalar-quantization kernels — the two hot loops of the SQ8
  * pipeline (SURVEY §2.10: custom `Expression` over UDF), bit-identical
  * to their composable-HOF reference forms (parity pinned in `PqSpec`)
  * but one tight primitive loop per row instead of nested interpreted
  * lambda walks:
  *
  *  - [[SqEncodeExpr]]: per-dim affine encode to 0..255. The HOF form
  *    is a `transform` over dims with two literal-array `element_at`s
  *    per dim — interpreted lambda dispatch per element, once per
  *    corpus vector.
  *  - [[SqDistExpr]]: reconstruct-from-code squared-L2 against a query
  *    vector. The HOF form (`aggregate(zip_with(q, transform(...)))`)
  *    allocates the reconstructed array per (query, candidate) row and
  *    walks three lambdas — the highest-cardinality relation of the
  *    pipeline at corpus scale, the exact shape the r10/r12 HOF
  *    eliminations killed elsewhere.
  *
  * Arithmetic matches the reference forms exactly: encode is
  * min(255, floor(((v−lo)·255)/(hi−lo))) with constant dims pinned to
  * 0 and the final int cast truncating like Catalyst's cast; distance
  * reconstructs r[d] = lo[d] + ((code[d]+0.5)·(hi[d]−lo[d]))/255 with
  * the same parenthesization, folds (q[d]−r[d])² left-to-right in dim
  * order, and applies Catalyst `round(_, 9)` (BigDecimal HALF_UP) to
  * the sum — so the DuckDB oracles stay hash-exact. */
case class SqEncodeExpr(child: Expression, lo: Array[Double], hi: Array[Double])
    extends FloatOrDoubleArrayInput {
  require(lo.length == hi.length, "lo/hi length mismatch")

  // Array fields make case-class equality reference-based, so two
  // semantically equal encodes would never canonicalize equal and
  // subexpression elimination could not merge them — compare contents
  override def equals(other: Any): Boolean = other match {
    case e: SqEncodeExpr => child == e.child &&
      java.util.Arrays.equals(lo, e.lo) && java.util.Arrays.equals(hi, e.hi)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(java.util.Arrays.hashCode(lo)),
      Integer.valueOf(java.util.Arrays.hashCode(hi)))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq_encode"

  override protected def nullSafeEval(input: Any): Any =
    SqKernels.encode(input.asInstanceOf[ArrayData], lo, hi, childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("sqLo", lo, "double[]")
    val hiRef = ctx.addReferenceObj("sqHi", hi, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SqKernels.encode($c, $loRef, $hiRef, $childIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): SqEncodeExpr =
    copy(child = newChild)
}

/** Squared-L2 between a query vector (left, array<double>) and the
  * reconstruction of an SQ8 codes array (right, array<int>). */
case class SqDistExpr(left: Expression, right: Expression,
                      lo: Array[Double], hi: Array[Double])
    extends BinaryExpression {

  // content-based equality, same rationale as [[SqEncodeExpr]]
  override def equals(other: Any): Boolean = other match {
    case e: SqDistExpr => left == e.left && right == e.right &&
      java.util.Arrays.equals(lo, e.lo) && java.util.Arrays.equals(hi, e.hi)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(left, right,
      Integer.valueOf(java.util.Arrays.hashCode(lo)),
      Integer.valueOf(java.util.Arrays.hashCode(hi)))

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"sq_dist needs (array<double>, array<int>), got $other")
  }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq_dist"

  override protected def nullSafeEval(q: Any, codes: Any): Any =
    SqKernels.dist(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], lo, hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("sqLo", lo, "double[]")
    val hiRef = ctx.addReferenceObj("sqHi", hi, "double[]")
    defineCodeGen(ctx, ev, (q, c) =>
      s"graft.functions.SqKernels.dist($q, $c, $loRef, $hiRef)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
}

object SqKernels {

  def encodeCol(v: Column, lo: Seq[Double], hi: Seq[Double]): Column =
    Bridge.column(SqEncodeExpr(Bridge.expression(v), lo.toArray, hi.toArray))

  def distCol(q: Column, codes: Column, lo: Seq[Double], hi: Seq[Double]): Column =
    Bridge.column(SqDistExpr(Bridge.expression(q), Bridge.expression(codes),
      lo.toArray, hi.toArray))

  import KernelMath.round9

  /** Static helper invoked from both interpreted eval and generated
    * code. code[d] = min(255, floor(((v[d]−lo[d])·255)/(hi[d]−lo[d]))),
    * hi==lo → 0 — the reference HOF's exact parenthesization; the
    * trailing toInt truncates like Catalyst's double→int cast. */
  def encode(arr: ArrayData, lo: Array[Double], hi: Array[Double],
             isFloat: Boolean): ArrayData = {
    val n = lo.length
    if (arr.numElements() < n)
      throw new IllegalArgumentException(
        s"sq_encode: vector has ${arr.numElements()} dims, range fit has $n")
    val out = new Array[Int](n)
    var d = 0
    while (d < n) {
      val v = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      val l = lo(d); val h = hi(d)
      val q = if (h == l) 0.0 else math.floor(((v - l) * 255.0) / (h - l))
      out(d) = math.min(q, 255.0).toInt
      d += 1
    }
    new GenericArrayData(out)
  }

  /** Σ_d (q[d] − (lo[d] + ((code[d]+0.5)·(hi[d]−lo[d]))/255))², folded
    * left-to-right in dim order, rounded like the reference form's
    * trailing round(_, 9). */
  def dist(q: ArrayData, codes: ArrayData, lo: Array[Double],
           hi: Array[Double]): Double = {
    val n = lo.length
    var acc = 0.0
    var d = 0
    while (d < n) {
      val l = lo(d); val h = hi(d)
      val recon = l + ((codes.getInt(d).toDouble + 0.5) * (h - l)) / 255.0
      val diff = q.getDouble(d) - recon
      acc += diff * diff
      d += 1
    }
    round9(acc)
  }
}
