package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Scalar arithmetic shared by the native kernels: the Catalyst-exact
  * rounding the distance kernels replay, its prune bound, and the
  * hash mixers of the signature kernels. */
private[graft] object KernelMath {

  /** Catalyst round(x, 9): BigDecimal half-up on the shortest decimal
    * representation — the exact arithmetic of the HOF reference forms
    * and of the DuckDB oracle. */
  def round9(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** round9(x) can undershoot x by at most half an ulp of 1e-9 (HALF_UP)
    * plus the decimal-representation slop of BigDecimal.valueOf, which is
    * bounded by the BINARY ulp of x — NOT an absolute constant, so the
    * slack must scale with the magnitude of the best distance (at
    * acc ≳ 4e7 the ulp alone exceeds 1e-8). The prune cut is therefore
    * bestD + RoundSlack + 2·ulp(bestD): the fixed 1e-8 covers the decimal
    * rounding step with 20x margin and the ulp term covers valueOf's
    * representation slop at any magnitude. */
  final val RoundSlack = 1e-8

  /** Magnitude-aware prune cut of an argmin over round9'd distances: a
    * raw distance above it cannot round below `bestD` (see [[RoundSlack]]). */
  def pruneCut(bestD: Double): Double =
    bestD + RoundSlack + 2.0 * Math.ulp(bestD)

  final val FNV_OFFSET = 0xcbf29ce484222325L
  final val FNV_PRIME = 0x100000001b3L
  final val GOLDEN = 0x9e3779b97f4a7c15L

  /** MurmurHash3's 64-bit finalizer: avalanches every input bit. */
  def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }
}

/** A native kernel over one array<float|double> column. The element
  * type is known only after analysis (the Column-API constructor sees an
  * unresolved attribute), so the dispatch flag is lazy and bad input is
  * rejected through checkInputDataTypes, named by the kernel's
  * prettyName. */
private[graft] trait FloatOrDoubleArrayInput extends UnaryExpression {

  protected lazy val childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<float|double>, got $other")
  }
}
