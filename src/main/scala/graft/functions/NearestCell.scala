package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types._

/** Nearest-centroid assignment as ONE native codegen'd pass (SURVEY
  * §2.10: custom `Expression` over UDF) — the hot loop of every k-means
  * consumer ([[graft.similarity.Kmeans.assign]]: the Lloyd iterations,
  * the SemDeDup cell assignment, the IVF-PQ residual encode path).
  *
  * The composable HOF form evaluates k `zip_with`+`aggregate` lambda
  * pairs per row with an intermediate array allocation each — at
  * k = ⌈√n⌉ SemDeDup scale (k=448 at the sf10 rehearsal) that is the
  * dominant cost of the whole assignment, O(n·k·d) in interpreted
  * lambda machinery. Here the flat centroid table is a codegen
  * reference object and each (row, centroid) distance is a d-length
  * primitive loop.
  *
  * Arithmetic is bit-identical to the HOF reference form (pinned in
  * CodegenSpec): per-centroid squared L2 folded left-to-right, rounded
  * to 9 decimals like Catalyst `round(_, 9)` (BigDecimal HALF_UP — the
  * [[PqKernels]] parity discipline), argmin with strict < so ties keep
  * the LOWEST cell (`array_position`-on-first-minimum semantics). The
  * DuckDB Lloyd-replay oracles are therefore unaffected.
  *
  * Output: struct<cell int, d2 double> — d2 is the ROUNDED distance to
  * the winning cell, exactly `element_at(ds, cell+1)` of the HOF form.
  */
case class NearestCellExpr(child: Expression, centroids: Array[Double],
                           k: Int, d: Int)
    extends FloatOrDoubleArrayInput {
  require(centroids.length == k * d, "flat centroid table length mismatch")

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cell"

  override protected def nullSafeEval(input: Any): Any =
    NearestCellExpr.compute(input.asInstanceOf[ArrayData], centroids, k, d,
      childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("nearestCellCentroids", centroids, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NearestCellExpr.compute($c, $cRef, $k, $d, $childIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellExpr =
    copy(child = newChild)
}

object NearestCellExpr {

  /** Column-API entry point: nearest_cell($"vec", centroids). */
  def apply(c: Column, centroids: Seq[Seq[Double]]): Column = {
    val k = centroids.length
    val d = centroids.head.length
    val flat = new Array[Double](k * d)
    var i = 0
    for (j <- 0 until k; di <- 0 until d) { flat(i) = centroids(j)(di); i += 1 }
    Bridge.column(NearestCellExpr(Bridge.expression(c), flat, k, d))
  }

  import KernelMath.{pruneCut, round9}

  /** Static helper invoked from both interpreted eval and generated
    * code. Left-to-right accumulation per centroid, argmin on the
    * ROUNDED distance with strict < (first minimum wins).
    *
    * Two monotonicity-exact prunes keep BigDecimal out of the hot loop
    * (round9 per (row, centroid) was 90M BigDecimal scalings per assign
    * pass at the sf10 rehearsal — the whole fit cost):
    *  - partial-distance break: squares only add, so once the partial
    *    sum exceeds bestD + slack the centroid cannot win;
    *  - round-only-contenders: round9 is monotone and undershoots by
    *    < slack ([[KernelMath.pruneCut]]), so a full distance above
    *    bestD + slack cannot round below bestD. Both leave the chosen cell and the emitted rounded
    *    d2 BIT-IDENTICAL to the unpruned scan (HOF parity pinned in
    *    CodegenSpec; the Lloyd-replay oracles hash-pin it end to end). */
  def compute(arr: ArrayData, cent: Array[Double], k: Int, d: Int,
              isFloat: Boolean): InternalRow = {
    if (arr.numElements() != d)
      throw new IllegalArgumentException(
        s"nearest_cell: vector length ${arr.numElements()} != centroid dim $d")
    // pull the vector out of ArrayData once: getDouble/getFloat per
    // (centroid, dim) re-dispatches through the ArrayData vtable k times
    val v = new Array[Double](d)
    var p = 0
    while (p < d) {
      v(p) = if (isFloat) arr.getFloat(p).toDouble else arr.getDouble(p)
      p += 1
    }
    var bestD = Double.MaxValue
    var bestJ = -1
    var j = 0
    while (j < k) {
      val base = j * d
      val cut = if (bestJ < 0) Double.MaxValue else pruneCut(bestD)
      var acc = 0.0
      var i = 0
      while (i < d && acc <= cut) {
        val diff = v(i) - cent(base + i)
        acc += diff * diff
        i += 1
      }
      if (i == d && acc <= cut) {
        val r = round9(acc)
        if (r < bestD) { bestD = r; bestJ = j }
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestJ, bestD))
  }
}
