package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-anchored distributed k-means (Lloyd's algorithm).
  *
  * [[Vectors.ivfFit]] trains the production coarse quantizer with MLlib
  * KMeans — good cells, but engine-specific arithmetic: no other engine
  * reproduces its centroids, so the FIT has always been the one
  * unverifiable stage of the ANN index pipeline. This implementation
  * closes that: every arithmetic step is defined so that any engine with
  * md5, IEEE doubles, and exact decimal sums reproduces it bit-for-bit —
  *
  *  - init: the k corpus vectors with smallest md5(vec_id), numbered in
  *    pivot-id order (the [[Vectors.pivotFit]] family);
  *  - assign: nearest centroid by squared L2 folded left-to-right and
  *    rounded to 9 decimals, ties to the lowest cell;
  *  - update: per-dimension mean computed as an EXACT DECIMAL(18,6) sum
  *    of elements rounded to 6 decimals, divided by the cluster count in
  *    double, re-rounded to 6 — decimal sums are order-independent, so
  *    the result does not depend on partitioning or reduce order (a
  *    plain double sum would differ run to run AND engine to engine);
  *  - empty cells keep their previous centroid.
  *
  * Execution shape is the standard distributed k-means: centroids live
  * on the driver (k·dim doubles — the same index-build artifact as the
  * PQ codebook) and are inlined as plan literals, so ASSIGNMENT IS A
  * PURE MAP over the corpus scan (zero shuffle, zero join) and each
  * Lloyd iteration costs exactly one scan plus one (cell, dim)-grouped
  * aggregation of scalar rows. At 100 TB per iteration that is the
  * minimum possible data motion for Lloyd's algorithm.
  */
object Kmeans {

  /** The k corpus vectors with smallest md5(vec_id), in pivot-id order —
    * cell j is the j-th such vector. */
  def pivotInit(corpus: DataFrame, k: Int): Seq[Seq[Double]] =
    corpus.orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(k)
      .orderBy(col("vec_id"))
      .select(col("c_vec")).collect().map(_.getSeq[Double](0).toSeq).toSeq

  /** Map-side assignment against literal centroids: (vec_id, c_vec,
    * cell, d2). Tie on rounded distance goes to the lowest cell (first
    * minimum). One native codegen'd pass per row
    * ([[graft.functions.NearestCellExpr]]) — bit-identical to
    * [[assignHof]], the composable reference form (pinned in
    * CodegenSpec), but O(k·d) primitive arithmetic instead of k
    * interpreted lambda folds per row: at SemDeDup's k = ⌈√n⌉ the HOF
    * machinery, not the distance math, dominated the whole assignment. */
  def assign(corpus: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    corpus
      .withColumn("__nc", graft.functions.NearestCellExpr(col("c_vec"), centroids))
      .withColumn("cell", col("__nc.cell"))
      .withColumn("d2", col("__nc.d2"))
      .drop("__nc")

  /** The composable HOF reference form of [[assign]] — kept as the
    * cross-check for the native kernel (the [[Vectors.cosineHof]]
    * discipline): per-centroid rounded-9 squared L2, argmin via
    * array_position on the first minimum. */
  def assignHof(corpus: DataFrame, centroids: Seq[Seq[Double]]): DataFrame = {
    val cent = typedLit(centroids)
    corpus
      .withColumn("__ds", transform(sequence(lit(0), lit(centroids.length - 1)),
        j => Vectors.d2(col("c_vec"), element_at(cent, j + 1))))
      .withColumn("cell", (array_position(col("__ds"), array_min(col("__ds"))) - 1)
        .cast("int"))
      .withColumn("d2", element_at(col("__ds"), col("cell") + 1))
      .drop("__ds")
  }

  /** Catalyst round(x, 6) replicated exactly (BigDecimal.valueOf,
    * HALF_UP) — the driver-side mean finisher of [[lloydStep]]. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One Lloyd update: decimal-exact per-dimension means of the assigned
    * corpus; cells with no members keep their previous centroid.
    *
    * Shape: ONE hash aggregate keyed on `cell` whose buffer is `dim`
    * LONG sums + a count — map-side partial combine reduces each input
    * partition to ≤k rows before the shuffle, so the exchange moves
    * O(k · dim · partitions) scalars regardless of corpus size. The
    * decimal terms ride as unscaled longs ([[graft.functions.RoundScaledLongs]]:
    * round(x, 6)·10⁶ in one native pass per row), because fixed-scale
    * decimal addition IS long addition — the Decimal(28,6)-buffered
    * aggregate this replaces spent ~12 s/iteration in per-row BigDecimal
    * adds at the 100× rehearsal, vs ~1 s for the long form. The mean
    * finisher reproduces the original arithmetic digit for digit:
    * BigDecimal(Σ, 6).doubleValue ≡ Decimal(28,6).cast(double), then
    * double-divide by the count and Catalyst round(,6) — so every
    * centroid (and every downstream Lloyd-replay oracle hash) is
    * unchanged. Parity with the decimal-aggregate reference form is
    * pinned in KmeansSpec ([[lloydStepDecimalRef]]). */
  def lloydStep(assigned: DataFrame, prev: Seq[Seq[Double]]): Seq[Seq[Double]] = {
    val dim = prev.head.length
    val scaled = assigned.select(col("cell"),
      graft.functions.RoundScaledLongs(col("c_vec"), 6).as("__rs"))
    val sums = (0 until dim).map(j =>
      sum(element_at(col("__rs"), j + 1)).as(s"__s$j"))
    val means = scaled
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .collect().map { r =>
        val n = r.getLong(1)
        r.getInt(0) -> (0 until dim).map { j =>
          round6(java.math.BigDecimal.valueOf(r.getLong(2 + j), 6)
            .doubleValue() / n)
        }
      }.toMap
    prev.indices.map(j => means.getOrElse(j, prev(j)))
  }

  /** The decimal-aggregate reference form of [[lloydStep]] — kept as the
    * cross-check (the assignHof discipline): identical means, Decimal
    * sum buffers instead of scaled longs. */
  private[graft] def lloydStepDecimalRef(assigned: DataFrame,
                                         prev: Seq[Seq[Double]]): Seq[Seq[Double]] = {
    val dim = prev.head.length
    val sums = (0 until dim).map(j =>
      sum(round(element_at(col("c_vec"), j + 1), 6).cast(DecimalType(18, 6)))
        .as(s"__s$j"))
    val means = assigned
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .select(col("cell"),
        array((0 until dim).map(j =>
          round(col(s"__s$j").cast("double") / col("__n"), 6)): _*).as("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
    prev.indices.map(j => means.getOrElse(j, prev(j)))
  }

  /** `iters` Lloyd iterations from the pivot init; returns the final
    * assignment (vec_id, cell, d2 — d2 against the FINAL centroids) and
    * the final centroids. */
  def fitAnchor(corpus: DataFrame, k: Int, iters: Int): (DataFrame, Seq[Seq[Double]]) = {
    var cent = pivotInit(corpus, k)
    for (_ <- 1 to iters)
      cent = lloydStep(assign(corpus, cent), cent)
    (assign(corpus, cent).select(col("vec_id"), col("cell"), col("d2")), cent)
  }
}
