package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Aggregation operators from SURVEY §2.4/2.5.
  *
  * All of these are single-shuffle hash aggregates with map-side partial
  * aggregation; none collect to the driver. Money/quantity sums go
  * through DECIMAL(18,2) so results are order-independent and exact —
  * a double sum over shuffled partitions is not reproducible run-to-run,
  * which breaks both oracle comparison and downstream equality joins.
  */
object AggOps {

  /** A2/A4/A5/A11 — status-matrix count: GROUP BY groupCols → count
    * (`qcfractal/components/base_dataset_socket.py:207-219`,
    * `serverinfo/socket.py:682-689`). */
  def statusMatrix(df: DataFrame, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n"))

  /** A6 — multi-percentile summary per group
    * (`qcfractal/components/serverinfo/socket.py:494-531`): count/min/max +
    * exact percentiles (.25/.5/.75/.95) of a measure. Spark's `percentile`
    * is the exact (sort-based) one — matches `percentile_disc/cont`
    * semantics needed for oracle parity, unlike approx_percentile. */
  def percentileSummary(df: DataFrame, groupCols: Seq[String],
                        valueCol: String): DataFrame = {
    val v = col(valueCol)
    // ONE percentile buffer for all four quantiles: the scalar form
    // repeated per quantile maintains four independent value→count maps
    // per group (exact percentile is an object-hash aggregate); the
    // array form fills one map and interpolates all four from it —
    // same counts, same interpolation, bit-identical values
    df.groupBy(groupCols.map(col): _*).agg(
        count(lit(1)).as("n"),
        min(v).as("min_v"),
        max(v).as("max_v"),
        expr(s"percentile($valueCol, array(0.25D, 0.5D, 0.75D, 0.95D))").as("pcts"))
      .select(groupCols.map(col) ++ Seq(
        col("n"), col("min_v"), col("max_v"),
        element_at(col("pcts"), 1).as("p25"),
        element_at(col("pcts"), 2).as("p50"),
        element_at(col("pcts"), 3).as("p75"),
        element_at(col("pcts"), 4).as("p95")): _*)
  }

  /** A7/F2 — time-bucketed group key: UTC day or hour string
    * (`serverinfo/socket.py:477-492`). */
  def timeBucket(ts: Column, perHour: Boolean): Column =
    date_format(ts, if (perHour) "yyyy-MM-dd HH" else "yyyy-MM-dd")

  /** A8/F4 — JSON-extract rollup: sum a JSON numeric field per day
    * (`serverinfo/socket.py:652-679`). */
  def jsonSumByDay(df: DataFrame, tsCol: String, jsonCol: String,
                   path: String): DataFrame =
    df.withColumn("day", timeBucket(col(tsCol), perHour = false))
      .withColumn("v", coalesce(get_json_object(col(jsonCol), path).cast("long"), lit(0L)))
      .groupBy(col("day")).agg(sum(col("v")).as("total"))

  /** A9 — per-group sorted distinct set, surfaced as a canonical CSV string
    * (the reference's `array_agg(status)` subset tests,
    * `qcfractal/components/services/socket.py:170-227`). collect_set is
    * unordered; sort_array makes it deterministic. */
  def sortedDistinctCsv(c: Column): Column =
    concat_ws(",", sort_array(collect_set(c)))

  /** Skew-safe sorted-distinct-set aggregation: two-phase form of
    * `sortedDistinctCsv` for hot keys. collect_set has no map-side
    * combine benefit on a skewed key — every value of the hot key hits
    * one reducer. Phase 1 groups by (key, salt-of-value) so a hot key's
    * values spread across `salts` reducers; phase 2 merges the partial
    * sets. Result is identical to the single-phase form. */
  def sortedDistinctCsvSalted(df: DataFrame, keyCols: Seq[String],
                              valueCol: String, salts: Int): DataFrame = {
    val partial = df
      .withColumn("__salt", pmod(xxhash64(col(valueCol)), lit(salts)))
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(collect_set(col(valueCol)).as("__part"))
    partial.groupBy(keyCols.map(col): _*)
      .agg(concat_ws(",",
        array_sort(array_distinct(flatten(collect_list(col("__part"))))))
        .as("vals"))
  }

  /** A10/W3 — DISTINCT ON: first row per group by explicit order
    * (`base_dataset_socket.py:344-360`). Window-rank form: one shuffle
    * plus a per-group sort; use when rank > 1 is also needed. For the
    * pick-first case itself prefer [[distinctOnAgg]]. */
  def distinctOn(df: DataFrame, partitionCols: Seq[String],
                 orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** DISTINCT ON as a hash aggregate: `min_by(struct(row), struct(key))`
    * keeps the order-minimal row per group with MAP-SIDE partial
    * aggregation and no sort — at scale each hot group ships one row per
    * map task instead of all its rows into a sorted window partition.
    * `orderCols` compare lexicographically (struct ordering), ascending;
    * wrap a column in `desc`-semantics by negating it at the call site. */
  def distinctOnAgg(df: DataFrame, partitionCols: Seq[String],
                    orderCols: Seq[Column]): DataFrame = {
    val dataCols = df.columns.filterNot(partitionCols.contains).toSeq
    df.groupBy(partitionCols.map(col): _*)
      .agg(min_by(struct(dataCols.map(col): _*), struct(orderCols: _*)).as("__row"))
      .select(partitionCols.map(col) ++ dataCols.map(c => col(s"__row.$c")): _*)
  }
}
