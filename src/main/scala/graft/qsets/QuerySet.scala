package graft.qsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** A named group of driver-contract queries with their DuckDB oracles.
  * SparkEntry unions all sets. */
trait QuerySet {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]

  // shared helpers --------------------------------------------------------
  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal sum of a double column, surfaced as double. */
  protected def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** price * (1 - discount) in exact decimal. */
  protected def revenue(price: Column, disc: Column): Column =
    price.cast(DecimalType(18, 2)) * (lit(1).cast(DecimalType(18, 2)) - disc.cast(DecimalType(18, 2)))

  /** Timestamp → 'yyyy-MM-dd' string (UTC session TZ). */
  protected def day(c: Column): Column = date_format(c, "yyyy-MM-dd")
}
