package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = Tables.session(4)
}
