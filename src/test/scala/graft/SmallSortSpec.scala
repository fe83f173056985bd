package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, explode, sequence, lit}

import graft.qsets.{CoreRelational, RecordsShaped}

/** [[GraftExtensions.SmallSortInOnePartition]]: a global sort whose
  * input AQE reads as one partition sorts in it, with no range exchange
  * and no sampling job, and returns the rows the range-exchange plan
  * returns, in the same order. */
class SmallSortSpec extends SparkSuite {

  /** A child session of the shared one with `confs` set. */
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Sessions in which the rule must leave every sort as planned. */
  private lazy val ruleOff = Seq(
    "minPartitionSize=1b" -> session("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"),
    "coalescing off" -> session("spark.sql.adaptive.coalescePartitions.enabled" -> "false"))

  /** The plan `df` ran, after its action: AQE's final plan. */
  private def ran(df: DataFrame): String = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case p => p.toString
  }

  private def query(name: String, s: SparkSession = spark): DataFrame =
    SparkEntry.queries(name)(s, sfDir)

  test("a7_time_buckets sorts its aggregate in one partition: 2 jobs, no range exchange") {
    query("a7_time_buckets").collect() // warm: the table's schema is cached
    val df = query("a7_time_buckets")
    val (_, n) = jobs(df.collect())
    assert(n === 2, ran(df)) // the hash-exchange map stage and the result stage
    assert(!ran(df).contains("rangepartitioning"), ran(df))
    assert(ran(df).contains("Coalesce 1"), ran(df))
  }

  test("s1_fetch_in_order, a sort over a scan pipeline, starts one job") {
    query("s1_fetch_in_order").collect()
    val df = query("s1_fetch_in_order")
    val (_, n) = jobs(df.collect())
    assert(n === 1, ran(df))
    assert(!ran(df).contains("rangepartitioning"), ran(df))
  }

  test("with the one-partition bound at 1b or coalescing off, the range exchange stays") {
    val expect = query("a7_time_buckets").collect().toSeq
    for ((what, s) <- ruleOff) {
      val df = query("a7_time_buckets", s)
      assert(df.collect().toSeq === expect, what)
      assert(ran(df).contains("rangepartitioning"), s"$what: ${ran(df)}")
    }
  }

  test("a sort over explode keeps its range exchange") {
    import spark.implicits._
    val df = Seq((1, 3000), (2, 2000)).toDF("k", "n")
      .select(col("k"), explode(sequence(lit(1), col("n"))).as("i"))
      .orderBy(col("i").desc, col("k"))
    val rows = df.collect()
    assert(rows.length === 5000)
    assert(rows.head.getInt(1) === 3000 && rows.last.getInt(1) === 1)
    assert(ran(df).contains("rangepartitioning"), ran(df))
  }

  test("CoreRelational and RecordsShaped rows are the same, in order, with the rule on and off") {
    val (_, off) = ruleOff.head
    val names = (CoreRelational.queries.keys ++ RecordsShaped.queries.keys).toSeq.sorted
    var fired = 0
    for (name <- names) {
      val on = query(name)
      val rows = on.collect().toSeq
      assert(rows === query(name, off).collect().toSeq, name)
      if (ran(on).contains("Coalesce 1")) fired += 1
    }
    assert(fired > names.size / 2, s"the rule fired on $fired of ${names.size} rows")
  }
}
