package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite

/** ST1 multi-micro-batch convergence: the stateful fold must reach the
  * same per-key state when the input arrives split across micro-batches
  * as when it arrives in one, and the max-n_events selection must pick
  * the converged emission (the single-batch AvailableNow run in the
  * oracle query can't catch cross-batch state bugs). */
class StatefulConvergenceSpec extends SparkSuite {

  import spark.implicits._

  test("stateful fold converges across two micro-batches") {
    val dir = Files.createTempDirectory("graft_stateful_").toFile
    dir.deleteOnExit()

    // keys 1 and 2 span both files; key 3 only in the second
    val batch1 = Seq(
      (1L, "click", "2024-01-01 10:00:00"),
      (1L, "view", "2024-01-01 11:00:00"),
      (2L, "signup", "2024-01-01 09:00:00"))
    val batch2 = Seq(
      (1L, "purchase", "2024-01-01 12:00:00"),
      (2L, "error", "2024-01-01 08:00:00"), // earlier ts: must NOT win
      (3L, "view", "2024-01-01 13:00:00"))
    batch1.toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.parquet(s"$dir/f1")
    batch2.toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.parquet(s"$dir/f2")

    val schema = spark.read.parquet(s"$dir/f1").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*/")
    val table = s"st_conv_${System.nanoTime()}"
    val q = EventStreams.statefulUpdates(src).toDF()
      .writeStream.format("memory").queryName(table)
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val emissions = spark.table(table).collect()
    // keys seen in both micro-batches must have emitted more than once
    assert(emissions.count(_.getLong(0) == 1L) === 2,
      s"expected 2 emissions for key 1, got: ${emissions.mkString(", ")}")

    // converged state = max n_events per key
    val fin = emissions.groupBy(_.getLong(0)).map { case (k, rows) =>
      k -> rows.maxBy(_.getLong(1))
    }
    assert(fin(1L).getLong(1) === 3L && fin(1L).getString(2) === "purchase")
    assert(fin(2L).getLong(1) === 2L && fin(2L).getString(2) === "signup")
    assert(fin(3L).getLong(1) === 1L && fin(3L).getString(2) === "view")
  }

  test("stateful fold is state-store-portable: RocksDB provider emits identical results") {
    // the 100 TB deployment runs RocksDB state (bounded executor memory,
    // changelog checkpoints) instead of the default HDFS-backed store;
    // the fold's semantics must not depend on the provider. The conf is
    // read at stream START, so setting it per-query (and restoring)
    // exercises the provider without touching the shared session.
    val dir = Files.createTempDirectory("graft_rocks_").toFile
    dir.deleteOnExit()
    val rows = Seq(
      (1L, "click", "2024-01-01 10:00:00"), (1L, "view", "2024-01-01 11:00:00"),
      (2L, "signup", "2024-01-01 09:00:00"), (1L, "purchase", "2024-01-01 12:00:00"),
      (2L, "error", "2024-01-01 08:00:00"), (3L, "view", "2024-01-01 13:00:00"))
    rows.zipWithIndex.foreach { case (r, i) =>
      Seq(r).toDF("user_id", "event_type", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .coalesce(1).write.parquet(s"$dir/f$i")
    }
    val schema = spark.read.parquet(s"$dir/f0").schema

    def converged(provider: Option[String]): Map[Long, (Long, String)] = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      provider.foreach(spark.conf.set(key, _))
      try {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/*/")
        val table = s"rocks_${System.nanoTime()}"
        val q = EventStreams.statefulUpdates(src).toDF()
          .writeStream.format("memory").queryName(table)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.table(table).collect().groupBy(_.getLong(0)).map { case (k, rs) =>
          val m = rs.maxBy(_.getLong(1)); k -> (m.getLong(1), m.getString(2))
        }
      } finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }

    val default = converged(None)
    val rocks = converged(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    assert(rocks === default,
      s"RocksDB state must converge identically: $rocks vs $default")
    assert(default(1L) === ((3L, "purchase")))
  }
}
