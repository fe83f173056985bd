package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** [[Tables.parquetSchema]]: `Tables.load` infers a table's schema once
  * per run, reads with it afterwards exactly as a plain read does, and
  * infers again when the table is rewritten. */
class TableSchemaSpec extends SparkSuite {
  import spark.implicits._

  /** A fresh directory under the run's scratch root, removed with the run. */
  private def tempDir(tag: String): String = {
    val d = Tables.scratch(spark, "", s"${tag}_${System.nanoTime}")
    Files.createDirectories(Paths.get(d))
    d
  }

  test("a second load of a table in one run starts no Spark job") {
    // a copy no earlier suite has loaded, so the first load is a miss
    val dir = tempDir("schema_once")
    Files.copy(Paths.get(s"$sfDir/orders.parquet"), Paths.get(s"$dir/orders.parquet"))
    val (_, first) = jobs(Tables.load(spark, dir, "orders"))
    assert(first >= 1, "the first load infers the schema with a Spark job")
    val (second, n) = jobs(Tables.load(spark, dir, "orders"))
    assert(n === 0)
    val plain = spark.read.parquet(s"$dir/orders.parquet")
    assert(second.schema === plain.schema)
    assert(second.collect().toSeq === plain.collect().toSeq)
    assert(plain.count() > 0)
  }

  test("a table rewritten at the same path is inferred again") {
    val dir = tempDir("schema_rewrite")
    val path = s"$dir/documents.parquet"
    Seq((1L, "a b")).toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, dir, "documents").columns.toSeq === Seq("doc_id", "text"))
    Seq((2L, "c d", 0.5)).toDF("doc_id", "text", "score")
      .write.mode("overwrite").parquet(path)
    val again = Tables.load(spark, dir, "documents")
    assert(again.schema === spark.read.parquet(path).schema)
    assert(again.collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) ===
      Seq((2L, "c d", 0.5)))
  }

  test("events.ts reads as TIMESTAMP through the cached schema, nanos and NTZ alike") {
    val micros = 1700000000123456L
    val expect = java.time.Instant.ofEpochSecond(micros / 1000000L, micros % 1000000L * 1000L)
    // TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as TIMESTAMP_NTZ
    val ntz = tempDir("events_ntz")
    Seq((1L, java.time.LocalDateTime.ofInstant(expect, java.time.ZoneOffset.UTC)))
      .toDF("event_id", "ts").write.parquet(s"$ntz/events.parquet")
    // TIMESTAMP(NANOS): a raw long under nanosAsLong
    val nanos = tempDir("events_nanos")
    writeNanosEvents(s"$nanos/events.parquet", 1L, micros * 1000L + 789L)
    for ((dir, physical) <- Seq(ntz -> TimestampNTZType, nanos -> LongType)) {
      assert(Tables.parquetSchema(spark, s"$dir/events.parquet")("ts").dataType === physical)
      for (_ <- 1 to 2) { // the miss, then the cached schema
        val ev = Tables.load(spark, dir, "events")
        assert(ev.schema("ts").dataType === TimestampType, s"$physical")
        assert(ev.select("ts").as[java.sql.Timestamp].head().toInstant === expect, s"$physical")
      }
      assert(graft.streaming.EventStreams.readEvents(spark, dir)
        .schema("ts").dataType === TimestampType, s"$physical stream")
    }
  }

  /** One-row events file whose `ts` is a parquet TIMESTAMP(NANOS). */
  private def writeNanosEvents(file: String, id: Long, tsNanos: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", id).append("ts", tsNanos))
    finally w.close()
  }
}
