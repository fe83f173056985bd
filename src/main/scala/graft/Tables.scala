package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory and read parquet directly so
  * Catalyst sees a plain `FileScan parquet` it can push filters/projections
  * into. At cluster scale these would be partitioned/bucketed tables; the
  * reader API is the same.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // `events.ts` arrives in whatever physical type the generator chose
    // for this round's data — normalize every case to session-local
    // TIMESTAMP (UTC session), which the queries and oracles assume:
    //  - TIMESTAMP(NANOS) reads as a raw long under
    //    spark.sql.legacy.parquet.nanosAsLong=true (set by configure()).
    //    Values are µs-grain, so ns→µs truncation is lossless — but it
    //    must be INTEGRAL division: `col / 1000` is double division, and
    //    an epoch-nanos value (~1.7e18) exceeds a double's 53-bit
    //    mantissa, silently perturbing timestamps by up to ±1 µs.
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
    //    TIMESTAMP_NTZ: the wall-clock values ARE UTC, so the cast to
    //    TIMESTAMP under the UTC session timezone is lossless. Left
    //    unconverted it breaks unix_micros() and streaming event-time.
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Session configs every graft session needs (nanos parquet, UTC). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
     .config("spark.sql.session.timeZone", "UTC")
     .config("spark.sql.adaptive.enabled", "true")
     // Decouple shuffle parallelism from the static partition count:
     // AQE plans every exchange at initialPartitionNum and coalesces
     // down to ~advisory-size partitions, so the SAME session config
     // yields a handful of partitions at sf0.01 and hundreds at sf10 —
     // a fixed shuffle.partitions=cores starves large shuffles (each
     // partition carries 10× the bytes at 10× the data → spill; the
     // 13–17× sf10/sf1 scaling family was exactly this). 512 is an
     // upper bound, not a target: AQE only ever coalesces DOWN from it.
     .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
     // ... but Spark DISABLES that coalescing for any plan that reads a
     // persisted frame (canChangeCachedPlanOutputPartitioning defaults
     // to false so a cached plan's partitioning stays reusable), and
     // the dedup/sketch machinery persists its multi-consumer
     // intermediates by design — so every exchange DOWNSTREAM of a
     // persist ran at the full 512 regardless of data size. Measured on
     // dd_minhash_capped at sf0.1: 7216 tasks -> 62 tasks, stage time
     // 9.1 s -> 2.6 s, by flipping this alone. The conf is a pure
     // plan-shape knob (results are partition-count-independent); at
     // production sizes AQE still coalesces only to ~advisory-size
     // partitions, so large shuffles keep their parallelism — this is
     // what makes the 512 bound scale-adaptive in BOTH directions.
     .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** The local session of every graft main and test suite: `cpus` task
    * slots and as many static shuffle partitions, no UI, WARN logging,
    * plus [[configure]]. */
  def session(cpus: Int): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val scratchRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A run's scratch path for `tag` over dataset `dir`: every export,
    * index and stream sink a query writes lives under ONE root per Spark
    * application, `/tmp/graft_export/<applicationId>`, so two concurrent
    * runs never share a directory (or recursively delete one the other
    * is reading). The root is removed when its SparkContext stops or the
    * JVM exits, whichever comes first; callers that need a fresh
    * directory per call put a unique suffix in `tag`. */
  def scratch(spark: SparkSession, dir: String, tag: String): String = {
    val sc = spark.sparkContext
    val root = scratchRoots.computeIfAbsent(sc.applicationId, id => {
      val r = "/tmp/graft_export/" + id.replaceAll("[^A-Za-z0-9]", "_")
      def drop(): Unit = scratchRoots.synchronized {
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(r))
      }
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = drop()
      })
      sys.addShutdownHook(drop())
      r
    })
    root + "/" + tag + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")
  }
}
