package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory and read parquet directly so
  * Catalyst sees a plain `FileScan parquet` it can push filters/projections
  * into. At cluster scale these would be partitioned/bucketed tables; the
  * reader API is the same.
  */
object Tables {
  /** Table `name` of dataset `dir`, `events.ts` normalized by [[eventTime]].
    *
    * The table's schema is inferred once per run ([[parquetSchema]]).
    * Inference is a Spark job that reads the files' footers, and a portal
    * request opens several tables, so without the cache every request paid
    * one such job per table. The first read of a key infers with Spark's
    * own inference, so the types are Spark's under every conf; later reads
    * pass the cached schema to `spark.read.schema`, and Spark only lists
    * the files. The key names what the inferred schema depends on: the run
    * (`applicationId`), the path, the session's parquet confs, and the
    * path, length and modification time of every file under the path (the
    * one file of a generated table, the part files of a Spark-written
    * directory), so a rewritten table is inferred again, never served
    * stale. A run's entries are released with its scratch root, when the
    * application ends. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    eventTime(spark.read.schema(parquetSchema(spark, path)).parquet(path))
  }

  /** `events.ts` arrives in whatever physical type the generator chose
    * for this round's data — normalize every case to session-local
    * TIMESTAMP (UTC session), which the queries and oracles assume:
    *  - TIMESTAMP(NANOS) reads as a raw long under
    *    spark.sql.legacy.parquet.nanosAsLong=true (set by configure()).
    *    Values are µs-grain, so ns→µs truncation is lossless — but it
    *    must be INTEGRAL division: `col / 1000` is double division, and
    *    an epoch-nanos value (~1.7e18) exceeds a double's 53-bit
    *    mantissa, silently perturbing timestamps by up to ±1 µs.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
    *    TIMESTAMP_NTZ: the wall-clock values ARE UTC, so the cast to
    *    TIMESTAMP under the UTC session timezone is lossless. Left
    *    unconverted it breaks unix_micros() and streaming event-time.
    * Batch and streaming reads of a table go through here alike. */
  private[graft] def eventTime(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** The schema `spark.read.parquet(path)` infers, cached per run as
    * [[load]] describes. */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType = {
    val sc = spark.sparkContext
    runRoot(sc)
    val p = new org.apache.hadoop.fs.Path(path)
    // a missing path keys no files; its inference then fails as a plain
    // read's does, and a failed inference is not kept
    val stamps = try {
      val files = p.getFileSystem(sc.hadoopConfiguration).listFiles(p, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => s"${f.getPath} ${f.getLen} ${f.getModificationTime}").toVector.sorted
    } catch { case _: java.io.FileNotFoundException => Vector.empty }
    val confs = spark.conf.getAll.filter(_._1.contains(".parquet.")).toVector.sorted
    schemas.computeIfAbsent((sc.applicationId, path, (confs, stamps)),
      _ => new Once(() => spark.read.parquet(path).schema)).value.asInstanceOf[StructType]
  }

  /** (applicationId, path, (parquet confs, file stamps)) → the schema;
    * released with the run's scratch root. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, String, (Vector[(String, String)], Vector[String])), Once]()

  /** How many schemas application `appId` has cached. */
  private[graft] def cachedSchemas(appId: String): Int = {
    import scala.jdk.CollectionConverters._
    schemas.keySet.asScala.count(_._1 == appId)
  }

  /** Session configs every graft session needs (nanos parquet, UTC, AQE
    * bounds), the `file:` filesystem binding and [[GraftExtensions]].
    *
    * The binding exists because this engine writes many small files:
    * every commit, export and checkpoint creates data files, `.crc`
    * sidecars and directory levels. Without Hadoop's native library the
    * stock local filesystem starts a `chmod` process for each of those
    * and a `readlink` process for each `FileContext` rename, a few ms
    * apiece, which made process forks most of an ingest commit's
    * latency. [[LocalFs]] does the same work in the JVM, so both the
    * `FileSystem` (`fs.file.impl`) and the `FileContext`
    * (`fs.AbstractFileSystem.file.impl`) views of `file:` go through it.
    * Files, checksums and permissions come out as before.
    *
    * The extension is bound here for its planner rule,
    * [[GraftExtensions.SmallSortInOnePartition]]: nearly every client
    * query ends in a global `ORDER BY` over a small result, and without
    * the rule each such sort pays a range exchange, a sampling job and a
    * map stage to reach the one partition AQE reads it as anyway. Binding
    * it here gives the rule to every session a main, a test or the
    * benchmark harness builds, and to their child sessions, so all of
    * them plan the same sorts. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
     .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
     .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)
     .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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

  private val runRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The run's scratch root, `/tmp/graft_export/<applicationId>`. The
    * first call for an application registers the run's release once, on
    * application end and in a JVM shutdown hook, whichever comes first:
    * it forgets the run's [[Artifact]]s and cached schemas
    * ([[parquetSchema]]) and removes the root. */
  private def runRoot(sc: org.apache.spark.SparkContext): String =
    runRoots.computeIfAbsent(sc.applicationId, id => {
      val r = "/tmp/graft_export/" + id.replaceAll("[^A-Za-z0-9]", "_")
      def release(): Unit = runRoots.synchronized {
        built.keySet.removeIf(_._1 == id)
        schemas.keySet.removeIf(_._1 == id)
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(r))
      }
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = release()
      })
      sys.addShutdownHook(release())
      r
    })

  /** A run's scratch path for `tag` over dataset `dir`: every export,
    * index and stream sink a query writes lives under ONE root per Spark
    * application, so two concurrent runs never share a directory (or
    * recursively delete one the other is reading), and the root goes
    * when the run ends. Callers that need a fresh directory per call put
    * a unique suffix in `tag`. */
  def scratch(spark: SparkSession, dir: String, tag: String): String =
    runRoot(spark.sparkContext) + "/" + tag + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")

  /** A per-corpus index artifact built at most once per run and dataset:
    * an IVF quantizer, a k-means fit, a materialized pair table, a
    * postings index, a bucketed layout. In production these are built
    * once per corpus snapshot and read by every query, so a row that
    * consumes one measures the read a production query pays, never the
    * build. Bench's warm-up builds every declared artifact through
    * [[seedArtifacts]], so no timed rep of any consumer row pays a build
    * either, 1-rep scale runs included; a row whose job IS the build
    * (`dd_minhash_pipeline`, `tx_bm25_incremental`) computes fresh and
    * does not go through here. An artifact declares itself when its
    * owning query set initializes, which makes it seedable with no list
    * to keep in step. */
  final class Artifact[A] private[Tables] (val name: String,
                                           build: (SparkSession, String) => A) {
    def apply(s: SparkSession, dir: String): A = {
      val sc = s.sparkContext
      runRoot(sc)
      // the map insert is instant; the build runs under the entry's own
      // lock, so a long build blocks only callers of the same entry and
      // may itself read other entries
      built.computeIfAbsent((sc.applicationId, dir, name),
        _ => new Once(() => build(s, dir))).value.asInstanceOf[A]
    }
  }

  private final class Once(build: () => Any) { lazy val value: Any = build() }

  /** (applicationId, dir, artifact name) → the entry; released with the
    * run's scratch root. */
  private val built =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Once]()

  private val declared =
    scala.collection.mutable.LinkedHashMap.empty[String, Artifact[_]]

  /** Declares an [[Artifact]] named `name`, built by `build`. */
  def artifact[A](name: String)(build: (SparkSession, String) => A): Artifact[A] =
    declared.synchronized {
      require(!declared.contains(name), s"artifact $name declared twice")
      val a = new Artifact(name, build)
      declared(name) = a
      a
    }

  /** Builds every declared artifact over `dir` for this run, in
    * declaration order; one already built costs a map lookup. */
  def seedArtifacts(spark: SparkSession, dir: String): Unit =
    declared.synchronized(declared.values.toList).foreach(_(spark, dir))

  /** This run's built artifacts, (dir, name) → value. */
  private[graft] def builtArtifacts(spark: SparkSession): Map[(String, String), Any] = {
    import scala.jdk.CollectionConverters._
    built.asScala.collect { case ((app, dir, name), once)
      if app == spark.sparkContext.applicationId => (dir, name) -> once.value }.toMap
  }
}
