package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. The timed action is a noop-format write so every
  * output column is computed and serialized — `count()` would let Catalyst
  * prune the projections and time only the scan. A warm-up pass over
  * representative queries absorbs JVM/codegen/parquet-footer warm-up so the
  * first timed query isn't charged for it. Per-query failures are recorded
  * as -1 and fail the run (nonzero exit) instead of being swallowed. */
object Bench {
  /** One throwaway AvailableNow micro-query: absorbs structured-streaming
    * engine init so the first timed st_* query isn't charged for it. */
  private def warmUpStreaming(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val tmpPath = java.nio.file.Files.createTempDirectory("bench-warm")
    val tmp = tmpPath.toString
    // a warm-up failure or hang must not abort the bench: bounded wait,
    // swallow errors (timed st_* queries just pay the init cost instead)
    try {
      spark.range(8).withColumn("k", col("id") % 2)
        .write.mode("overwrite").parquet(s"$tmp/in")
      val q = spark.readStream.schema("id LONG, k LONG").parquet(s"$tmp/in")
        .groupBy(col("k")).count()
        .writeStream.format("noop").outputMode("complete")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      // stop() unconditionally: if the bounded wait expired the query is
      // still running and must not compete with (or crash under the
      // deleted temp dir during) the timed queries; after completion it
      // is a no-op. stop() itself is bounded by the stopTimeout conf set
      // in main() — a stream thread that ignores interrupts must not
      // convert the bounded wait into an unbounded join.
      try q.awaitTermination(120000L) finally q.stop()
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] streaming warm-up failed (ignored): ${e.getMessage}")
    } finally {
      import java.nio.file.{Files, Path}
      import scala.jdk.CollectionConverters._
      try Files.walk(tmpPath).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_: Path))
      catch { case _: Throwable => () }
    }
  }

  def main(args: Array[String]): Unit = {
    // freshness stamp: the src/main digest of the binary that PRODUCED
    // the numbers. BenchArtifactSpec compares it against the working
    // tree so a source change makes a committed artifact loudly stale
    // (the key-set check alone can't see value staleness). Taken before
    // any query runs: a scale run lasts hours, and an edit to src/main
    // meanwhile must not stamp sources this binary never compiled.
    val srcDigest = try SrcDigest.current catch { case _: Throwable => "unknown" }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Tables.session(cpus)
    spark.conf.set("spark.sql.streaming.stopTimeout", "10s")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_ONLY=q1,q2 restricts the run — local iteration aid;
    // the driver never sets it, so recorded rounds always time everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // warm-up: codegen + parquet footers for the main fact/dim tables,
    // plus one throwaway streaming micro-query so the first timed st_*
    // query isn't charged for structured-streaming engine init
    Seq("a2_pricing_summary", "j2_revenue_by_region", "f_scalar_suite")
      .foreach(run)
    warmUpStreaming(spark)
    // build every per-corpus index artifact (Tables.artifact) before the
    // timed reps, so each consumer row times query cost in EVERY rep —
    // including 1-rep scale runs, where shuffled order would otherwise
    // bill a build to whichever consumer runs first
    val seedT0 = System.nanoTime()
    SparkEntry.seedArtifacts(spark, sfDir)
    System.err.println(f"[bench] artifacts seeded in ${(System.nanoTime() - seedT0) / 1e9}%.1f s")
    // Repeat-median over INTERLEAVED passes: one back-to-back pass is
    // hostage to whatever GC/cache pressure the PREVIOUS query left behind
    // — round-7 recorded numbers carried up to 3.6x phantom inflation vs
    // isolated re-runs of the same binary. Back-to-back repeats of the
    // same query don't fix that (all reps inherit the SAME neighbor
    // state), so the suite runs `reps` complete passes, each in a
    // different deterministically-shuffled order, and records the
    // per-query MEDIAN — a query's reps see different neighbors, so
    // neighbor-induced noise lands on at most one rep and the median
    // sheds it. reps=3 triples bench wall time, but the driver's artifact
    // feeds a 2x regression gate — stability is worth more than clock.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3).max(1)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    var failed = Set.empty[String]
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // host-drift sentinel: the SAME fixed cheap query timed at the start
    // and end of every rep (outside the per-query medians). Identical
    // binaries have drifted 1.5-1.8x within one session on this host, so
    // cross-round comparisons need a drift factor recorded IN the
    // artifact rather than re-argued from memory each round: the
    // sentinel series is that factor (its spread is pure host/JVM state
    // — the query and data never change within a run).
    val sentinelName = "a7_time_buckets"
    val sentinel = scala.collection.mutable.ListBuffer.empty[Double]
    val repWall = scala.collection.mutable.ListBuffer.empty[Double]
    def timeSentinel(): Unit = {
      val t0 = System.nanoTime()
      try { run(sentinelName); sentinel += (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => sentinel += -1.0 }
    }
    for (rep <- 1 to reps) {
      val repT0 = System.nanoTime()
      timeSentinel()
      val order = new scala.util.Random(rep.toLong).shuffle(names)
      for (name <- order if !failed.contains(name)) {
        // row start on stderr, so a warning or failure logged below this
        // line belongs to this row (stdout's last line stays the JSON)
        System.err.println(s"[bench] rep $rep: $name")
        val t0 = System.nanoTime()
        try {
          run(name)
          times(name) = ((System.nanoTime() - t0) / 1e9) :: times(name)
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      timeSentinel()
      repWall += (System.nanoTime() - repT0) / 1e9
    }
    // a query that fails in a LATER rep keeps the timings it already
    // earned (median of completed reps) — a transient failure must not
    // erase real measurements from the round artifact. The failure is
    // still visible: the name lands in the "failed" list of the full
    // artifact and the run exits nonzero.
    val results = names.map { name =>
      val ts = times(name).sorted
      name -> (if (ts.isEmpty) -1.0 else ts(ts.size / 2))
    }
    // an unfiltered run must time the WHOLE registered surface — the
    // cross-artifact half of this invariant (tracked artifact keys ==
    // the keys of the binary at HEAD) is BenchArtifactSpec, which keeps
    // sbt test red until a surface change is followed by a bench re-run
    if (only.isEmpty)
      require(results.map(_._1).toSet == SparkEntry.queries.keySet,
        "bench result rows must equal SparkEntry.queries keys")
    // per-query rep spread — written into the tracked full artifact only
    // (not the driver's stdout line) so a noisy median is visible in the
    // round audit trail rather than silently trusted
    val spreads = names.map { name =>
      val ts = times(name).sorted
      name -> (if (ts.isEmpty) (-1.0, -1.0) else (ts.head, ts.last))
    }.toMap
    // ms precision is plenty and keeps the JSON lines short — the driver
    // records only a bounded stdout tail, so every byte of the line counts
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(json)
    val spreadJson = names.map { n =>
      val (lo, hi) = spreads(n)
      s"\"" + n + s"\":[${fmt(lo)},${fmt(hi)}]"
    }.mkString("{", ",", "}")
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sentinelJson = sentinel.map(fmt).mkString("[", ",", "]")
    val repWallJson = repWall.map(fmt).mkString("[", ",", "]")
    // the host that produced the numbers: artifacts from different hosts
    // are not comparable row by row
    val hostJson =
      s"""{"nproc":${Runtime.getRuntime.availableProcessors},"cpus":"$cpus",""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
      s""""jdk":"${System.getProperty("java.version")}","spark":"${spark.version}",""" +
      s""""local_dirs":"${sys.env.getOrElse("SPARK_LOCAL_DIRS", "")}"}"""
    val fullJson = json.dropRight(1) +
      s""","reps":$reps,"failed":$failedJson""" +
      s""","host":$hostJson""" +
      s""","sentinel":{"name":"$sentinelName","series":$sentinelJson},"rep_wall":$repWallJson""" +
      s""","src_digest":"$srcDigest"""" +
      s""","spread":$spreadJson}"""
    // the driver's recorded stdout tail truncates around 2000 chars — far
    // less than the full per-query line — so persist the full JSON to a
    // TRACKED repo file (bench_full.json) for round-over-round comparison
    // (plus target/bench.json for tooling; override via SPARK_GRAFT_BENCH_JSON)
    // a filtered (SPARK_GRAFT_ONLY) run must never clobber the tracked
    // full-run artifact with a partial query map — and neither must a
    // scale run (sf1/sf10) that names its own artifact file via
    // SPARK_GRAFT_BENCH_JSON: bench_full.json is the sf0.1 round trail
    for (p <- Seq(sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "target/bench.json")) ++
              (if (only.isEmpty && !sys.env.contains("SPARK_GRAFT_BENCH_JSON"))
                 Seq("bench_full.json") else Seq.empty)) {
      try {
        val out = java.nio.file.Paths.get(p)
        if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out, fullJson.getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    // final line: a COMPACT variant listing the slowest queries first,
    // sized to survive the driver's tail window intact so BENCH_r{N}
    // always carries a parseable line (the full line above gets its head
    // truncated once the query count outgrows the window)
    val budget = 1400
    val slowest = results.sortBy { case (_, v) => -v }
    val sb = new StringBuilder
    var kept = 0
    slowest.foreach { case (k, v) =>
      val piece = (if (kept == 0) "" else ",") + "\"" + k + "\":" + fmt(v)
      if (sb.length + piece.length <= budget) { sb.append(piece); kept += 1 }
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{${sb.result()}},""" +
      s""""sf":"$sfDir","n_queries":${results.size},"queries_listed":$kept,"full":"bench_full.json"}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
