package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import com.sun.management.GarbageCollectionNotificationInfo

/** Command line of one harness run (see `perfbench/run.py`, which
  * generates the inputs, builds the classpath and launches this main). */
final case class Opts(workload: String, data: String, run: String, seed: Long,
                      trace: Boolean, out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("run"), m("seed").toLong,
      m("trace") == "1", m("out"))
  }
}

/** One timed operation's outcome. `kind` says which latency series it
  * belongs to: query, commit, probe, compact or stream. */
final case class OpSample(name: String, kind: String, module: String,
                          seconds: Double, ok: Boolean)

/** Times operations and, in a traced run, records their spans. A failed
  * or wrong operation counts against the attempted ones. */
final class Ctx(val opts: Opts, val cpus: Int) {
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val failures = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  private[perfbench] val spans = mutable.ArrayBuffer.empty[Span]
  val opKinds = mutable.Map.empty[Long, String]
  private var current: Option[Span] = None
  private var opId = 0L

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  lazy val oracleSql: Map[String, String] = graft.SparkEntry.oracleSql

  def path(parts: String*): String = Paths.get(opts.run, parts: _*).toString

  /** Run `body` as one timed operation under its own job group. Returns
    * None if it threw; the failure is recorded. */
  def op[T](name: String, kind: String, module: String)(body: => T): Option[T] = {
    opId += 1
    val id = opId
    opKinds(id) = kind
    val sc = spark.sparkContext
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val span = tracer.map(t => Span(t.nextId(), workloadSpanId, id, "op", module, name,
      Clock.ms(t0), Double.NaN))
    current = span
    val res = try Some(body) catch { case e: Throwable =>
      failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
    val t1 = System.nanoTime()
    current = None
    sc.clearJobGroup()
    span.foreach(s => spans += s.copy(end = Clock.ms(t1)))
    samples += OpSample(name, kind, module, (t1 - t0) / 1e9, res.isDefined)
    System.err.println(f"[harness] $name ${(t1 - t0) / 1e9}%.3f s${if (res.isEmpty) " FAILED" else ""}")
    res
  }

  /** A phase (build, plan, action) of the current operation. */
  def phase[T](name: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally for (t <- tracer; op <- current)
      spans += Span(t.nextId(), op.id, op.op, "phase", layer, name, Clock.ms(t0), Clock.now)
  }

  /** Mark the latest sample of `name` failed (a wrong result). */
  def fail(name: String, why: String): Unit = {
    failures += s"$name: $why"
    val i = samples.lastIndexWhere(_.name == name)
    if (i >= 0) samples(i) = samples(i).copy(ok = false)
  }

  private[perfbench] var workloadSpanId = 0L

  // ---- query results, kept for the oracle compare in run.py (DuckDB) ----
  private val results = mutable.ArrayBuffer.empty[(String, Seq[Row], StructType)]

  def keepRows(name: String, rows: Array[Row], schema: StructType): Unit =
    results += ((name, rows.toSeq, schema))

  /** Write the kept results, `cpus` at a time: each write is a small
    * Spark job, and this runs after the timed pass. */
  def writeResults(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try results.toSeq.map { case (name, rows, schema) =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(path("check", name))
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  def checkedNames: Seq[String] = results.map(_._1).sorted.toSeq
}

object Harness {

  val modules = Seq("records", "operators", "functions", "sources", "dedup", "text",
    "similarity", "sketch", "streaming")

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  /** Query name -> the repo module it exercises, by its query set. */
  def moduleOf(name: String): String =
    setModule.collectFirst { case (s, m) if s.queries.contains(name) => m }.getOrElse("operators")

  import graft.qsets._
  val setModule: Seq[(QuerySet, String)] = Seq(
    RecordsShaped -> "records", ProjectQueries -> "records",
    MoleculeQueries -> "functions", SourcesSinks -> "sources",
    SimilarityQueries -> "similarity", StreamingQueries -> "streaming")

  /** Build, plan and collect one named query as a timed operation, then
    * keep its rows for the oracle compare. */
  def query(ctx: Ctx, name: String, kind: String, dataDir: String): Unit = {
    val r = ctx.op(name, kind, moduleOf(name)) {
      val df = ctx.phase("build", "qsets")(ctx.queries(name)(ctx.spark, dataDir))
      ctx.phase("plan", "catalyst")(df.queryExecution.executedPlan)
      val rows = ctx.phase("action", "spark.driver")(df.collect())
      (rows, df.schema)
    }
    r.foreach { case (rows, schema) => ctx.keepRows(name, rows, schema) }
  }

  def session(ctx: Ctx): SparkSession = {
    val o = ctx.opts
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.streaming.stopTimeout", "10s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
      .config("spark.sql.streaming.checkpointLocation", ctx.path("checkpoints")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Largest heap occupancy right after a collection: the most data the
    * run kept live at once, the heap a deployment must at least provide.
    * Unlike RSS it does not follow the collector's heap sizing, which
    * grows the heap further when the host is slow. */
  object LiveHeap {
    @volatile var peakMb = 0.0
    def install(): Unit = {
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
        gc.asInstanceOf[NotificationEmitter].addNotificationListener(
          (n: Notification, _: AnyRef) => {
            val after = GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
            val used = after.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
            synchronized { peakMb = math.max(peakMb, used / 1048576.0) }
          }, null, null)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    LiveHeap.install()
    val opts = Opts.parse(args)
    val ctx = new Ctx(opts, Runtime.getRuntime.availableProcessors())
    val w: Workload = opts.workload match {
      case "portal" => new Portal(ctx)
      case "ingest" => new Ingest(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up is the cold start a caller pays: JVM start, SparkSession and
    // warm-up, measured once, from the JVM's own start time.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    ctx.spark = session(ctx)
    val w0 = System.currentTimeMillis()
    w.warmUp()
    val w1 = System.currentTimeMillis()
    val setup = (w1 - jvmStart) / 1e3
    val warmUp = (w1 - w0) / 1e3
    System.err.println(f"[harness] set-up $setup%.3f s, warm-up $warmUp%.3f s")

    // The timed pass: the workload's fixed work, traced in a --trace 1 run
    // (run.py compares it with an untraced run for the overhead).
    val sc = ctx.spark.sparkContext
    val tracer = if (opts.trace) Some(new Tracer(ctx.cpus)) else None
    val sampler = tracer.map { t =>
      org.apache.spark.perfbench.Shim.drain(sc) // no warm-up event reaches the tracer
      sc.addSparkListener(t.spark)
      ctx.workloadSpanId = t.nextId()
      val m = new MemorySampler
      m.start()
      m
    }
    ctx.tracer = tracer
    val ps = System.nanoTime()
    w.pass()
    val pe = System.nanoTime()
    ctx.tracer = None
    val layers: Map[String, Double] = (for (t <- tracer; m <- sampler) yield {
      org.apache.spark.perfbench.Shim.drain(sc)
      sc.removeSparkListener(t.spark)
      val ws = Span(ctx.workloadSpanId, 0L, 0L, "workload", "harness", opts.workload,
        Clock.ms(ps), Clock.ms(pe))
      val spanMetrics = t.close(ws +: ctx.spans.toSeq, m.finish())
      val commits = ctx.samples.count(_.kind == "commit")
      val commitOps = ctx.opKinds.collect { case (id, "commit") => id }.toSet
      val commitJobs = t.spans.count(s => s.kind == "job" && commitOps(s.op))
      spanMetrics ++ w.layerMetrics() ++
        modules.map(m => s"$m.op_s" -> ctx.samples.filter(_.module == m).map(_.seconds).sum) ++
        ctx.samples.filter(_.name.contains('.')).groupBy(_.name)
          .map { case (n, xs) => s"${n}_s" -> xs.map(_.seconds).sum } +
        ("index.jobs_per_commit" -> (if (commits == 0) 0.0 else commitJobs.toDouble / commits))
    }).getOrElse(Map.empty)
    ctx.writeResults()

    val srcDigest = try graft.SrcDigest.current catch { case _: Throwable => "unknown" }
    val stamp = Map(
      "nproc" -> ctx.cpus.toString,
      "heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "unified_memory_bytes" -> org.apache.spark.perfbench.Shim.maxUnifiedMemory.toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> ctx.spark.version,
      "spark_local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", ""),
      "src_digest" -> srcDigest,
      "seed" -> opts.seed.toString)

    ctx.spark.stop()

    val oracle = ctx.checkedNames.flatMap(n => ctx.oracleSql.get(n).map(n -> _))
    val json = Json.obj(
      "workload" -> Json.str(opts.workload),
      "stamp" -> Json.obj(stamp.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "setup_s" -> Json.num(setup),
      "warm_up_s" -> Json.num(warmUp),
      "pass_wall_s" -> Json.num((pe - ps) / 1e9),
      "latency_s" -> Json.arr(w.latencies.map(Json.num)),
      "samples" -> Json.arr(ctx.samples.map { s =>
        Json.obj("name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
          "module" -> Json.str(s.module),
          "s" -> Json.num(s.seconds), "ok" -> s.ok.toString) }.toSeq),
      "failures" -> Json.arr(ctx.failures.map(Json.str).toSeq),
      "checks" -> Json.obj(ctx.checks.toSeq.map { case (k, v) => k -> v.toString }: _*),
      "oracle" -> Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "peak_rss_mb" -> Json.num(rssPeakMb()),
      "peak_live_heap_mb" -> Json.num(LiveHeap.peakMb))
    Files.write(Paths.get(opts.out), json.getBytes("UTF-8"))
    tracer.foreach { t =>
      val spans = Json.arr(t.spans.map { s =>
        Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
          "kind" -> Json.str(s.kind), "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
          "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end))
      }.toSeq)
      Files.write(Paths.get(opts.out.stripSuffix(".json") + ".spans.json"), spans.getBytes("UTF-8"))
    }
  }
}

/** Minimal JSON writer: values are pre-rendered JSON fragments. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
