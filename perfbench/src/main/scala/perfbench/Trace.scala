package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use, so harness spans and job/stage
  * spans nest on one axis. `op` is the operation id every span of one
  * operation shares (0 for the workload span). */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
                      layer: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Wall clock in epoch ms with nanoTime resolution. */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def ms(ns: Long): Double = ms0 + (ns - ns0) / 1e6
  def now: Double = ms(System.nanoTime())
}

/** Task-metric totals of one stage. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spillMem = 0L
  var spillDisk = 0L
  var peakExec = 0L
  var input = 0L
  var output = 0L
}

final case class JobRec(id: Int, group: String, start: Double, stageIds: Seq[Int]) {
  @volatile var end: Double = Double.NaN
}

final case class StageRec(id: Int) {
  @volatile var start: Double = Double.NaN
  @volatile var end: Double = Double.NaN
  val agg = new StageAgg
}

/** The benchmark's own Spark listener. Events arrive on the listener bus;
  * the harness drains the bus before it reads them. Streaming progress
  * events travel on the same bus, so they reach the streaming listener
  * from every session, including the ones the streaming rows derive. */
final class SparkTrace(streams: StreamTrace) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time.toDouble, e.stageIds))
    e.stageInfos.foreach(s => stages.putIfAbsent(s.stageId, StageRec(s.stageId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stages.computeIfAbsent(e.stageInfo.stageId, id => StageRec(id))
    e.stageInfo.submissionTime.foreach(t => s.start = t.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      e.stageInfo.submissionTime.foreach(t => if (s.start.isNaN) s.start = t.toDouble)
      e.stageInfo.completionTime.foreach(t => s.end = t.toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stages.computeIfAbsent(e.stageId, id => StageRec(id))
    val a = s.agg
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spillMem += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
      a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => streams.onQueryProgress(p)
    case _ => ()
  }
}

/** Micro-batch progress totals from every streaming query of the traced pass. */
final class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  val microBatches = new AtomicLong
  val inputRows = new AtomicLong
  val stateRows = new AtomicLong
  val stateMemory = new AtomicLong
  val commitMs = new AtomicLong
  val addBatchMs = new AtomicLong

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    microBatches.incrementAndGet()
    inputRows.addAndGet(p.numInputRows)
    p.stateOperators.foreach { s =>
      stateRows.accumulateAndGet(s.numRowsTotal, math.max)
      stateMemory.accumulateAndGet(s.memoryUsedBytes, math.max)
    }
    commitMs.addAndGet(Seq("walCommit", "commitOffsets").flatMap(d.get).map(_.longValue).sum)
    addBatchMs.addAndGet(d.get("addBatch").map(_.longValue).getOrElse(0L))
  }

  def totals(): Map[String, Double] = Map(
    "streaming.micro_batches" -> microBatches.get.toDouble,
    "streaming.input_rows" -> inputRows.get.toDouble,
    "streaming.state_rows" -> stateRows.get.toDouble,
    "streaming.state_memory_bytes" -> stateMemory.get.toDouble,
    "streaming.commit_ms" -> commitMs.get.toDouble,
    "streaming.add_batch_ms" -> addBatchMs.get.toDouble)
}

/** Samples the unified memory manager while the traced pass runs. */
final class MemorySampler extends Thread("perfbench-mem") {
  setDaemon(true)
  @volatile private var running = true
  val storagePeak = new AtomicLong
  override def run(): Unit = while (running) {
    storagePeak.accumulateAndGet(org.apache.spark.perfbench.Shim.storageMemoryUsed, math.max)
    Thread.sleep(20)
  }
  def finish(): Long = { running = false; join(1000); storagePeak.get }
}

object SelfTime {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by the span's layer. */
  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.dur - covered(s.start, s.end,
          kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }.sum / 1000.0
    }
  }
}

/** Everything recorded for the traced pass of one run. */
final class Tracer(cpus: Int) {
  val streams = new StreamTrace
  val spark = new SparkTrace(streams)
  private val ids = new AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  def nextId(): Long = ids.getAndIncrement()

  /** Turn the pass's harness spans plus the listener records into job and
    * stage spans and per-layer totals. Harness spans carry the op id in
    * the job group; jobs submitted from other threads (streaming
    * micro-batches) are tied to the innermost harness span by time. */
  def close(harness: Seq[Span], memPeak: Long): Map[String, Double] = {
    val opSpans = harness.filter(_.kind == "op")
    val byGroup = opSpans.map(s => s.op.toString -> s).toMap
    val inner = harness.filter(s => s.kind != "workload")
    def parentOf(t: Double, op: Long): Option[Span] =
      inner.filter(s => (op == 0 || s.op == op) && s.start <= t && t <= s.end)
        .sortBy(-_.start).headOption
    val jobSpans = mutable.ArrayBuffer.empty[Span]
    val stageSpans = mutable.ArrayBuffer.empty[Span]
    val matched = mutable.Set.empty[Int]
    spark.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val op = byGroup.get(j.group).map(_.op).getOrElse(0L)
      parentOf(j.start, op).foreach { p =>
        val end = if (j.end.isNaN) p.end else j.end
        val js = Span(nextId(), p.id, p.op, "job", "spark.scheduler", s"job ${j.id}", j.start, end)
        jobSpans += js
        matched += j.id
        j.stageIds.flatMap(id => Option(spark.stages.get(id))).filter(!_.start.isNaN)
          .foreach { st =>
            stageSpans += Span(nextId(), js.id, p.op, "stage", "spark.executor",
              s"stage ${st.id}", st.start, if (st.end.isNaN) end else st.end)
          }
      }
    }
    val stageIds = spark.jobs.values.asScala.filter(j => matched(j.id)).flatMap(_.stageIds).toSet
    val aggs = stageIds.toSeq.flatMap(id => Option(spark.stages.get(id)))
      .filter(_.agg.tasks > 0)
    def sumA(f: StageAgg => Long): Double = aggs.map(s => f(s.agg)).sum.toDouble
    val opTime = opSpans.map(_.dur).sum
    val jobIvs = jobSpans.map(j => (j.start, j.end)).toSeq
    val gap = opSpans.map(s => s.dur - SelfTime.covered(s.start, s.end, jobIvs)).sum
    def phase(n: String) = harness.filter(s => s.kind == "phase" && s.name == n).map(_.dur).sum / 1000.0
    val all = harness ++ jobSpans ++ stageSpans
    spans ++= all
    val self = SelfTime.byLayer(all).map { case (l, v) => s"$l.self_s" -> v }
    Map(
      "catalyst.plan_s" -> phase("plan"),
      "qsets.build_s" -> phase("build"),
      "spark.action_s" -> phase("action"),
      "spark.jobs" -> jobSpans.size.toDouble,
      "spark.stages" -> aggs.size.toDouble,
      "spark.tasks" -> sumA(_.tasks),
      "spark.max_stage_tasks" -> aggs.map(_.agg.tasks).maxOption.getOrElse(0L).toDouble,
      "spark.driver_gap_s" -> gap / 1000.0,
      "spark.core_busy_frac" -> (if (opTime <= 0) 0.0 else sumA(_.runMs) / (cpus * opTime)),
      "spark.executor_cpu_s" -> sumA(_.cpuNs) / 1e9,
      "spark.gc_s" -> sumA(_.gcMs) / 1000.0,
      "spark.shuffle_read_bytes" -> sumA(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sumA(_.shuffleWrite),
      "spark.spill_memory_bytes" -> sumA(_.spillMem),
      "spark.spill_disk_bytes" -> sumA(_.spillDisk),
      "spark.peak_exec_memory_bytes" -> aggs.map(_.agg.peakExec).maxOption.getOrElse(0L).toDouble,
      "spark.storage_memory_peak_bytes" -> memPeak.toDouble,
      "spark.input_bytes" -> sumA(_.input),
      "spark.output_bytes" -> sumA(_.output),
    ) ++ self ++ streams.totals()
  }
}
