package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.IncrementalDedup
import graft.sketch.Sketches
import graft.text.{PostingsIndex, Retrieval}

/** A closed-loop workload with one client: each operation starts when the
  * previous one has returned. A run makes one pass, the workload's fixed
  * work; the seed picks the inputs, never the set or order of operations. */
trait Workload {
  def warmUp(): Unit
  def pass(): Unit
  /** The request latencies of the pass that the latency metrics report. */
  def latencies: Seq[Double]
  /** Workload-specific per-layer values of the traced pass. */
  def layerMetrics(): Map[String, Double] = Map.empty
}

/** The QCFractal client surface: record, dataset, task-claim, molecule
  * and source queries whose cost is planning and scheduling. A fixed cut
  * of 29 across the nine client-facing query sets, so one pass fits a
  * run, plus one exact nearest-neighbour search. The pass runs every name
  * once, in list order: a run is too short to warm every query, so the
  * first executions pay the JVM's and the code generator's warm-up, and a
  * fixed order keeps that cost on the same queries in every run, so seeds
  * differ only in data. */
final class Portal(ctx: Ctx) extends Workload {
  private val data = ctx.opts.data
  val names: Seq[String] = Seq(
    // CoreRelational
    "a2_pricing_summary", "o1_keyset_page", "w1_ordered_claim", "j7_submit_anti",
    "a7_time_buckets", "p3_filter_in_daterange", "u5_intersect",
    // RelationalExtended
    "s1_fetch_in_order", "p4_json_contains", "p8_id_or_name", "j3_assoc_distinct",
    "a12_dedup_insert",
    // RecordsShaped, ProjectQueries, PivotAnalytics
    "a5_type_status_matrix", "st2_service_decision", "j6_dataset_membership", "w2_tag_claim",
    "w3_claim_assign", "p1_projection", "a11_status_rollup", "o2_batch_pages",
    "a14_project_status", "x2_properties_df",
    // MoleculeQueries, TemporalQueries, SkewSafe, SourcesSinks
    "mol_hill_formula", "f7_spec_hash", "mol_search", "j15_asof_join", "skew_salted_join",
    "s3_json_roundtrip", "s3_msgpack_arrays",
    // SimilarityQueries
    "sim_knn_brute")

  def warmUp(): Unit = ctx.queries("j5_semi_join")(ctx.spark, data).collect()

  def pass(): Unit = names.foreach(n => Harness.query(ctx, n, "query", data))

  def latencies: Seq[Double] = ctx.samples.filter(_.kind == "query").map(_.seconds).toSeq
}

/** Index writes beside index reads: seeded document batches with planted
  * cross-batch copies, committed to three incremental indexes, probed
  * after every batch and compacted every third batch; then a streaming
  * row. */
final class Ingest(ctx: Ctx) extends Workload {
  private val spark = () => ctx.spark
  private val data = ctx.opts.data
  // batches.json (written by gen.py) is read with two patterns, not a
  // JSON library: its shape is fixed
  private val manifest = new String(Files.readAllBytes(Paths.get(data, "batches.json")), "UTF-8")
  private val nBatches = "\"batches\":\\s*(\\d+)".r.findFirstMatchIn(manifest).get.group(1).toInt
  private val compactEvery = 3
  /** planted copy id -> batch it arrives in */
  private val planted: Map[Long, Int] =
    "\"copy\":\\s*(\\d+),\\s*\"of\":\\s*\\d+,\\s*\"batch\":\\s*(\\d+)".r
      .findAllMatchIn(manifest).map(m => m.group(1).toLong -> m.group(2).toInt).toMap
  private val rnd = new scala.util.Random(ctx.opts.seed)
  private val vocab = Seq("agg", "batch", "column", "data", "filter", "hash", "join",
    "merge", "query", "scan", "sort", "spark", "stream", "table", "value", "window")
  private val terms = rnd.shuffle(vocab).take(3)
  private val phrase = rnd.shuffle(vocab).take(2)
  /** Streaming row: dedup over a watermark-bounded state store. */
  val streamNames: Seq[String] = Seq("st5_stream_dedup")

  private def batch(b: Int): DataFrame =
    spark().read.parquet(Paths.get(data, "batches", f"batch_$b%04d.parquet").toString)

  private case class Roots(tag: String) {
    val dir: String = ctx.path("idx", tag)
    val dedup: String = s"$dir/incdedup"
    val postings: String = s"$dir/postings"
    val hll: String = s"$dir/hll"
  }

  /** Per batch, the time to commit it to every index: what a caller
    * committing each micro-batch in `foreachBatch` style waits for. */
  private val batchCommits = scala.collection.mutable.ArrayBuffer.empty[Double]
  def latencies: Seq[Double] = batchCommits.toSeq

  // index accounting, updated by every walk
  private var files = 0.0
  private var bytes = 0.0
  private var written = 0.0
  private var inputBytes = 0.0
  private var docs = 0.0
  private var seen = Map.empty[Path, (Long, Long)]

  /** Walk the index roots; count files and bytes, and add the bytes of
    * every file that is new or rewritten since the previous walk. */
  private def walk(r: Roots): Unit = {
    val s = Files.walk(Paths.get(r.dir))
    val now = try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap finally s.close()
    written += now.collect { case (f, v) if !seen.get(f).contains(v) => v._1 }.sum
    files = now.size
    bytes = now.values.map(_._1).sum.toDouble
    seen = now
  }

  private def probes(r: Roots, timed: Boolean): (Seq[Row], Seq[Row], Seq[Row]) = {
    def run[T](name: String, module: String)(f: => T): Option[T] =
      if (timed) ctx.op(name, "probe", module)(f) else Some(f)
    val q = run("text.PostingsIndex.query", "text")(
      PostingsIndex.query(spark(), r.postings, terms).collect().toSeq)
    val ph = run("text.PostingsIndex.phraseQuery", "text")(
      PostingsIndex.phraseQuery(spark(), r.postings, phrase).collect().toSeq)
    val h = run("sketch.Sketches.hllIndexRead", "sketch")(
      Sketches.hllFold(Sketches.hllIndexRead(spark(), r.hll, Seq("lang")), Seq("lang"), "est_hll")
        .orderBy("lang").collect().toSeq)
    (q.getOrElse(Nil), ph.getOrElse(Nil), h.getOrElse(Nil))
  }

  private def check(name: String, ok: Boolean, failOp: String): Unit = {
    ctx.checks(name) = ctx.checks.getOrElse(name, true) && ok
    if (!ok) ctx.fail(failOp, s"check $name failed")
  }

  /** Commit one batch to every index (one timed operation per index). */
  private def commit(r: Roots, b: Int): Unit = {
    val df = batch(b)
    val first = ctx.samples.size
    val copies = planted.collect { case (id, pb) if pb == b => id }.toSet
    def rejects(name: String, surv: Option[DataFrame]): Unit = surv.foreach { s =>
      val ids = s.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      check("dedup_rejects_planted_copies", copies.forall(!ids.contains(_)), name)
    }
    rejects("dedup.IncrementalDedup.addBatch",
      ctx.op("dedup.IncrementalDedup.addBatch", "commit", "dedup")(
        IncrementalDedup.addBatch(df, "doc_id", "text", r.dedup, b)))
    ctx.op("text.PostingsIndex.addBatch", "commit", "text")(
      PostingsIndex.addBatch(df, "doc_id", "text", r.postings, b))
    ctx.op("sketch.Sketches.hllIndexAddBatch", "commit", "sketch")(
      Sketches.hllIndexAddBatch(df, Seq("lang"), col("text"), r.hll, b))
    batchCommits += ctx.samples.drop(first).map(_.seconds).sum
    val stats = df.agg(count(lit(1)), sum(length(col("text")))).collect()(0)
    docs += stats.getLong(0)
    inputBytes += stats.getLong(1)
  }

  /** Warm the postings and sketch writers on a 20-doc slice. The dedup
    * index, the probes, compaction and the streaming engine are left cold:
    * warming them adds about 20 s to set-up and saves the pass about 2 s. */
  def warmUp(): Unit = {
    val r = Roots("warm")
    val slice = batch(0).filter(col("doc_id") < 20)
    PostingsIndex.addBatch(slice, "doc_id", "text", r.postings, 0)
    Sketches.hllIndexAddBatch(slice, Seq("lang"), col("text"), r.hll, 0)
    Harness.deleteTree(Paths.get(r.dir))
  }

  def pass(): Unit = {
    val r = Roots("ingest")
    var last = (Seq.empty[Row], Seq.empty[Row], Seq.empty[Row])
    for (b <- 0 until nBatches) {
      commit(r, b)
      walk(r)
      last = probes(r, timed = true)
      if ((b + 1) % compactEvery == 0) {
        ctx.op("dedup.IncrementalDedup.compactIndex", "compact", "dedup")(
          IncrementalDedup.compactIndex(spark(), r.dedup))
        ctx.op("text.PostingsIndex.compactIndex", "compact", "text")(
          PostingsIndex.compactIndex(spark(), r.postings))
        walk(r)
        check("compaction_keeps_probe_results", probes(r, timed = false) == last,
          "text.PostingsIndex.compactIndex")
      }
    }
    // end-of-ingest invariants against full recomputation over every doc
    val all = (0 until nBatches).map(batch).reduce(_ union _)
    check("postings_topk_equals_bm25_scan",
      Retrieval.bm25TopK(all, "doc_id", "text", terms).collect().toSeq == last._1,
      "text.PostingsIndex.query")
    check("hll_index_equals_hll_estimate",
      Sketches.hllEstimate(all, Seq("lang"), col("text")).orderBy("lang").collect().toSeq == last._3,
      "sketch.Sketches.hllIndexRead")
    streamNames.foreach(n => Harness.query(ctx, n, "stream", data))
  }

  override def layerMetrics(): Map[String, Double] = {
    def secs(kind: String) = ctx.samples.filter(_.kind == kind).map(_.seconds).toSeq
    Map(
      "index.files" -> files, "index.bytes" -> bytes, "index.bytes_written" -> written,
      "ingest.commit_p50_s" -> Harness.quantile(secs("commit"), 0.5),
      "ingest.commit_p90_s" -> Harness.quantile(secs("commit"), 0.9),
      "ingest.probe_p50_s" -> Harness.quantile(secs("probe"), 0.5),
      "ingest.probe_p90_s" -> Harness.quantile(secs("probe"), 0.9),
      "ingest.docs_per_s" -> docs / (secs("commit") ++ secs("compact")).sum,
      "ingest.written_bytes_per_input_byte" -> written / inputBytes,
      "ingest.stream_s" -> secs("stream").sum)
  }
}
