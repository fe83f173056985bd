package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables

/** Structured Streaming forms of the reference's incremental patterns
  * (SURVEY §2.9 ST1-ST4).
  *
  * The reference polls; these are the push equivalents:
  *  - ST1/ST2: record status state machine via flatMapGroupsWithState —
  *    event-sourced transitions instead of in-place UPDATE.
  *  - ST3: watermark-style incremental refresh — `ts > lastSync` delta.
  *  - ST4: heartbeat timeout against the latest heartbeat (batch form).
  *
  * Tests drive them with file sources under Trigger.AvailableNow and a
  * memory sink — same code path as a real continuous run. At scale these
  * run against an object-store landing zone with checkpointing; state is
  * hash-partitioned by key, so state size per executor is bounded by
  * |active keys| / executors.
  *
  * Production sizing note: a stateful query's state partitioning is set
  * by spark.sql.shuffle.partitions at FIRST run and then frozen by the
  * checkpoint — size it for projected STATE (|keys|), not CPU count.
  * [[stateSession]] is that sizing as code: every stateful query here
  * runs on a child session whose shuffle-partition count derives from
  * the measured INPUT SIZE (the plan-time proxy for |keys|), because
  * every micro-batch pays a per-partition state-store commit (delta +
  * snapshot file per store per partition per batch) regardless of how
  * much state the partition holds — partitions sized for an idle CPU
  * count just multiply commit I/O (measured: st10 at 32 partitions
  * 10.3 s vs 4.1 s at 8 on identical data/output; 4 join state stores ×
  * partitions × batches commits). Outputs are partition-count
  * independent (the c8/c32 driver runs hash-identically), so this is an
  * operator contract, not a bench tune. AQE is disabled in stateful
  * workloads, so there is no runtime rescue from a wrong static count.
  *
  * State backend: the default HDFS-backed store holds each partition's
  * state in executor heap — fine for the test harness, a memory ceiling
  * at 100 TB key cardinalities. The scale deployment sets
  * `spark.sql.streaming.stateStore.providerClass` to the bundled
  * RocksDBStateStoreProvider (off-heap, spillable, changelog
  * checkpoints); the folds here are provider-agnostic, pinned by the
  * RocksDB-equivalence case in `StatefulConvergenceSpec`.
  */
object EventStreams {

  /** Input bytes each state partition is sized to carry —
    * `spark.graft.stream.bytesPerStatePartition` (default 16 MiB).
    * Production tunes this to projected per-key state × key density of
    * the source; the default keeps local SFs at a handful of partitions
    * and a 100 TB landing zone in the hundreds (capped at 512, the same
    * ceiling as Tables.configure's AQE initialPartitionNum). */
  val BytesPerStatePartitionKey = "spark.graft.stream.bytesPerStatePartition"

  /** Floor on the state partition count —
    * `spark.graft.stream.minStatePartitions` (default 4). A floor of 1
    * minimizes commit I/O but single-threads the per-batch work the
    * stateful operator itself does (the session-window sort, the
    * bottom-k UDAF fold): measured at sf0.1, st8/st12 regressed ~30%
    * at 1 partition while st10 (whose per-batch work is trivial next to
    * its 4 stores' commits) was fastest there. 4 keeps those folds
    * parallel for single-digit extra commit files per batch. A constant,
    * not a CPU-count derivation — the partition count must not change
    * with executor count or the checkpoint contract breaks. */
  val MinStatePartitionsKey = "spark.graft.stream.minStatePartitions"

  /** State/shuffle partition count for a stateful query over `tables`
    * under `dir`: ceil(input bytes / bytesPerStatePartition), clamped to
    * [minStatePartitions, 512]. One driver-side metadata listing; no
    * data is read. */
  def statePartitions(s: SparkSession, dir: String,
                      tables: Seq[String] = Seq("events")): Int = {
    val bytesPer = s.conf.get(BytesPerStatePartitionKey,
      (16L * 1024 * 1024).toString).toLong
    val minP = s.conf.get(MinStatePartitionsKey, "4").toLong
    val hconf = s.sparkContext.hadoopConfiguration
    val bytes = tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    math.min(512, math.max(minP, (bytes + bytesPer - 1) / bytesPer)).toInt
  }

  /** Child session for a STATEFUL streaming query: shuffle partitions
    * (= the state-store partition count frozen into the checkpoint at
    * first batch) derived from input size via [[statePartitions]] — the
    * simhashSession precedent: the sizing decision is encoded statically
    * on an isolated session, the caller's session is never mutated
    * (Verify runs queries concurrently), and results are
    * partition-count-invariant. Batch-side work composed on the same
    * child session still gets AQE (inherited conf), so only the
    * stateful operators — where AQE cannot act — feel the static count.
    * An optional `spark.graft.stream.stateStoreProvider` conf passes
    * through to `spark.sql.streaming.stateStore.providerClass` (e.g. the
    * RocksDB provider at production state sizes). */
  def stateSession(s: SparkSession, dir: String,
                   tables: Seq[String] = Seq("events")): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions",
      statePartitions(s, dir, tables).toString)
    if (s.conf.getOption("spark.graft.stream.stateStoreProvider").isDefined)
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        s.conf.get("spark.graft.stream.stateStoreProvider"))
    s2
  }

  /** Drive a streaming frame under AvailableNow into a DISTRIBUTED
    * parquet sink via foreachBatch and hand the result back as a
    * distributed read.
    *
    * This replaces the memory sink for every query whose result scales
    * with the data: the memory sink collects each batch to the DRIVER
    * and re-reads it as a LocalRelation, so a downstream sort/write
    * ships the whole table inside every task binary (21 MB tasks at
    * sf10 for the session table; the full deduped event stream for
    * st5) and the driver is the memory ceiling at scale. foreachBatch
    * keeps each batch a distributed frame: Complete overwrites (each
    * batch carries the full result, last write is the converged one),
    * Update/Append land each micro-batch in its own `batch=<id>`
    * partition with overwrite — a retried batch REPLACES its own
    * partition instead of blindly appending duplicate rows (the same
    * idempotent-overwrite discipline as `hllIndexAddBatch`; a blind
    * append would silently inflate e.g. st10's n_pairs on retry). */
  def runToDir(df: DataFrame, outDir: String, mode: OutputMode): DataFrame =
    runToDirPerBatch(df, outDir, mode)(identity)

  /** [[runToDir]] with a BATCH transform applied inside foreachBatch —
    * the standard Structured Streaming escape hatch for logic the
    * streaming planner rejects (stream-static join followed by
    * aggregation, batch-only operators). Correctness contract: the
    * transform must be row-local per carrier — every output row derives
    * from rows of a single micro-batch (e.g. per-document computations
    * where one input row IS one document). Under that contract
    * stream ≡ batch regardless of how the source splits files across
    * micro-batches, because no group ever straddles a batch boundary.
    * The output schema is derived once, plan-side, by applying the
    * transform to an empty typed frame. */
  def runToDirPerBatch(stream: DataFrame, outDir: String, mode: OutputMode)
                      (perBatch: DataFrame => DataFrame): DataFrame = {
    val spark = stream.sparkSession
    val schema = perBatch(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stream.schema)).schema
    val df = stream
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val complete = mode == OutputMode.Complete
    // the per-batch partition column must not collide with a data column:
    // a streamed frame with its own `__graft_batch` field would produce a
    // duplicate field on read-back and a partition-directory name clash
    // on write. The underscored name makes accidental collision unlikely;
    // the require makes an actual one a loud error instead of corruption.
    val batchCol = "__graft_batch"
    require(complete || !schema.fieldNames.contains(batchCol),
      s"runToDir: streamed schema must not contain reserved column '$batchCol'")
    val q = df.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val target = if (complete) outDir else s"$outDir/$batchCol=$batchId"
        perBatch(b.toDF()).write.mode("overwrite").parquet(target); ()
      }
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    if (fs.exists(p)) {
      if (complete) spark.read.schema(schema).parquet(outDir)
      else spark.read
        .schema(schema.add(batchCol, LongType))
        .parquet(outDir)
        .select(schema.fieldNames.map(col): _*)
    } else spark.createDataFrame( // zero emissions → typed empty frame
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Streaming file read of any single-parquet testdata table, with the
    * run's cached schema ([[Tables.parquetSchema]]); no timestamp
    * normalization — events must go through [[readEvents]]. */
  def readTableStream(spark: SparkSession, dir: String, name: String): DataFrame =
    // the streaming file source accepts globs but rejects plain file paths
    // (non-glob paths must be directories) — so glob the single file
    spark.readStream.schema(Tables.parquetSchema(spark, s"$dir/$name.parquet"))
      .option("basePath", dir).parquet(s"$dir/$name.[p]arquet")

  /** Streaming read of the events table, `ts` normalized as the batch
    * loader does it ([[Tables.eventTime]]). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.eventTime(readTableStream(spark, dir, "events"))

  /** ST-windowed aggregation: tumbling 1-day windows per event type.
    * Complete mode (bounded key space) so the final unflushed window is
    * included; with a watermark + append this would emit incrementally. */
  def windowedAggToTable(spark: SparkSession, dir: String, table: String): DataFrame = {
    val agg = readEvents(stateSession(spark, dir), dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("d"), col("event_type"),
              col("n"), col("total"))
    runToDir(agg, Tables.scratch(spark, dir, s"stream/$table"), OutputMode.Complete)
  }

  /** Streaming HLL registers: distinct-cardinality tracking over the
    * event stream with SKETCH-BOUNDED state — the contrast to
    * `st5_stream_dedup`, whose exact-dedup state is data-sized. The
    * running aggregation keeps one MAX-rho register per (event_type,
    * bucket): ≤ 256 rows per type regardless of stream volume, and since
    * MAX is order- and batching-independent the converged registers are
    * IDENTICAL to the batch sketch — which is what lets a streaming
    * query carry a full hash oracle (the oracle replays the batch
    * register math; see [[graft.sketch.Sketches]]).
    *
    * Complete mode over a bounded key space (types × 256), same
    * discipline as [[windowedAggToTable]]; the distributed
    * foreachBatch→parquet sink keeps the driver out of the data path. */
  def streamingHllRegisters(spark: SparkSession, dir: String, table: String,
                            value: Column): DataFrame = {
    import graft.sketch.Sketches
    val regs = readEvents(stateSession(spark, dir), dir)
      .select(col("event_type"), Sketches.hllBucket(value).as("bucket"),
        Sketches.hllRho(value).as("r"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("r")).as("r"))
    runToDir(regs, Tables.scratch(spark, dir, s"stream/$table"), OutputMode.Complete)
  }

  /** Per-key running state for the ST1/ST2 state machine. */
  case class KeyState(n: Long, lastType: String, lastTs: Long)
  case class KeyUpdate(user_id: Long, n_events: Long, last_type: String)

  /** The per-key fold: counts events and tracks the (ts, type)-max event.
    * Streams the iterator — a hot key's batch is O(1) memory, never
    * buffered or sorted (the last-event pick is an order-independent max,
    * so arrival order inside the batch doesn't matter). */
  private def fold(key: Long, rows: Iterator[(Long, String, Long)],
                   state: GroupState[KeyState]): Iterator[KeyUpdate] = {
    val st = state.getOption.getOrElse(KeyState(0L, "", Long.MinValue))
    var n = st.n; var lastType = st.lastType; var lastTs = st.lastTs
    while (rows.hasNext) {
      val r = rows.next()
      n += 1
      if (r._3 > lastTs || (r._3 == lastTs && r._2 > lastType)) {
        lastTs = r._3; lastType = r._2
      }
    }
    state.update(KeyState(n, lastType, lastTs))
    Iterator.single(KeyUpdate(key, n, lastType))
  }

  /** ST1/ST2 — event-sourced per-key state machine via
    * flatMapGroupsWithState over any (streaming) events frame. Emits one
    * KeyUpdate per key per micro-batch that touched it; `n_events` is
    * strictly increasing per key across emissions, so the converged state
    * is the max-`n_events` row per key — a deterministic selection (a
    * physical emission-order id would encode partition id, not time). The
    * same fold implements the reference's waiting→running→complete
    * transitions when fed status-change events. */
  def statefulUpdates(events: DataFrame): Dataset[KeyUpdate] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(fold)
  }

  /** Drive statefulUpdates over the events table into a memory sink. */
  def statefulCounts(spark: SparkSession, dir: String, table: String): DataFrame =
    runToDir(statefulUpdates(readEvents(stateSession(spark, dir), dir)).toDF(),
      Tables.scratch(spark, dir, s"stream/$table"), OutputMode.Update)

  /** ST3 — watermark-style incremental refresh: only rows modified after
    * the last sync point, aggregated for the cache merge. */
  def incrementalRefresh(events: DataFrame, lastSync: String): DataFrame =
    events.filter(col("ts") > lit(lastSync).cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts"))

  /** Streaming sessionization via the native session_window: events within
    * `gap` of each other merge into one session per key. Complete mode
    * (bounded key space under AvailableNow) so every final session is in
    * the sink — update mode is unsupported for session windows, and append
    * under AvailableNow would need a watermark-advancing extra batch. */
  def sessionWindowAgg(spark: SparkSession, dir: String, table: String,
                       gap: String): DataFrame = {
    val agg = readEvents(stateSession(spark, dir), dir)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"))
    runToDir(agg, Tables.scratch(spark, dir, s"stream/$table"), OutputMode.Complete)
  }

  /** Streaming exact dedup: first arrival per key wins; state for a key
    * is dropped once the watermark passes it, so dedup state is bounded
    * by the watermark horizon instead of growing forever — the
    * training-pipeline form of exact dedup over a document stream. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     tsCol: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming Count-Min counters: frequency tracking over the event
    * stream with SKETCH-BOUNDED state (≤ d·m counter rows total,
    * regardless of key cardinality or stream volume — the frequency
    * sibling of [[streamingHllRegisters]]'s cardinality registers).
    * Counters are SUMs, so the converged stream state is bit-identical
    * to the batch sketch under any batching — and since CMS is
    * all-integer, even the streaming ESTIMATES carry a full hash
    * oracle. Complete mode over the bounded counter space; distributed
    * foreachBatch→parquet sink. */
  def streamingCmsCounters(spark: SparkSession, dir: String, table: String,
                           value: Column): DataFrame = {
    import graft.sketch.Sketches
    val counters = readEvents(stateSession(spark, dir), dir)
      .select(value.as("__v"),
        explode(sequence(lit(0), lit(Sketches.CmsD - 1))).as("i"))
      .select(col("i"), Sketches.cmsBucket(col("i"), col("__v")).as("bucket"))
      .groupBy(col("i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    runToDir(counters, Tables.scratch(spark, dir, s"stream/$table"), OutputMode.Complete)
  }

  /** Streaming ingest into the persistent postings index
    * ([[graft.text.PostingsIndex]]): each micro-batch of documents
    * tokenizes ONCE into term-bucketed postings and commits to its own
    * `batch=<id>` partition — foreachBatch retries overwrite themselves,
    * so the ingest is exactly-once in effect. Postings, df, and the
    * corpus stats are pure functions of the ingested SET of documents
    * (no order dependence), so the converged index answers queries
    * bit-identically to the batch build and the query row shares the
    * scan oracle. */
  def streamingPostingsIngest(spark: SparkSession, dir: String,
                              indexPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val q = readTableStream(spark, dir, "documents").writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.text.PostingsIndex.addBatch(b.toDF(), "doc_id", "text",
          indexPath, batchId)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Streaming maintenance of the PERSISTENT HLL index: each
    * micro-batch's registers land in the index's `batch=<batchId>`
    * partition via [[graft.sketch.Sketches.hllIndexAddBatch]] — the
    * foreachBatch (batchDf, batchId) signature IS the index's
    * idempotent commit contract, so a batch retry overwrites its own
    * partition and the serving read never double-counts. This is the
    * streaming ingest path of the sk_hll_incremental pattern: a
    * dashboard's all-time distinct counts stay bytes-sized and
    * oracle-exact while the stream runs. */
  def streamingHllIndex(spark: SparkSession, dir: String, indexPath: String,
                        groupCols: Seq[String], value: Column): Unit = {
    import graft.sketch.Sketches
    val p = new org.apache.hadoop.fs.Path(indexPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val q = readEvents(spark, dir).writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        Sketches.hllIndexAddBatch(b.toDF(), groupCols, value, indexPath, batchId)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Streaming bottom-k quantile sample: per-key value quantiles
    * tracked with SKETCH-BOUNDED state (≤k (hash, value) pairs per key
    * — the order-statistics sibling of the HLL registers and CMS
    * counters above). "Bottom k by (hash, value)" is a pure function of
    * the input multiset — order- and batching-independent — so the
    * converged stream sample is bit-identical to the batch sample and
    * the streaming quantile ESTIMATES carry a full hash oracle.
    * Complete mode over a bounded key space; distributed sink. */
  def streamingQuantileSample(spark: SparkSession, dir: String, table: String,
                              keyCol: String, hash: Column,
                              value: Column): DataFrame = {
    import graft.sketch.{MinKPairs, Sketches}
    val minK = udaf(new MinKPairs(Sketches.QuantK))
    val samples = readEvents(stateSession(spark, dir), dir)
      .select(col(keyCol), hash.as("__h"), value.cast("double").as("__v"))
      .groupBy(col(keyCol))
      .agg(minK(col("__h"), col("__v")).as("__pairs"))
      .select(col(keyCol),
        array_sort(transform(col("__pairs"), p => p.getField("_2"))).as("vs"),
        size(col("__pairs")).cast("long").as("sample_k"))
    runToDir(samples, Tables.scratch(spark, dir, s"stream/$table"), OutputMode.Complete)
  }

  /** Watermarked STREAM-STREAM interval join: every (typeA, typeB)
    * event pair for the same user with the B event inside
    * [A.ts, A.ts + horizon] — the attribution-window join (click →
    * purchase) a training-data pipeline runs to label interactions.
    *
    * Both sides carry a watermark equal to the horizon and the join
    * condition bounds b_ts to a's window, so each side's buffered state
    * is evicted once the other side's watermark passes it — state is
    * horizon-bounded, not stream-bounded, which is the entire difference
    * between a stream-stream join that survives a year of events and one
    * that OOMs in an afternoon. Inner-join matches emit as soon as both
    * rows arrive (append mode); the converged result is EXACTLY the
    * batch interval join, which is what lets the query carry a full hash
    * oracle. */
  def streamStreamMatches(spark: SparkSession, dir: String,
                          typeA: String, typeB: String,
                          horizonSeconds: Long): DataFrame = {
    val horizon = s"$horizonSeconds seconds"
    // stateSession: 4 state stores × partitions × batches commits — the
    // dominant cost of this query at any input the join itself doesn't
    // saturate (see the object scaladoc's measured numbers)
    val ss = stateSession(spark, dir)
    val a = readEvents(ss, dir)
      .filter(col("event_type") === typeA)
      .select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
      .withWatermark("a_ts", horizon)
    val b = readEvents(ss, dir)
      .filter(col("event_type") === typeB)
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("b_id"))
      .withWatermark("b_ts", horizon)
    a.join(b,
        col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $horizonSeconds SECONDS"))
      .select(col("user_id"), col("a_id"), col("b_id"))
  }

  /** ST4 — heartbeat timeout: managers whose latest heartbeat is older
    * than `timeoutSeconds` relative to the latest heartbeat in the frame
    * are reported dead (`qcfractal/qcfractal/components/managers/
    * socket.py:325+` deactivates managers that miss their heartbeats).
    * Batch form: one aggregate per key against the frame-wide max, so
    * the horizon is the data's own clock, not the wall clock, and
    * replays agree. */
  def heartbeatTimeouts(heartbeats: DataFrame, keyCol: String, tsCol: String,
                        timeoutSeconds: Long): DataFrame = {
    val latest = heartbeats.groupBy(col(keyCol)).agg(max(col(tsCol)).as("last_hb"))
    val horizon = heartbeats.agg(max(col(tsCol)).as("now"))
    latest.crossJoin(horizon)
      .filter(col("last_hb") < col("now") - expr(s"INTERVAL $timeoutSeconds SECONDS"))
      .select(col(keyCol), col("last_hb"))
  }
}
