package graft.qsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.Tables
import graft.streaming.EventStreams

/** Streaming queries, driven to completion with Trigger.AvailableNow and a
  * memory sink so the result is a plain DataFrame the oracle can check:
  * the streaming engine must converge to the batch answer. */
object StreamingQueries extends QuerySet {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ST/A7 — streaming tumbling-window aggregation == batch time buckets.
    "st_window_agg" -> ((s, dir) => {
      EventStreams.windowedAggToTable(s, dir, s"st_window_agg_${System.nanoTime()}")
        .orderBy(col("d"), col("event_type"))
    }),

    // ST1/ST2 — flatMapGroupsWithState per-key state machine; final state
    // per key must equal the batch groupBy answer (count + argmax-ts type).
    // n_events strictly increases per key per emission, so max-n_events is
    // the converged state under any number of micro-batches.
    "st_stateful_counts" -> ((s, dir) => {
      val table = s"st_state_${System.nanoTime()}"
      val updates = EventStreams.statefulCounts(s, dir, table)
      graft.operators.AggOps.distinctOn(
          updates, Seq("user_id"), Seq(col("n_events").desc))
        .select(col("user_id"), col("n_events"), col("last_type"))
        .orderBy(col("user_id"))
    }),

    // ST/dedup — streaming exact dedup with watermark-bounded state; the
    // deduped stream's per-type counts must equal batch DISTINCT.
    // Sink is foreachBatch→parquet (runToDir): the deduped stream is
    // data-sized (every distinct (user, type) row — ~10M rows at sf10),
    // so a memory sink would land it whole on the driver.
    "st5_stream_dedup" -> ((s, dir) => {
      val table = s"st_dedup_${System.nanoTime()}"
      EventStreams.runToDir(
          EventStreams.streamingDedup(
            EventStreams.readEvents(EventStreams.stateSession(s, dir), dir),
            Seq("user_id", "event_type"),
            "ts", "30 days")
          .select(col("user_id"), col("event_type")),
          Tables.scratch(s, dir, s"stream/$table"), OutputMode.Append)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // Sessionization (batch form): a >30-minute gap starts a new session;
    // lag + conditional running count assign session ids per user, then
    // sessions aggregate to length/duration. Windows partition by user,
    // so the computation shards across the cluster.
    "st6_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val cum = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        // gaps compared at microsecond grain — second-truncation would
        // misclassify sub-second boundary gaps vs the oracle
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("duration_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Native streaming session windows: must converge to the same
    // sessions as the batch lag-based construction in st6 (no exact-gap
    // boundary events exist in the data, so the >gap vs >=gap edge is
    // moot and the definitions coincide).
    "st8_session_window" -> ((s, dir) => {
      EventStreams.sessionWindowAgg(s, dir,
          s"st_sess_${System.nanoTime()}", "30 minutes")
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ST3 — incremental refresh: only rows past the last sync point.
    "st3_incremental_refresh" -> ((s, dir) => {
      EventStreams.incrementalRefresh(t(s, dir, "events"), "2024-01-25 00:00:00")
        .select(col("event_type"), col("n"),
                date_format(col("max_ts"), "yyyy-MM-dd HH:mm:ss").as("max_ts_s"))
        .orderBy(col("event_type"))
    }),

    // ST4 — heartbeat timeout: users whose last event is >48h before the
    // stream horizon (events as heartbeats).
    "st4_heartbeat_timeout" -> ((s, dir) => {
      EventStreams.heartbeatTimeouts(t(s, dir, "events"), "user_id", "ts", 48 * 3600)
        .select(col("user_id"), date_format(col("last_hb"), "yyyy-MM-dd HH:mm:ss").as("last_hb_s"))
        .orderBy(col("user_id"))
    }),

    // ST13 — streaming ingest of the persistent HLL index: each
    // micro-batch's registers commit to their own batch=<id> partition
    // (foreachBatch's batchId IS the idempotency key), and the serving
    // read MAX-merges all batches. Register-merge losslessness makes
    // the served estimate bit-identical to the batch sketch of the
    // whole stream — a STREAMING-MAINTAINED approximate index with a
    // full hash oracle.
    "st13_stream_hll_index" -> ((s, dir) => {
      import graft.sketch.Sketches
      val idx = Tables.scratch(s, dir, "stream/st13_hllidx")
      EventStreams.streamingHllIndex(s, dir, idx, Seq("event_type"), col("event_id"))
      val merged = Sketches.hllIndexRead(s, idx, Seq("event_type"))
      val exact = t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("exact_nd"))
      exact.join(Sketches.hllFold(merged, Seq("event_type"), "est_hll"), "event_type")
        .orderBy("event_type")
    }),

    // ST12 — streaming quantile sketch: per-type value quantiles from a
    // bottom-256-by-(hash,value) sample tracked as streaming state
    // (≤256 pairs per key at any stream volume — the order-statistics
    // sibling of st9/st11). Bottom-k of a multiset is order- and
    // batching-independent, so the converged stream sample equals the
    // batch sample bit-for-bit and the streaming ESTIMATES carry a full
    // hash oracle; exact order statistics sit in the same row.
    "st12_stream_quantile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.sketch.Sketches
      val samp = EventStreams.streamingQuantileSample(s, dir,
          s"st12_q_${System.nanoTime()}", "event_type",
          md5(col("event_id").cast("string")), col("value"))
        .select(col("event_type"), col("sample_k"),
          Sketches.quantileAt(col("vs"), col("sample_k"), 1, 2).as("est_p50"),
          Sketches.quantileAt(col("vs"), col("sample_k"), 9, 10).as("est_p90"),
          Sketches.quantileAt(col("vs"), col("sample_k"), 99, 100).as("est_p99"))
      // exact order statistics from VALUE COUNTS (the sk_quantile_bottomk
      // form): the value at row rank r depends only on v's cumulative
      // counts, never on the tied rows' hash order — so aggregate to
      // distinct (type, v) first and pick the value whose [lo, hi]
      // cumulative range covers the target rank. The previous window
      // ranked EVERY event row within its type partition (a per-type
      // full sort, plus a per-row md5 tiebreak the picked value cannot
      // depend on); this window sorts one row per distinct value.
      val dist = t(s, dir, "events")
        .groupBy(col("event_type"), col("value").as("v"))
        .agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("v"))
      val wg = Window.partitionBy(col("event_type"))
      val cum = dist
        .withColumn("hi", sum(col("c")).over(wv))
        .withColumn("lo", col("hi") - col("c") + 1L)
        .withColumn("n", sum(col("c")).over(wg))
      def exactAt(num: Int, den: Int) = {
        val target = expr(s"(($num * (n - 1)) div $den) + 1")
        max(when(target.between(col("lo"), col("hi")), col("v")))
      }
      val exact = cum.groupBy("event_type").agg(
        sum(col("c")).as("n_rows"),
        exactAt(1, 2).as("exact_p50"),
        exactAt(9, 10).as("exact_p90"),
        exactAt(99, 100).as("exact_p99"))
      exact.join(samp, "event_type").orderBy("event_type")
    }),

    // ST11 — streaming Count-Min: per-user frequency tracking with
    // sketch-bounded state (≤ d·4096 counter rows regardless of user
    // cardinality — the frequency sibling of st9's cardinality
    // registers). SUM counters are batching-independent, so the
    // converged stream counters equal the batch sketch bit-for-bit and
    // the streaming ESTIMATES carry a full hash oracle (est ≥ exact
    // always; overcount visible).
    "st11_stream_cms" -> ((s, dir) => {
      import graft.sketch.Sketches
      val counters = EventStreams.streamingCmsCounters(s, dir,
        s"st11_cms_${System.nanoTime()}", col("user_id"))
      val probes = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(20)
      Sketches.cmsPointEstimates(counters, probes, "user_id")
        .withColumn("overcount", (col("est_n") - col("exact_n")).cast("long"))
        .orderBy(col("exact_n").desc, col("user_id"))
    }),

    // ST10 — watermarked STREAM-STREAM interval join: click→purchase
    // attribution pairs within 1 hour per user. Both sides watermarked
    // at the horizon so buffered join state is horizon-bounded, not
    // stream-bounded; inner matches emit in append mode and the
    // converged relation must equal the batch interval join exactly
    // (full hash oracle). The match relation is data-sized, so the sink
    // is foreachBatch→parquet; the per-user rollup runs batch-side on
    // the distributed read-back.
    "st10_stream_join" -> ((s, dir) => {
      val table = s"st10_join_${System.nanoTime()}"
      EventStreams.runToDir(
          EventStreams.streamStreamMatches(s, dir, "click", "purchase", 3600L),
          Tables.scratch(s, dir, s"stream/$table"), OutputMode.Append)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_purchases"))
        .orderBy(col("user_id"))
    }),

    // ST9 — streaming HLL: distinct event ids per type tracked with
    // sketch-bounded state (≤ 256 registers per type, vs st5's
    // data-sized exact-dedup state — the cardinality-at-scale contrast).
    // MAX-register convergence is batching-independent, so even this
    // APPROXIMATE streaming query carries a full hash oracle: the
    // converged registers must equal the batch sketch bit-for-bit.
    "st9_stream_hll" -> ((s, dir) => {
      import graft.sketch.Sketches
      val regs = EventStreams.streamingHllRegisters(s, dir,
        s"st9_hll_${System.nanoTime()}", col("event_id"))
      val exact = t(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("exact_nd"))
      exact.join(Sketches.hllFold(regs, Seq("event_type"), "est_hll"), "event_type")
        .orderBy("event_type")
    }),

    // ST14 — streaming DSIR scoring: documents arrive as a stream and are
    // scored against the PRE-BUILT hashed-bigram LM artifact (the weight
    // map is a plan literal — index-artifact billing like the PQ
    // codebooks/IVF cells; built once per corpus snapshot batch-side).
    // Scoring is a PURE PROJECTION (Dsir.scoreWithLiteralWeights): no
    // join, no shuffle, zero streaming state — append mode on an
    // unbounded stream with per-doc constant work, the shape a "score
    // documents as they land" curation service actually runs. The
    // converged streamed relation must equal the batch scorer exactly,
    // so this row shares tx_dsir's full hash oracle.
    "st14_stream_score" -> ((s, dir) => {
      import graft.text.Dsir
      val docs = t(s, dir, "documents")
      val (weights, unseenW) = Dsir.weightTable(docs, "doc_id", "text",
        targetPred = col("lang") === "en")
      val stream = EventStreams.readTableStream(s, dir, "documents")
      val scored = Dsir.scoreWithLiteralWeights(stream, "doc_id", "text",
        weights, unseenW)
      EventStreams.runToDir(scored,
          Tables.scratch(s, dir, s"stream/st14_score_${System.nanoTime()}"),
          OutputMode.Append)
        .orderBy(col("doc_id"))
    }),

    // ST17 — streaming ingest into the persistent postings index: the
    // foreachBatch sibling of tx_bm25_incremental, the shape a
    // "index documents as they land" retrieval service actually runs.
    // Each micro-batch tokenizes once into term-bucketed postings and
    // commits idempotently to its own batch partition; postings, df and
    // corpus stats are pure functions of the ingested document SET — no
    // order dependence — so the converged index answers bit-identically
    // to the batch build and this row shares the scan oracle.
    "st17_stream_index" -> ((s, dir) => {
      import graft.text.PostingsIndex
      val idx = Tables.scratch(s, dir, "stream/st17_postings") + "/index"
      EventStreams.streamingPostingsIngest(s, dir, idx)
      PostingsIndex.query(s, idx,
        terms = Seq("spark", "vector", "stream", "window", "hash"))
    }),

    // ST15 — streaming decontamination gate: documents arrive as a
    // stream and are flagged against the STATIC benchmark gram set (the
    // eval suite, fixed at deploy time) — the score-on-landing sibling
    // of dd_decontaminate, the other half of a curation service beside
    // st14's quality scorer. The per-doc gram explode → benchmark join →
    // per-doc distinct-hit count is a stream-static join followed by an
    // aggregation, which the streaming planner rejects in append mode —
    // so it runs per micro-batch via runToDirPerBatch, which is EXACTLY
    // correct here: every output row derives from one input row (one
    // document), so no group ever straddles a batch boundary and
    // stream ≡ batch by construction. The benchmark side broadcasts
    // inside each batch (Decontaminate's measured-size gate); zero
    // streaming state. Shares dd_decontaminate's full hash oracle
    // verbatim — the converged stream must equal the batch flagging
    // pass bit-for-bit, every round.
    "st15_stream_decontaminate" -> ((s, dir) => {
      import graft.dedup.Decontaminate
      val bench = t(s, dir, "documents")
        .filter(col("doc_id") % CurationQueries.BENCH_MOD === 0)
      val stream = EventStreams.readTableStream(s, dir, "documents")
      EventStreams.runToDirPerBatch(stream,
          Tables.scratch(s, dir, s"stream/st15_decon_${System.nanoTime()}"),
          OutputMode.Append) { b =>
        Decontaminate.flagContaminated(
          b.filter(col("doc_id") % CurationQueries.BENCH_MOD =!= 0),
          bench, "doc_id", "text", n = 3)
      }.orderBy(col("doc_id"))
    }),

    // ST16 — streaming multimodal signing: documents arrive as a stream
    // and each gets its image perceptual hash + exact crop digest ON
    // LANDING (the ingest half of mm_image_phash — clustering runs
    // downstream over the signed table, so the streamed computation is
    // strictly per-row: encode, REAL PNG decode, hash — zero state,
    // trivially row-local under the runToDirPerBatch contract).
    // Converged stream shares the arithmetic pixel-formula oracle.
    "st16_stream_phash" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val stream = EventStreams.readTableStream(s, dir, "documents")
      EventStreams.runToDirPerBatch(stream,
          Tables.scratch(s, dir, s"stream/st16_phash_${System.nanoTime()}"),
          OutputMode.Append) { b =>
        Multimodal.imageAHash(s, Multimodal.withPngPayload(
          s, b.filter(col("doc_id") < 600).select(col("doc_id")), "doc_id")).toDF()
      }.orderBy(col("doc_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "st_window_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS d, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY d, event_type
        |ORDER BY d, event_type""".stripMargin,

    "st_stateful_counts" ->
      """WITH counts AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
        |last AS (
        |  SELECT user_id, event_type AS last_type FROM events
        |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_type DESC) = 1)
        |SELECT c.user_id, n_events, last_type
        |FROM counts c JOIN last l ON c.user_id = l.user_id
        |ORDER BY c.user_id""".stripMargin,

    "st6_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
        |FROM x
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "st8_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events
        |FROM x
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "st5_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "st3_incremental_refresh" ->
      """SELECT event_type, COUNT(*) AS n,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts_s
        |FROM events
        |WHERE ts > TIMESTAMP '2024-01-25 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "st4_heartbeat_timeout" ->
      """WITH latest AS (SELECT user_id, MAX(ts) AS last_hb FROM events GROUP BY user_id),
        |horizon AS (SELECT MAX(ts) AS now FROM events)
        |SELECT user_id, strftime(last_hb, '%Y-%m-%d %H:%M:%S') AS last_hb_s
        |FROM latest, horizon
        |WHERE last_hb < now - INTERVAL '48 hours'
        |ORDER BY user_id""".stripMargin,

    "st13_stream_hll_index" ->
      s"""WITH w AS (
         |  SELECT event_type AS g,
         |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
         |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 3, 13)) AS BIGINT) AS wv
         |  FROM events),
         |regs AS (
         |  SELECT g, bucket,
         |         MAX(CASE WHEN wv = 0 THEN 53 ELSE 53 - length(bin(wv)) END) AS r
         |  FROM w GROUP BY g, bucket),
         |agg AS (
         |  SELECT g, COUNT(*) AS present,
         |         SUM(CAST(1 AS BIGINT) << (53 - r)) AS s_present
         |  FROM regs GROUP BY g),
         |est AS (
         |  SELECT g, CAST(256 - present AS BIGINT) AS v_zero,
         |         CAST(s_present + (256 - present) * 9007199254740992 AS BIGINT) AS s_scaled
         |  FROM agg),
         |ex AS (
         |  SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_nd
         |  FROM events GROUP BY g)
         |SELECT ex.g AS event_type, n_rows, exact_nd, v_zero, s_scaled,
         |       ${java.lang.Double.toString(graft.sketch.Sketches.HllNumerator)} / CAST(s_scaled AS DOUBLE) AS est_hll
         |FROM ex JOIN est ON ex.g = est.g
         |ORDER BY event_type""".stripMargin,

    "st12_stream_quantile" ->
      """WITH ev AS (
        |  SELECT event_type, value AS v, md5(CAST(event_id AS VARCHAR)) AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, v,
        |         row_number() OVER (PARTITION BY event_type ORDER BY v, h) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |ex AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_rows,
        |         MAX(CASE WHEN rn = ((1 * (n-1)) // 2) + 1 THEN v END) AS exact_p50,
        |         MAX(CASE WHEN rn = ((9 * (n-1)) // 10) + 1 THEN v END) AS exact_p90,
        |         MAX(CASE WHEN rn = ((99 * (n-1)) // 100) + 1 THEN v END) AS exact_p99
        |  FROM r GROUP BY event_type),
        |sm AS (
        |  SELECT event_type, v FROM ev
        |  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h, v) <= 256),
        |sl AS (SELECT event_type, list_sort(list(v)) AS vs, COUNT(*) AS k
        |       FROM sm GROUP BY event_type),
        |es AS (
        |  SELECT event_type, CAST(k AS BIGINT) AS sample_k,
        |         vs[((1 * (k-1)) // 2) + 1] AS est_p50,
        |         vs[((9 * (k-1)) // 10) + 1] AS est_p90,
        |         vs[((99 * (k-1)) // 100) + 1] AS est_p99
        |  FROM sl)
        |SELECT ex.event_type, n_rows, exact_p50, exact_p90, exact_p99,
        |       sample_k, est_p50, est_p90, est_p99
        |FROM ex JOIN es USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "st11_stream_cms" ->
      """WITH rws AS (SELECT user_id, i FROM events, range(4) t(i)),
        |counters AS (
        |  SELECT i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 3)) AS BIGINT) AS bucket,
        |         COUNT(*) AS c
        |  FROM rws GROUP BY 1, 2),
        |exact AS (SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id),
        |probes AS (SELECT user_id, exact_n FROM exact ORDER BY exact_n DESC, user_id LIMIT 20),
        |pr AS (
        |  SELECT user_id, exact_n, i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 3)) AS BIGINT) AS bucket
        |  FROM probes, range(4) t(i)),
        |est AS (
        |  SELECT user_id, exact_n, MIN(c) AS est_n
        |  FROM pr JOIN counters USING (i, bucket) GROUP BY 1, 2)
        |SELECT user_id, CAST(exact_n AS BIGINT) AS exact_n, CAST(est_n AS BIGINT) AS est_n,
        |       CAST(est_n - exact_n AS BIGINT) AS overcount
        |FROM est
        |ORDER BY exact_n DESC, user_id""".stripMargin,

    "st10_stream_join" ->
      """WITH a AS (
        |  SELECT user_id, ts AS a_ts FROM events WHERE event_type = 'click'),
        |b AS (
        |  SELECT user_id, ts AS b_ts, event_id AS b_id FROM events
        |  WHERE event_type = 'purchase')
        |SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_purchases
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL '1 hour'
        |GROUP BY a.user_id
        |ORDER BY a.user_id""".stripMargin,

    // The converged stream must equal the BATCH DSIR scorer — this is
    // verbatim the tx_dsir oracle: any divergence between the literal
    // weight map, the streaming projection, and the batch join path
    // breaks the hash.
    "st14_stream_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |    unnest([t[i] || chr(31) || t[i+1] for i in range(1, len(t))]) AS g
        |  FROM toks WHERE len(t) >= 2),
        |b AS (
        |  SELECT doc_id, is_t,
        |    CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 512 AS bkt
        |  FROM grams),
        |cnts AS (
        |  SELECT bkt, COUNT(*) AS c_r,
        |    SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t
        |  FROM b GROUP BY bkt),
        |tot AS (SELECT SUM(c_r) AS t_r, SUM(c_t) AS t_t FROM cnts),
        |w AS (
        |  SELECT bkt, round(ln((c_t + 1.0) / (t_t + 512.0))
        |                  - ln((c_r + 1.0) / (t_r + 512.0)), 6) AS w
        |  FROM cnts CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  round(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 6) AS dsir_weight
        |FROM b JOIN w USING (bkt)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "st9_stream_hll" ->
      s"""WITH w AS (
         |  SELECT event_type AS g,
         |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
         |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 3, 13)) AS BIGINT) AS wv
         |  FROM events),
         |regs AS (
         |  SELECT g, bucket,
         |         MAX(CASE WHEN wv = 0 THEN 53 ELSE 53 - length(bin(wv)) END) AS r
         |  FROM w GROUP BY g, bucket),
         |agg AS (
         |  SELECT g, COUNT(*) AS present,
         |         SUM(CAST(1 AS BIGINT) << (53 - r)) AS s_present
         |  FROM regs GROUP BY g),
         |est AS (
         |  SELECT g, CAST(256 - present AS BIGINT) AS v_zero,
         |         CAST(s_present + (256 - present) * 9007199254740992 AS BIGINT) AS s_scaled
         |  FROM agg),
         |ex AS (
         |  SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_nd
         |  FROM events GROUP BY g)
         |SELECT ex.g AS event_type, n_rows, exact_nd, v_zero, s_scaled,
         |       ${java.lang.Double.toString(graft.sketch.Sketches.HllNumerator)} / CAST(s_scaled AS DOUBLE) AS est_hll
         |FROM ex JOIN est ON ex.g = est.g
         |ORDER BY event_type""".stripMargin,

    // stream ≡ batch: the converged streamed gate shares the batch
    // flagging pass's oracle verbatim (the st14/tx_dsir discipline).
    "st15_stream_decontaminate" -> CurationQueries.decontaminateSql,

    // Converged streaming ingest ≡ batch build ≡ corpus scan: one SQL
    // answers all three BM25 rows.
    "st17_stream_index" -> TextQueries.bm25Sql,

    // The mm_image_phash pixel-formula replay, signature columns only —
    // the streamed signer must equal the batch signer bit-for-bit.
    "st16_stream_phash" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 600),
        |ys AS (SELECT doc_id, unnest(range(8)) AS y FROM ids),
        |px AS (SELECT doc_id, y, unnest(range(8)) AS x FROM ys),
        |g AS (
        |  SELECT doc_id, y, x,
        |      (31 * doc_id + 7 * x + 13 * y) % 256
        |    + (17 * doc_id + 5 * x + 11 * y) % 256
        |    + (23 * doc_id + 3 * x + 19 * y) % 256 AS g
        |  FROM px),
        |s AS (SELECT doc_id, SUM(g) AS tot FROM g GROUP BY doc_id)
        |SELECT g.doc_id,
        |  string_agg(CASE WHEN 64 * g.g > s.tot THEN '1' ELSE '0' END, ''
        |             ORDER BY g.y, g.x) AS phash,
        |  md5(string_agg(CAST(g.g AS VARCHAR), ',' ORDER BY g.y, g.x)) AS crop_md5
        |FROM g JOIN s USING (doc_id)
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin
  )
}
