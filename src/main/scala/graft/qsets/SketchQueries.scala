package graft.qsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Layout, Sampling}
import graft.sketch.Sketches

/** Sketch + layout extensions — approximate-distinct, cross-source
  * overlap sizing, and Z-order data-skipping, all ORACLE-EXACT (the
  * portable md5 hash family and exact integer/single-rounding double
  * arithmetic make every stage DuckDB-reproducible; see
  * [[graft.sketch.Sketches]] for the cross-engine determinism argument).
  */
object SketchQueries extends QuerySet {

  import Sketches.{HllNumerator, KmvK, W52}

  /** Exact double literals shared verbatim with the oracle SQL —
    * `Double.toString` round-trips, and its E-notation form parses as
    * DOUBLE (not DECIMAL) in DuckDB. */
  private val numLit = java.lang.Double.toString(HllNumerator)
  private val kmvNumLit = java.lang.Double.toString((KmvK - 1).toDouble * W52)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HyperLogLog distinct customers per order status: the direct
    // register path and an explicitly sharded merge tree must agree to
    // the bit (and with the oracle's replay of the same register math).
    "sk_hll_distinct" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val exact = orders.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("exact_nd"))
      val direct = Sketches.hllEstimate(orders, Seq("o_orderstatus"), col("o_custkey"))
      val merged = Sketches.hllEstimateSharded(orders, Seq("o_orderstatus"),
        col("o_custkey"), shards = 8)
      exact.join(direct, "o_orderstatus").join(merged, "o_orderstatus")
        .orderBy("o_orderstatus")
    }),

    // KMV bottom-64 overlap estimates between the customer sets of each
    // order-priority pair (10 pairs, genuinely PARTIAL overlap — each
    // priority covers ~86% of customers, pairwise Jaccard ≈ 0.75) —
    // union size, Jaccard, and intersection from the k-bounded sketches
    // alone, with the exact intersection alongside so the estimator's
    // error is a visible per-round artifact.
    "sk_kmv_overlap" -> ((s, dir) => {
      val li = t(s, dir, "orders")
      val sk = Sketches.kmvSketch(li, col("o_orderpriority"), col("o_custkey"))
      val est = Sketches.kmvOverlap(sk)
      val d = li.select(col("o_orderpriority").as("s"), col("o_custkey").as("v")).distinct()
      val exact = d.as("a").join(d.as("b"),
          col("a.v") === col("b.v") && col("a.s") < col("b.s"))
        .groupBy(col("a.s").as("set_a"), col("b.s").as("set_b"))
        .agg(count(lit(1)).as("exact_intersect"))
      est.join(exact, Seq("set_a", "set_b"))
        .orderBy("set_a", "set_b")
    }),

    // Count-Min frequency estimates for the corpus's top-20 tokens —
    // the d×4096 counter table replaces an unbounded token group-by,
    // and because CMS is all-integer the ESTIMATES themselves are
    // oracle-exact (est ≥ exact always; the overcount column makes the
    // collision cost a visible per-round artifact).
    "sk_cms_freq" -> ((s, dir) => {
      import graft.text.TextFunctions.wsTokens
      val toks = t(s, dir, "documents")
        .select(explode(wsTokens(col("text"))).as("tok"))
      val counters = Sketches.cmsCounters(toks, col("tok"))
      val probes = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(20)
      Sketches.cmsPointEstimates(counters, probes, "tok")
        .withColumn("overcount", (col("est_n") - col("exact_n")).cast("long"))
        .orderBy(col("exact_n").desc, col("tok"))
    }),

    // Persistent HLL index across ingest batches: three disjoint batch
    // writes (batch=<id> partition overwrite — retry-idempotent), then a
    // serving read that MAX-merges every batch's registers. Register
    // merge is lossless, so the served estimate is bit-identical to the
    // sketch of the full table regardless of batching — which is what
    // lets an INCREMENTALLY-maintained approximate index carry a full
    // hash oracle. Index size: groups × ≤256 rows per batch, bytes at
    // any data scale.
    "sk_hll_incremental" -> ((s, dir) => {
      val idx = Tables.scratch(s, dir, "hllidx")
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val orders = t(s, dir, "orders")
      (0L to 2L).foreach { b =>
        Sketches.hllIndexAddBatch(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === b),
          Seq("o_orderstatus"), col("o_custkey"), idx, b)
      }
      val merged = Sketches.hllIndexRead(s, idx, Seq("o_orderstatus"))
      val exact = orders.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_custkey")).as("exact_nd"))
      exact.join(Sketches.hllFold(merged, Seq("o_orderstatus"), "est_hll"),
          "o_orderstatus")
        .orderBy("o_orderstatus")
    }),

    // HLL set algebra: union registers are the per-bucket MAX of the two
    // sides' registers — computable from the 256-row sketches alone, the
    // merge law that lets a 100 TB system answer "distinct customers in
    // ANY status pair" without re-scanning — and intersection falls out
    // by inclusion-exclusion. Every estimate (and the exact counterparts
    // in the same row) is oracle-exact; the inclusion-exclusion error is
    // a visible per-round artifact.
    "sk_hll_setops" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val regs = Sketches.hllRegisters(orders, Seq("o_orderstatus"), col("o_custkey"))
      val est1 = Sketches.hllFold(regs, Seq("o_orderstatus"), "est")
        .select(col("o_orderstatus"), col("est"))
      val statuses = orders.select(col("o_orderstatus").as("set_a")).distinct()
      val pairs = statuses
        .crossJoin(statuses.select(col("set_a").as("set_b")))
        .filter(col("set_a") < col("set_b"))
      val pairRegs = pairs
        .join(regs, col("o_orderstatus") === col("set_a") ||
          col("o_orderstatus") === col("set_b"))
        .groupBy(col("set_a"), col("set_b"), col("bucket"))
        .agg(max(col("r")).as("r"))
      val estU = Sketches.hllFold(pairRegs, Seq("set_a", "set_b"), "est_union")
        .select(col("set_a"), col("set_b"), col("est_union"))
      val d = orders.select(col("o_orderstatus").as("st"), col("o_custkey").as("v")).distinct()
      val exactI = d.as("a").join(d.as("b"),
          col("a.v") === col("b.v") && col("a.st") < col("b.st"))
        .groupBy(col("a.st").as("set_a"), col("b.st").as("set_b"))
        .agg(count(lit(1)).as("exact_intersect"))
      val exactN = d.groupBy(col("st")).agg(count(lit(1)).as("nd"))
      estU
        .join(est1.select(col("o_orderstatus").as("set_a"), col("est").as("est_a")), "set_a")
        .join(est1.select(col("o_orderstatus").as("set_b"), col("est").as("est_b")), "set_b")
        .withColumn("est_intersect", (col("est_a") + col("est_b")) - col("est_union"))
        .join(exactI, Seq("set_a", "set_b"))
        .join(exactN.select(col("st").as("set_a"), col("nd").as("exact_a")), "set_a")
        .join(exactN.select(col("st").as("set_b"), col("nd").as("exact_b")), "set_b")
        .withColumn("exact_union",
          col("exact_a") + col("exact_b") - col("exact_intersect"))
        .select(col("set_a"), col("set_b"), col("est_a"), col("est_b"),
          col("est_union"), col("est_intersect"), col("exact_a"), col("exact_b"),
          col("exact_union"), col("exact_intersect"))
        .orderBy("set_a", "set_b")
    }),

    // CMS join-size estimation: |orders ⋈ lineitem on orderkey|
    // predicted from the two d×4096 counter tables ALONE (row-wise
    // inner product, MIN over rows — never an undercount, all integer,
    // so the estimate itself is oracle-exact). This is the sketch a
    // planner consults to pick broadcast vs shuffle before either
    // 100 TB side is touched again; the exact join count in the same
    // row makes the collision overcount a tracked artifact.
    "sk_cms_joinsize" -> ((s, dir) => {
      val ka = t(s, dir, "orders").select(col("o_orderkey").as("k"))
      val kb = t(s, dir, "lineitem").select(col("l_orderkey").as("k"))
      val est = Sketches.cmsJoinSize(
        Sketches.cmsCounters(ka, col("k")), Sketches.cmsCounters(kb, col("k")))
      // |A ⋈ B| = Σ_k cntA(k)·cntB(k): pre-aggregate BOTH sides to per-key
      // counts before joining (map-side partials), so the join carries one
      // row per distinct key per side and nothing re-expands — identical
      // count to the raw join-then-count, which materialized every matched
      // pair row only to count them
      val ca = ka.groupBy(col("k")).agg(count(lit(1)).as("ca"))
      val cb = kb.groupBy(col("k")).agg(count(lit(1)).as("cb"))
      val exact = ca.join(cb, "k")
        // coalesce: SUM over an empty join is NULL where the old
        // count(1)-over-pairs form returned 0 — unreachable on TPC-H
        // orders/lineitem (every order has lines) but the query's
        // contract is "0 pairs", not NULL (r18 ADVICE)
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_pairs"))
      est.crossJoin(exact)
        .withColumn("overcount", col("est_pairs") - col("exact_pairs"))
    }),

    // Bottom-k-by-hash quantile sketch: per-returnflag price quantiles
    // from a 256-row uniform sample (k-bounded aggregator state, no
    // per-group sort of the full data) next to the exact order
    // statistics, est−exact error a visible per-round artifact. Pure
    // index selection makes even the ESTIMATES oracle-exact.
    "sk_quantile_bottomk" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"),
        col("l_extendedprice").as("v"),
        md5(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))).as("h"))
      // exact order statistics from VALUE COUNTS, not row ranks: the
      // value at row rank r (rows ordered by (v, tiebreak)) depends only
      // on v's cumulative row counts, never on which tied row holds the
      // rank — so aggregate to distinct (group, v) first (map-side
      // partials collapse the fact table to its value profile) and pick
      // the value whose cumulative range [lo, hi] covers the target
      // rank. The previous form range-sorted the ENTIRE fact table
      // (globalRank: full-table persist + range exchange + per-shard
      // window + offsets collect) and computed a per-row md5 tiebreak
      // the picked VALUE provably cannot depend on; the window here
      // sorts one row per distinct (group, value) — the value profile,
      // orders of magnitude below row count at any scale (and the
      // per-group running sum over it is the samp_token_budget boundary
      // pattern if a value profile ever outgrows a task).
      import org.apache.spark.sql.expressions.Window
      val dist = li.groupBy(col("l_returnflag"), col("v"))
        .agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
      val wg = Window.partitionBy(col("l_returnflag"))
      val cum = dist
        .withColumn("hi", sum(col("c")).over(wv))
        .withColumn("lo", col("hi") - col("c") + 1L)
        .withColumn("n", sum(col("c")).over(wg))
      def exactAt(num: Int, den: Int): Column = {
        val target = expr(s"(($num * (n - 1)) div $den) + 1")
        max(when(target.between(col("lo"), col("hi")), col("v")))
      }
      val exact = cum.groupBy("l_returnflag").agg(
        sum(col("c")).as("n_rows"),
        exactAt(1, 2).as("exact_p50"),
        exactAt(9, 10).as("exact_p90"),
        exactAt(99, 100).as("exact_p99"))
      val samp = Sketches.bottomKSample(li, Seq("l_returnflag"), col("h"), col("v"))
        .select(col("l_returnflag"), col("sample_k"),
          Sketches.quantileAt(col("vs"), col("sample_k"), 1, 2).as("est_p50"),
          Sketches.quantileAt(col("vs"), col("sample_k"), 9, 10).as("est_p90"),
          Sketches.quantileAt(col("vs"), col("sample_k"), 99, 100).as("est_p99"))
      exact.join(samp, "l_returnflag")
        .withColumn("err_p90", col("est_p90") - col("exact_p90"))
        .orderBy("l_returnflag")
    }),

    // Size-adaptive Bloom filter over document 3-grams: the held-out
    // slice's grams probed against a filter SIZED FROM the corpus gram
    // count (≥16 bits/key via the hex-width rule — the fixed-m filter is
    // exactly what breaks at 100× scale-up). Never a false negative by
    // construction; the false-positive count is measured in the output,
    // and the whole pipeline — sizing, bit table, probes — is md5/integer
    // logic both engines replay bit-for-bit.
    "sk_bloom_grams" -> ((s, dir) => {
      import graft.text.TextFunctions.wsTokens
      val docs = t(s, dir, "documents")
      // fused native window strings (bit-identical to the wsTokens →
      // transform/array_join(slice) chain; short docs explode to nothing)
      def gramsOf(d: DataFrame): DataFrame = d
        .select(explode(
          graft.functions.TokenWindows.stringsCol(col("text"), 3)).as("g"))
        .distinct()
      val corpus = gramsOf(docs.filter(col("doc_id") % 5 =!= 0))
      val probes = gramsOf(docs.filter(col("doc_id") % 5 === 0))
      val params = corpus.agg(count(lit(1)).as("n_corpus"))
        .withColumn("c", Sketches.bloomHexChars(col("n_corpus")).cast("int"))
        .withColumn("m_bits", expr("shiftleft(CAST(1 AS BIGINT), 4 * c)"))
      val bits = Sketches.bloomBits(corpus.crossJoin(broadcast(params)), col("g"))
      val probed = Sketches.bloomContains(
        bits,
        probes
          .join(corpus.select(col("g"), lit(true).as("__m")), Seq("g"), "left")
          .withColumn("in_corpus", coalesce(col("__m"), lit(false))).drop("__m")
          .crossJoin(broadcast(params)),
        "g")
      probed.groupBy(col("in_corpus"), col("in_bloom"))
        .agg(count(lit(1)).as("n_grams"),
          first(col("n_corpus")).as("n_corpus"),
          first(col("c")).as("c"),
          first(col("m_bits")).as("m_bits"))
        .orderBy("in_corpus", "in_bloom")
    }),

    // Small-files compaction plan: documents as a file manifest
    // (doc_id, byte size), packed sequentially into 16 KiB bins by the
    // distributed running-sum planner — per-bin file count, bytes and
    // fill ratio, the plan a Delta-OPTIMIZE-style compactor executes.
    "lay_compaction" -> ((s, dir) => {
      val target = 16384L
      val files = t(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("sz"))
      Layout.sequentialBins(files, Seq(col("doc_id")), col("sz"), target)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("bytes"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .withColumn("fill", col("bytes").cast("double") / lit(target.toDouble))
        .orderBy("bin")
    }),

    // Hilbert vs Z-order layout under the same box predicate: the
    // locality-optimal curve (consecutive indices always adjacent
    // cells — unit-pinned; the Z curve jumps at quadrant seams) must
    // scan no more files than Z-order. The xy→d transform is a bounded
    // 21-step integer fold the oracle replays with a recursive CTE.
    "lay_hilbert_skip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      // checkpoint the keyed frame: skipStats evaluates its input
      // several times (count + rank + stats, per layout) and the
      // 21-step Hilbert fold must not be re-run five times over the fact
      val keyed = li
        .withColumn("zkey", Layout.zOrderKey(col("l_partkey"), col("l_suppkey")))
        .withColumn("hkey", Layout.hilbertKey(col("l_partkey"), col("l_suppkey")))
        .localCheckpoint(eager = true)
      val hi = keyed.agg(max(col("l_partkey")).as("p"), max(col("l_suppkey")).as("q")).head
      val (pHi, sHi) = (hi.getLong(0) / 4, hi.getLong(1) / 4)
      val zordered = Layout.skipStats(keyed, "zorder",
        Seq(col("zkey"), col("l_orderkey"), col("l_linenumber")),
        col("l_partkey"), pHi, col("l_suppkey"), sHi)
      val hilbert = Layout.skipStats(keyed, "hilbert",
        Seq(col("hkey"), col("l_orderkey"), col("l_linenumber")),
        col("l_partkey"), pHi, col("l_suppkey"), sHi)
      hilbert.unionAll(zordered).orderBy("layout")
    }),

    // Z-order vs natural layout, identical box predicate: per-layout
    // file-level min/max skipping arithmetic (the parquet-footer pruning
    // test) over 64 simulated equal-size files. The Z-ordered layout
    // must scan a fraction of the files the natural order does — the
    // whole point of multi-dimension clustering at 100 TB.
    "lay_zorder_skip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      val keyed = li.withColumn("zkey",
        Layout.zOrderKey(col("l_partkey"), col("l_suppkey")))
      val hi = keyed.agg(max(col("l_partkey")).as("p"), max(col("l_suppkey")).as("q")).head
      val (pHi, sHi) = (hi.getLong(0) / 4, hi.getLong(1) / 4)
      val natural = Layout.skipStats(keyed, "natural",
        Seq(col("l_orderkey"), col("l_linenumber")),
        col("l_partkey"), pHi, col("l_suppkey"), sHi)
      val zordered = Layout.skipStats(keyed, "zorder",
        Seq(col("zkey"), col("l_orderkey"), col("l_linenumber")),
        col("l_partkey"), pHi, col("l_suppkey"), sHi)
      natural.unionAll(zordered).orderBy("layout")
    })
  )

  def oracleSql: Map[String, String] = Map(

    "sk_hll_distinct" ->
      s"""WITH w AS (
         |  SELECT o_orderstatus AS g,
         |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
         |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 3, 13)) AS BIGINT) AS wv
         |  FROM orders),
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
         |  SELECT o_orderstatus AS g, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_nd
         |  FROM orders GROUP BY g)
         |SELECT ex.g AS o_orderstatus, n_rows, exact_nd, v_zero, s_scaled,
         |       $numLit / CAST(s_scaled AS DOUBLE) AS est_hll,
         |       $numLit / CAST(s_scaled AS DOUBLE) AS est_merged
         |FROM ex JOIN est ON ex.g = est.g
         |ORDER BY o_orderstatus""".stripMargin,

    "sk_kmv_overlap" ->
      s"""WITH d AS (
         |  SELECT DISTINCT o_orderpriority AS s, md5(CAST(o_custkey AS VARCHAR)) AS h
         |  FROM orders),
         |mins AS (
         |  SELECT s, h FROM d
         |  QUALIFY row_number() OVER (PARTITION BY s ORDER BY h) <= $KmvK),
         |sk AS (SELECT s, list_sort(list(h)) AS mins FROM mins GROUP BY s),
         |p AS (
         |  SELECT a.s AS set_a, b.s AS set_b, a.mins AS am, b.mins AS bm
         |  FROM sk a JOIN sk b ON a.s < b.s),
         |u AS (
         |  SELECT set_a, set_b, am, bm,
         |         list_sort(list_distinct(list_concat(am, bm)))[1:$KmvK] AS uk
         |  FROM p),
         |m AS (
         |  SELECT set_a, set_b,
         |         CAST(('0x' || substr(uk[$KmvK], 1, 13)) AS BIGINT) AS w_k,
         |         CAST(len(list_filter(uk,
         |           x -> list_contains(am, x) AND list_contains(bm, x))) AS BIGINT) AS matches
         |  FROM u),
         |ex AS (
         |  SELECT a.s AS set_a, b.s AS set_b, CAST(COUNT(*) AS BIGINT) AS exact_intersect
         |  FROM d a JOIN d b ON a.h = b.h AND a.s < b.s GROUP BY 1, 2)
         |SELECT m.set_a, m.set_b, w_k, matches,
         |       $kmvNumLit / CAST(w_k AS DOUBLE) AS est_union,
         |       CAST(matches AS DOUBLE) / CAST($KmvK AS DOUBLE) AS est_jaccard,
         |       (CAST(matches AS DOUBLE) / CAST($KmvK AS DOUBLE))
         |         * ($kmvNumLit / CAST(w_k AS DOUBLE)) AS est_intersect,
         |       exact_intersect
         |FROM m JOIN ex ON m.set_a = ex.set_a AND m.set_b = ex.set_b
         |ORDER BY m.set_a, m.set_b""".stripMargin,

    "sk_cms_freq" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |rws AS (SELECT tok, i FROM toks, range(4) t(i)),
        |counters AS (
        |  SELECT i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok), 1, 3)) AS BIGINT) AS bucket,
        |         COUNT(*) AS c
        |  FROM rws GROUP BY 1, 2),
        |exact AS (SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok),
        |probes AS (SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 20),
        |pr AS (
        |  SELECT tok, exact_n, i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok), 1, 3)) AS BIGINT) AS bucket
        |  FROM probes, range(4) t(i)),
        |est AS (
        |  SELECT tok, exact_n, MIN(c) AS est_n
        |  FROM pr JOIN counters USING (i, bucket) GROUP BY 1, 2)
        |SELECT tok, CAST(exact_n AS BIGINT) AS exact_n, CAST(est_n AS BIGINT) AS est_n,
        |       CAST(est_n - exact_n AS BIGINT) AS overcount
        |FROM est
        |ORDER BY exact_n DESC, tok""".stripMargin,

    "sk_hll_incremental" ->
      s"""WITH w AS (
         |  SELECT o_orderstatus AS g,
         |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
         |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 3, 13)) AS BIGINT) AS wv
         |  FROM orders),
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
         |  SELECT o_orderstatus AS g, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_nd
         |  FROM orders GROUP BY g)
         |SELECT ex.g AS o_orderstatus, n_rows, exact_nd, v_zero, s_scaled,
         |       $numLit / CAST(s_scaled AS DOUBLE) AS est_hll
         |FROM ex JOIN est ON ex.g = est.g
         |ORDER BY o_orderstatus""".stripMargin,

    "sk_hll_setops" ->
      s"""WITH w AS (
         |  SELECT o_orderstatus AS g,
         |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
         |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 3, 13)) AS BIGINT) AS wv
         |  FROM orders),
         |regs AS (
         |  SELECT g, bucket,
         |         MAX(CASE WHEN wv = 0 THEN 53 ELSE 53 - length(bin(wv)) END) AS r
         |  FROM w GROUP BY g, bucket),
         |est1 AS (
         |  SELECT g,
         |         $numLit / CAST(CAST(SUM(CAST(1 AS BIGINT) << (53 - r))
         |           + (256 - COUNT(*)) * 9007199254740992 AS BIGINT) AS DOUBLE) AS est
         |  FROM regs GROUP BY g),
         |prs AS (SELECT DISTINCT g FROM regs),
         |pairs AS (SELECT a.g AS set_a, b.g AS set_b FROM prs a JOIN prs b ON a.g < b.g),
         |pregs AS (
         |  SELECT set_a, set_b, bucket, MAX(r) AS r
         |  FROM pairs JOIN regs ON g = set_a OR g = set_b
         |  GROUP BY set_a, set_b, bucket),
         |estu AS (
         |  SELECT set_a, set_b,
         |         $numLit / CAST(CAST(SUM(CAST(1 AS BIGINT) << (53 - r))
         |           + (256 - COUNT(*)) * 9007199254740992 AS BIGINT) AS DOUBLE) AS est_union
         |  FROM pregs GROUP BY set_a, set_b),
         |d AS (SELECT DISTINCT o_orderstatus AS st, o_custkey AS v FROM orders),
         |xn AS (SELECT st, CAST(COUNT(*) AS BIGINT) AS nd FROM d GROUP BY st),
         |xi AS (
         |  SELECT a.st AS set_a, b.st AS set_b, CAST(COUNT(*) AS BIGINT) AS exact_intersect
         |  FROM d a JOIN d b ON a.v = b.v AND a.st < b.st GROUP BY 1, 2)
         |SELECT set_a, set_b, ea.est AS est_a, eb.est AS est_b, est_union,
         |       (ea.est + eb.est) - est_union AS est_intersect,
         |       na.nd AS exact_a, nb.nd AS exact_b,
         |       na.nd + nb.nd - exact_intersect AS exact_union, exact_intersect
         |FROM estu
         |JOIN est1 ea ON ea.g = set_a
         |JOIN est1 eb ON eb.g = set_b
         |JOIN xi USING (set_a, set_b)
         |JOIN xn na ON na.st = set_a
         |JOIN xn nb ON nb.st = set_b
         |ORDER BY set_a, set_b""".stripMargin,

    "sk_cms_joinsize" ->
      """WITH ka AS (SELECT o_orderkey AS k FROM orders),
        |kb AS (SELECT l_orderkey AS k FROM lineitem),
        |ca AS (
        |  SELECT i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 3)) AS BIGINT) AS bucket,
        |         COUNT(*) AS c
        |  FROM ka, range(4) t(i) GROUP BY 1, 2),
        |cb AS (
        |  SELECT i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 3)) AS BIGINT) AS bucket,
        |         COUNT(*) AS c
        |  FROM kb, range(4) t(i) GROUP BY 1, 2),
        |ip AS (
        |  SELECT ca.i, SUM(ca.c * cb.c) AS ipv
        |  FROM ca JOIN cb ON ca.i = cb.i AND ca.bucket = cb.bucket
        |  GROUP BY ca.i),
        |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs FROM ka JOIN kb USING (k))
        |SELECT CAST(MIN(ipv) AS BIGINT) AS est_pairs,
        |       (SELECT exact_pairs FROM ex) AS exact_pairs,
        |       CAST(MIN(ipv) AS BIGINT) - (SELECT exact_pairs FROM ex) AS overcount
        |FROM ip""".stripMargin,

    "sk_quantile_bottomk" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)) AS h
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, v,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY v, h) AS rn,
        |         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM li),
        |ex AS (
        |  SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n_rows,
        |         MAX(CASE WHEN rn = ((1 * (n-1)) // 2) + 1 THEN v END) AS exact_p50,
        |         MAX(CASE WHEN rn = ((9 * (n-1)) // 10) + 1 THEN v END) AS exact_p90,
        |         MAX(CASE WHEN rn = ((99 * (n-1)) // 100) + 1 THEN v END) AS exact_p99
        |  FROM r GROUP BY l_returnflag),
        |sm AS (
        |  SELECT l_returnflag, v FROM li
        |  QUALIFY row_number() OVER (PARTITION BY l_returnflag ORDER BY h, v) <= 256),
        |sl AS (SELECT l_returnflag, list_sort(list(v)) AS vs, COUNT(*) AS k
        |       FROM sm GROUP BY l_returnflag),
        |es AS (
        |  SELECT l_returnflag, CAST(k AS BIGINT) AS sample_k,
        |         vs[((1 * (k-1)) // 2) + 1] AS est_p50,
        |         vs[((9 * (k-1)) // 10) + 1] AS est_p90,
        |         vs[((99 * (k-1)) // 100) + 1] AS est_p99
        |  FROM sl)
        |SELECT ex.l_returnflag, n_rows, exact_p50, exact_p90, exact_p99,
        |       sample_k, est_p50, est_p90, est_p99,
        |       est_p90 - exact_p90 AS err_p90
        |FROM ex JOIN es USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "sk_bloom_grams" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |  FROM toks WHERE len(t) >= 3),
        |corpus AS (
        |  SELECT DISTINCT array_to_string(t[i:i+2], chr(31)) AS g
        |  FROM pos WHERE doc_id % 5 <> 0),
        |probes AS (
        |  SELECT DISTINCT array_to_string(t[i:i+2], chr(31)) AS g
        |  FROM pos WHERE doc_id % 5 = 0),
        |params AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
        |         CAST(length(to_hex(16 * COUNT(*) - 1)) AS INT) AS c,
        |         (CAST(1 AS BIGINT) << (4 * CAST(length(to_hex(16 * COUNT(*) - 1)) AS INT))) AS m_bits
        |  FROM corpus),
        |bits AS (
        |  SELECT DISTINCT i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || g), 1, (SELECT c FROM params))) AS BIGINT) AS bucket
        |  FROM corpus, range(4) r(i)),
        |pb AS (
        |  SELECT g, i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || g), 1, (SELECT c FROM params))) AS BIGINT) AS bucket
        |  FROM probes, range(4) r(i)),
        |hits AS (SELECT g, COUNT(*) AS h FROM pb JOIN bits USING (i, bucket) GROUP BY g),
        |cls AS (
        |  SELECT p.g, (c.g IS NOT NULL) AS in_corpus,
        |         (COALESCE(hits.h, 0) = 4) AS in_bloom
        |  FROM probes p LEFT JOIN corpus c ON p.g = c.g
        |  LEFT JOIN hits ON hits.g = p.g)
        |SELECT in_corpus, in_bloom, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       (SELECT n_corpus FROM params) AS n_corpus,
        |       (SELECT c FROM params) AS c,
        |       (SELECT m_bits FROM params) AS m_bits
        |FROM cls GROUP BY in_corpus, in_bloom
        |ORDER BY in_corpus, in_bloom""".stripMargin,

    "lay_compaction" ->
      """WITH f AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS sz FROM documents),
        |c AS (
        |  SELECT doc_id, sz,
        |         CAST(SUM(sz) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sz AS BIGINT) AS cum_before
        |  FROM f),
        |b AS (SELECT doc_id, sz, CAST(cum_before // 16384 AS BIGINT) AS bin FROM c)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files, CAST(SUM(sz) AS BIGINT) AS bytes,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |       CAST(SUM(sz) AS DOUBLE) / CAST(16384 AS DOUBLE) AS fill
        |FROM b GROUP BY bin
        |ORDER BY bin""".stripMargin,

    "lay_hilbert_skip" ->
      """WITH RECURSIVE li AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    CAST(list_sum([ (((l_partkey >> i) & 1)::BIGINT << (2*i+1)) for i in range(0, 21) ])
        |       + list_sum([ (((l_suppkey >> i) & 1)::BIGINT << (2*i)) for i in range(0, 21) ]) AS BIGINT) AS zkey
        |  FROM lineitem),
        |pts AS (SELECT DISTINCT l_partkey AS x0, l_suppkey AS y0 FROM lineitem),
        |hil AS (
        |  SELECT x0, y0, 20 AS k, x0 AS x, y0 AS y, CAST(0 AS BIGINT) AS d FROM pts
        |  UNION ALL
        |  SELECT x0, y0, k - 1,
        |         CASE WHEN ry = 0 THEN yr ELSE xr END AS x,
        |         CASE WHEN ry = 0 THEN xr ELSE yr END AS y,
        |         d + s * s * xor(3 * rx, ry) AS d
        |  FROM (
        |    SELECT x0, y0, k, d, s, rx, ry,
        |           CASE WHEN rx = 1 AND ry = 0 THEN s - 1 - x ELSE x END AS xr,
        |           CASE WHEN rx = 1 AND ry = 0 THEN s - 1 - y ELSE y END AS yr
        |    FROM (
        |      SELECT x0, y0, k, x, y, d,
        |             (CAST(1 AS BIGINT) << k) AS s,
        |             CASE WHEN (x & (CAST(1 AS BIGINT) << k)) > 0 THEN 1 ELSE 0 END AS rx,
        |             CASE WHEN (y & (CAST(1 AS BIGINT) << k)) > 0 THEN 1 ELSE 0 END AS ry
        |      FROM hil WHERE k >= 0) a) b),
        |hk AS (SELECT x0, y0, d AS hkey FROM hil WHERE k = -1),
        |li2 AS (
        |  SELECT li.l_orderkey, li.l_linenumber, li.l_partkey, li.l_suppkey,
        |         li.zkey, hk.hkey
        |  FROM li JOIN hk ON li.l_partkey = hk.x0 AND li.l_suppkey = hk.y0),
        |tot AS (SELECT COUNT(*) AS n, MAX(l_partkey) // 4 AS p_hi, MAX(l_suppkey) // 4 AS s_hi FROM li2),
        |zo AS (
        |  SELECT l_partkey, l_suppkey,
        |         ((row_number() OVER (ORDER BY zkey, l_orderkey, l_linenumber) - 1) * 64) // (SELECT n FROM tot) AS b
        |  FROM li2),
        |hi AS (
        |  SELECT l_partkey, l_suppkey,
        |         ((row_number() OVER (ORDER BY hkey, l_orderkey, l_linenumber) - 1) * 64) // (SELECT n FROM tot) AS b
        |  FROM li2),
        |stats AS (
        |  SELECT 'hilbert' AS layout, b, MIN(l_partkey) AS m1, MIN(l_suppkey) AS m2,
        |         SUM(CASE WHEN l_partkey <= (SELECT p_hi FROM tot)
        |                   AND l_suppkey <= (SELECT s_hi FROM tot) THEN 1 ELSE 0 END) AS rib
        |  FROM hi GROUP BY b
        |  UNION ALL
        |  SELECT 'zorder' AS layout, b, MIN(l_partkey) AS m1, MIN(l_suppkey) AS m2,
        |         SUM(CASE WHEN l_partkey <= (SELECT p_hi FROM tot)
        |                   AND l_suppkey <= (SELECT s_hi FROM tot) THEN 1 ELSE 0 END) AS rib
        |  FROM zo GROUP BY b)
        |SELECT layout,
        |       CAST(COUNT(*) AS BIGINT) AS buckets_total,
        |       CAST(SUM(CASE WHEN m1 <= (SELECT p_hi FROM tot)
        |                      AND m2 <= (SELECT s_hi FROM tot) THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
        |       CAST(SUM(rib) AS BIGINT) AS rows_in_box,
        |       CAST(COUNT(*) - SUM(CASE WHEN m1 <= (SELECT p_hi FROM tot)
        |                                 AND m2 <= (SELECT s_hi FROM tot) THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS skip_ratio
        |FROM stats GROUP BY layout
        |ORDER BY layout""".stripMargin,

    "lay_zorder_skip" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    CAST(list_sum([ (((l_partkey >> i) & 1)::BIGINT << (2*i+1)) for i in range(0, 21) ])
        |       + list_sum([ (((l_suppkey >> i) & 1)::BIGINT << (2*i)) for i in range(0, 21) ]) AS BIGINT) AS zkey
        |  FROM lineitem),
        |tot AS (SELECT COUNT(*) AS n, MAX(l_partkey) // 4 AS p_hi, MAX(l_suppkey) // 4 AS s_hi FROM li),
        |nat AS (
        |  SELECT l_partkey, l_suppkey,
        |         ((row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1) * 64) // (SELECT n FROM tot) AS b
        |  FROM li),
        |zo AS (
        |  SELECT l_partkey, l_suppkey,
        |         ((row_number() OVER (ORDER BY zkey, l_orderkey, l_linenumber) - 1) * 64) // (SELECT n FROM tot) AS b
        |  FROM li),
        |stats AS (
        |  SELECT 'natural' AS layout, b, MIN(l_partkey) AS m1, MIN(l_suppkey) AS m2,
        |         SUM(CASE WHEN l_partkey <= (SELECT p_hi FROM tot)
        |                   AND l_suppkey <= (SELECT s_hi FROM tot) THEN 1 ELSE 0 END) AS rib
        |  FROM nat GROUP BY b
        |  UNION ALL
        |  SELECT 'zorder' AS layout, b, MIN(l_partkey) AS m1, MIN(l_suppkey) AS m2,
        |         SUM(CASE WHEN l_partkey <= (SELECT p_hi FROM tot)
        |                   AND l_suppkey <= (SELECT s_hi FROM tot) THEN 1 ELSE 0 END) AS rib
        |  FROM zo GROUP BY b)
        |SELECT layout,
        |       CAST(COUNT(*) AS BIGINT) AS buckets_total,
        |       CAST(SUM(CASE WHEN m1 <= (SELECT p_hi FROM tot)
        |                      AND m2 <= (SELECT s_hi FROM tot) THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
        |       CAST(SUM(rib) AS BIGINT) AS rows_in_box,
        |       CAST(COUNT(*) - SUM(CASE WHEN m1 <= (SELECT p_hi FROM tot)
        |                                 AND m2 <= (SELECT s_hi FROM tot) THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS skip_ratio
        |FROM stats GROUP BY layout
        |ORDER BY layout""".stripMargin
  )
}
