package graft.qsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Decontaminate
import graft.operators.Sampling

/** Corpus-curation queries over `documents`: benchmark decontamination,
  * deterministic sampling, and domain mixing — the selection side of a
  * training-data pipeline (the removal side is DedupQueries). All four
  * are content-deterministic, so each has a full DuckDB oracle. */
object CurationQueries extends QuerySet {

  /** doc_id % 97 == 0 plays the held-out eval benchmark (~1% of docs);
    * the rest is the training corpus being screened against it. */
  private[qsets] val BENCH_MOD = 97

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Benchmark decontamination: corpus docs sharing any token n-gram
    // with the benchmark slice, with the distinct-gram hit count (3-token
    // grams — sized to the short synthetic docs; production uses 8-13). The
    // benchmark gram set is broadcast; corpus grams are hashed to 64-bit
    // and never shuffled.
    "dd_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % BENCH_MOD === 0)
      val corpus = docs.filter(col("doc_id") % BENCH_MOD =!= 0)
      Decontaminate.flagContaminated(corpus, bench, "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // The oversized-benchmark regime of the same operator, forced at
    // small scale: the benchmark gram set becomes a Bloom filter probed
    // by the native `might_contain` predicate BEFORE the exact join, so
    // corpus grams that cannot match never enter the shuffle. The exact
    // verify join drops the Bloom's false positives — the result is
    // byte-identical to dd_decontaminate (same oracle), only the plan
    // differs. This is the path a 100 TB corpus takes when the eval
    // suite outgrows broadcast size.
    "dd_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % BENCH_MOD === 0)
      val corpus = docs.filter(col("doc_id") % BENCH_MOD =!= 0)
      Decontaminate.flagContaminatedBloom(corpus, bench, "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // Contamination REMOVAL — the surgery step after dd_decontaminate's
    // flagging pass: every corpus token covered by a 3-gram that also
    // occurs in the benchmark is cut, and the cleaned text is rebuilt
    // from the surviving tokens (the standard scrub-don't-drop policy
    // for long documents with embedded test passages). Grams travel as
    // xxhash64; the benchmark gram table broadcasts; covered token
    // positions are per-doc bounded, so the interval union and text
    // rebuild are per-doc aggregates — nothing corpus-wide is sorted.
    "dd_scrub_spans" -> ((s, dir) => {
      import graft.text.TextFunctions
      val L = 3
      val docs = t(s, dir, "documents")
      // 1-based gram/token positions on BOTH engines (DuckDB generate_series)
      // fused native window hashes — bit-identical to the wsTokens →
      // transform/xxhash64(concat_ws("\u001F")) chain it replaced (the
      // separator = the oracle's chr(31)); short docs hash to an empty
      // array, so the explode itself drops them (no pre-filter pass)
      def grams(d: DataFrame) = d
        .select(col("doc_id"),
          posexplode(graft.functions.TokenWindows(col("text"), L)))
        .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("h"))
      val benchGrams = grams(docs.filter(col("doc_id") % BENCH_MOD === 0))
        .select(col("h")).distinct()
      val corpus = docs.filter(col("doc_id") % BENCH_MOD =!= 0)
      val covered = grams(corpus).join(benchGrams, "h")
        .select(col("doc_id"), explode(sequence(col("p"), col("p") + (L - 1))).as("ti"))
        .distinct()
      val toks = corpus
        .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("n_toks"),
          posexplode(col("t")))
        .select(col("doc_id"), col("n_toks"), (col("pos") + 1).cast("long").as("ti"),
          col("col").as("tok"))
      val cleaned = toks.join(covered, Seq("doc_id", "ti"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("ti"), col("tok")))),
            e => e.getField("tok")), " ").as("cleaned"))
      corpus.select(col("doc_id"),
          size(TextFunctions.wsTokens(col("text"))).cast("long").as("n_toks"))
        .join(cleaned, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("cleaned"), lit("")).as("cleaned"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic content-hash sample (~1/8 of the corpus): md5 hex
    // lexicographic threshold, reproducible by any engine.
    "samp_hash" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(Sampling.hashSample(col("text"), "2"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Leakage-free train/val/test split: split assignment keyed on the
    // duplicate CLUSTER (min doc_id per content hash over the doubled
    // corpus), so a document and its copies can never straddle splits —
    // the eval-contamination guard a training pipeline needs BEFORE
    // mixing. Content-deterministic and engine-reproducible (md5
    // thresholds); cluster formation is one hash aggregate + a join back,
    // no window over the corpus.
    "samp_split_leakfree" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = d.union(d.withColumn("doc_id", col("doc_id") + 1000000L))
        .withColumn("h", md5(col("text")))
      val clusters = docs.groupBy(col("h"))
        .agg(min(col("doc_id")).as("cluster_id"))
      docs.join(clusters, "h")
        .select(col("doc_id"), col("cluster_id"),
          graft.operators.Sampling.clusterSafeSplit(
            col("cluster_id").cast("string"),
            Seq(("train", "cc"), ("val", "e6")), "test").as("split"))
        .orderBy(col("doc_id"))
    }),

    // Token-budget epoch planning: the maximal prefix of the corpus in
    // (tokens desc, doc_id) priority order that fits a 100k-token
    // budget. The selected set is a pure function of the global order,
    // so the oracle checks it with a plain running-sum window while the
    // engine decides whole shards from counts-only totals and fine-scans
    // only the boundary shard (Sampling.tokenBudget scaladoc).
    "samp_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      graft.operators.Sampling.tokenBudget(docs,
          Seq(col("n_tok").desc, col("doc_id").asc), col("n_tok"),
          budget = 100000L)
        .select(col("doc_id"), col("n_tok"))
        .orderBy(col("doc_id"))
    }),

    // Epoch-shuffle training order: every document's 1-based position in
    // the seeded content-hash permutation — the reproducible global
    // shuffle a training run consumes per epoch. The rank is assigned
    // WITHOUT a single-partition window (range partition + counts-only
    // shard offsets, Sampling.globalRank), so the permutation
    // materializes with one range exchange at any corpus size.
    "samp_epoch_order" -> ((s, dir) => {
      val h = md5(concat(lit("epoch7:"), col("doc_id").cast("string")))
      graft.operators.Sampling.globalRank(
          t(s, dir, "documents").select(col("doc_id")).withColumn("h", h),
          Seq(col("h").asc, col("doc_id").asc))
        .select(col("rank"), col("doc_id"), col("h"))
        .orderBy(col("rank"))
    }),

    // Training-shard export — the pipeline's LAST MILE: the seeded
    // epoch permutation (samp_epoch_order's md5 key), token-balanced
    // into K = 8 CONTIGUOUS shards by the distributed running token sum
    // (Layout.sequentialBins: range partition + counts-only shard
    // offsets + in-shard window — never a single-partition window),
    // physically written partitioned by shard, and verified off the
    // READ-BACK: per shard, doc count, token total, epoch-key range and
    // an md5 membership digest all hash-compare against the oracle's
    // window replay. Shards are contiguous ranges of the epoch order,
    // so a training loader reading shard files in order replays the
    // epoch — the artifact every curation pipeline ultimately ships.
    "samp_shard_export" -> ((s, dir) => {
      val sized = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        md5(concat(lit("ep1:"), col("doc_id").cast("string"))).as("ek"))
      val total = sized.agg(sum(col("n_tok"))).head().getLong(0)
      val k = 8L
      val out = Tables.scratch(s, dir, "shards")
      graft.operators.Layout.sequentialBins(sized,
          Seq(col("ek"), col("doc_id")), col("n_tok"),
          targetBytes = (total + k - 1) / k)
        .select(col("doc_id"), col("ek"), col("n_tok"), col("bin").as("shard"))
        .write.partitionBy("shard").mode("overwrite").parquet(out)
      s.read.parquet(out)
        .withColumn("shard", col("shard").cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          min(col("ek")).as("min_ek"), max(col("ek")).as("max_ek"),
          md5(concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string")))).as("members_md5"))
        .orderBy(col("shard"))
    }),

    // Domain mixing: per-source quotas (first-N by doc_id), the
    // deterministic form of "mix sources at fixed proportions".
    "samp_mix" -> ((s, dir) => {
      val mixed = Sampling.quotaMix(t(s, dir, "documents"),
        col("source"), col("doc_id"),
        Map("web" -> 400, "wiki" -> 300, "books" -> 200), defaultQuota = 100)
      mixed.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("source"))
    }),

    // Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    // the exponential-race form): each doc draws u from its content hash
    // and races with key −ln(u)/w; the k smallest keys are a weighted
    // sample without replacement — longer docs (w = n_chars) win
    // proportionally more often, yet the draw is fully deterministic and
    // engine-replayable (md5-derived u, the hashSample reproducibility
    // contract). One narrow projection + a TakeOrdered top-k: no
    // shuffle beyond the k-row heap merge, stable under re-sharding —
    // the standard way to take "a 100-doc sample weighted by length /
    // quality score" out of a 100 TB corpus in one pass.
    "samp_weighted_es" -> ((s, dir) => {
      val u = (graft.functions.Md5Prefix(col("text"), 0, 15)
        .cast("double") + lit(1.0)) / lit(1152921504606846976.0)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          round(-log(u) / col("n_chars"), 12).as("es_key"))
        .orderBy(col("es_key"), col("doc_id"))
        .limit(100)
    }),

    // Stratified sampling: rank-decile strata over doc length, then the
    // content-hash Bernoulli keep INSIDE each stratum — "sample 1/16
    // uniformly from every length decile" (keeps the curated set's
    // length distribution instead of letting a global sample drift
    // toward the bulk). Ranks come from Sampling.globalRank (range
    // shards + per-shard offsets — no corpus-wide single-partition
    // window); the decile is pure arithmetic on (rank, N); the keep is
    // the engine-portable md5 threshold. Fully hash-oracled.
    "samp_stratified" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ranked = Sampling.globalRank(
        docs.select(col("doc_id"), col("n_chars"), col("text")),
        Seq(col("n_chars").asc, col("doc_id").asc))
      val tot = docs.agg(count(lit(1)).as("n_total"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("decile", floor(((col("rank") - 1) * 10).cast("double")
          / col("n_total")).cast("int"))
        .withColumn("kept", Sampling.hashSample(col("text"), "1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("decile"))
    }),

    // Deterministic per-group random sample: the 5 docs per source with
    // the smallest md5(doc_id) — a reproducible, engine-portable
    // "uniform 5 per domain" (eval subsets, per-source spot checks).
    // samp_mix is the first-N-by-id sibling; ordering by the hash makes
    // this one uniform-at-random yet still replayable. The window sorts
    // WITHIN source partitions only (groups are the parallel unit, k is
    // constant); when one group dominates, the bounded-buffer form is
    // Sampling.quotaMixBounded's SmallestIds shape keyed by the hash.
    "samp_pergroup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy(col("source"), col("rk"))
    }),

    // Cross-source overlap matrix: exact Jaccard between the distinct
    // 3-gram sets of every source pair — "how much does wiki duplicate
    // web" before mixing. Grams travel as 64-bit hashes; the distinct
    // (source, gram) set is one shuffle, and the self-join fan-out per
    // gram is bounded by the number of sources (few, by definition) —
    // n_sources² rows per gram worst case, never corpus-quadratic.
    "dd_source_overlap" -> ((s, dir) => {
      import graft.text.TextFunctions
      // fused native window hashes (bit-identical swap; \u001F separator
      // = the oracle's chr(31) and the Decontaminate.gramHashes
      // convention: token boundaries stay unambiguous — ["ab","c"] never
      // collides with ["a","bc"]); per-doc array_distinct unchanged
      val grams = t(s, dir, "documents")
        .select(col("source"), explode(array_distinct(
          graft.functions.TokenWindows(col("text"), 3))).as("g"))
        .distinct()
      val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = grams.as("x").join(grams.as("y"),
          col("x.g") === col("y.g") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
        .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
        .select(col("source_a"), col("source_b"), col("n_inter"),
          (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
            .as("jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Temperature-weighted sampling: per-source keep rates as content-
    // hash thresholds (75% / 50% / 25% / 12.5% default) — the
    // "upsample high-quality sources, downsample the crawl" mixing step,
    // fully deterministic and engine-reproducible. Per-source audit
    // output: docs seen, docs kept, achieved rate.
    "samp_temperature" -> ((s, dir) => {
      val kept = Sampling.weightedSample(col("text"), col("source"),
        Map("src0" -> "c0", "src1" -> "80", "src2" -> "40"),
        defaultHex = "20")
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(kept, 1)).as("n_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 4).as("rate"))
        .orderBy(col("source"))
    }),

    // Token-length histogram in width-32 buckets — the corpus length
    // profile that drives chunking/packing decisions.
    "tx_length_hist" -> ((s, dir) => {
      val withToks = t(s, dir, "documents")
        .select(graft.text.TextFunctions.wsTokenCount(col("text")).as("n_toks"))
      Sampling.linearHistogram(withToks, col("n_toks"), width = 32)
        .orderBy(col("bucket"))
    }),

    // Temperature-scaled domain mixture weights (the multilingual /
    // multi-domain mixing rule: sample source s with probability
    // ∝ share_s^α, α = 0.5) plus the effective epoch count each source
    // runs at under a fixed token budget — THE numbers a training run
    // reads off the corpus before building its sampler. Per-source token
    // totals are one counts-only aggregate; the corpus total and the
    // normalizer are 1-row broadcasts; everything after is arithmetic on
    // |sources| rows. Determinism discipline: the α-power terms are
    // rounded then DECIMAL-summed (order-independent), so both engines
    // derive the identical normalizer and every weight hash-matches.
    "tx_mix_weights" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val budget = 1000000L // planned run size, in tokens
      val per = t(s, dir, "documents")
        .select(col("source"),
          graft.text.TextFunctions.wsTokenCount(col("text")).cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("t_tokens"))
      val sc = per.crossJoin(broadcast(tot))
        .withColumn("share", col("n_tokens").cast("double") / col("t_tokens"))
        .withColumn("sq", round(sqrt(col("share")), 12))
      val denom = sc.agg(
        sum(col("sq").cast(DecimalType(28, 12))).cast("double").as("denom"))
      sc.crossJoin(broadcast(denom))
        .select(col("source"), col("n_tokens"),
          round(col("share"), 9).as("share"),
          round(col("sq") / col("denom"), 9).as("weight"),
          round(col("sq") / col("denom") * lit(budget.toDouble) / col("n_tokens"), 6)
            .as("epochs"))
        .orderBy(col("source"))
    }),

    // Corpus snapshot diff — the data-versioning audit between two
    // releases: per doc, added / removed / changed by content hash
    // (unchanged docs are dropped — at 100 TB they are ~all of the
    // corpus and nobody lists them). v2 is derived deterministically
    // from v1 (doc_id % 13 removed, % 10 edited, ids < 50 re-added
    // under new ids), so both engines build identical snapshots. Shape:
    // content hashes are row-local maps; the diff is ONE full-outer
    // join on the snapshot key — co-partitioned (exchange-free) when
    // both snapshots are bucketed by id, the j14 discipline; nothing
    // compares text bytes across the wire, only 16-byte digests.
    "dd_snapshot_diff" -> ((s, dir) => {
      val v1 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" EDITED")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val a = v1.select(col("doc_id"), md5(col("text")).as("h1"))
      val b = v2.select(col("doc_id"), md5(col("text")).as("h2"))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h2").isNull, "removed")
            .when(col("h1").isNull, "added")
            .when(col("h1") =!= col("h2"), "changed"))
        .filter(col("status").isNotNull)
        .select(col("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    }),

    // Distinct-n diversity profile per source (the generation-diversity
    // metric): for n = 1,2,3, total gram occurrences, distinct grams,
    // and the distinct ratio. Counts-only shuffles; grams travel as
    // strings here so the DISTINCT count is definitionally exact for the
    // oracle — the 100 TB form swaps countDistinct for
    // approx_count_distinct (HLL++, fixed-size mergeable sketch) and
    // hashes grams to 64-bit first, the tx_vocab precedent.
    "tx_distinct_ngrams" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // fused native window strings (bit-identical swap, U+001F separator
      // = the oracle's chr(31); short docs explode to nothing). Kept as
      // three per-n passes: the approx sibling's tagged single-scan was
      // MEASURED SLOWER here (1.43 → 1.65 s isolated) — this row's cost
      // is the COUNT(DISTINCT string) exchange, not the tokenize, and
      // the tagged explode triples the rows of the one distinct-partial
      // stage while saving only the cheap kernel scans.
      def profile(n: Int): DataFrame = docs
        .select(col("source"), explode(
          graft.functions.TokenWindows.stringsCol(col("text"), n)).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("total"), countDistinct(col("g")).as("n_distinct"))
        .select(col("source"), lit(n).as("n"), col("total"), col("n_distinct"),
          round(col("n_distinct").cast("double") / col("total"), 6).as("distinct_ratio"))
      profile(1).unionByName(profile(2)).unionByName(profile(3))
        .orderBy(col("source"), col("n"))
    }),

    // The 100 TB form of the diversity profile — the HEADLINE row; the
    // exact-DISTINCT sibling above is the correctness anchor. Grams are
    // hashed to 64-bit BEFORE aggregation (8-byte rows in the shuffle,
    // not arbitrary-length strings) and the distinct count is
    // approx_count_distinct (HLL++, rsd 1%): a fixed-size mergeable
    // sketch per (source, n) group, so the map-side partials are
    // KB-sized regardless of corpus size — the exact form's
    // COUNT(DISTINCT string) instead shuffles every unique gram. No SQL
    // oracle (DuckDB's HLL is a different implementation); correctness
    // is anchored by the exact sibling: Verify records the measured
    // relative error per round (verify_recall.json) and
    // ScaleGuardSpec pins the bound.
    "tx_distinct_ngrams_approx" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // ONE corpus pass for all three widths: per width the 64-bit
      // window hashes are bit-identical to the per-n kernel, and each
      // (source, n) group's HLL++ sketch aggregates exactly the same hash
      // multiset as the old per-n pass — so even this row's ESTIMATES are
      // unchanged.
      // The previous form scanned and tokenized the corpus three times.
      docs
        .select(col("source"), explode(
          graft.functions.TokenWindows.taggedCol(col("text"), Seq(1, 2, 3))).as("w"))
        .groupBy(col("source"), col("w.n").as("n"))
        .agg(count(lit(1)).as("total"),
          approx_count_distinct(col("w.h"), 0.01).as("n_distinct_approx"))
        .select(col("source"), col("n"), col("total"),
          col("n_distinct_approx"),
          round(col("n_distinct_approx").cast("double") / col("total"), 6)
            .as("distinct_ratio_approx"))
        .orderBy(col("source"), col("n"))
    })
  )

  /** Shared by dd_decontaminate and dd_decontaminate_bloom: the Bloom
    * path is sketch-then-verify, so its OUTPUT is defined to be
    * identical — same oracle proves it. */
  private[qsets] val decontaminateSql =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
       |  FROM toks),
       |bench AS (
       |  SELECT DISTINCT array_to_string(t[i:i+2], chr(31)) AS g
       |  FROM pos WHERE doc_id % $BENCH_MOD = 0),
       |corp AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], chr(31)) AS g
       |  FROM pos WHERE doc_id % $BENCH_MOD <> 0)
       |SELECT doc_id, COUNT(*) AS n_hits
       |FROM corp JOIN bench USING (g)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "dd_decontaminate" -> decontaminateSql,

    "dd_decontaminate_bloom" -> decontaminateSql,

    "dd_scrub_spans" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
         |  FROM documents WHERE doc_id % $BENCH_MOD <> 0),
         |bench AS (
         |  SELECT DISTINCT array_to_string(t[i:i+2], chr(31)) AS g
         |  FROM (SELECT t, unnest(generate_series(1, len(t) - 2)) AS i
         |        FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS t
         |              FROM documents WHERE doc_id % $BENCH_MOD = 0)
         |        WHERE len(t) >= 3)),
         |wins AS (
         |  SELECT doc_id, i, array_to_string(t[i:i+2], chr(31)) AS g
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
         |        FROM corpus WHERE len(t) >= 3)),
         |cov AS (
         |  SELECT DISTINCT doc_id, ti
         |  FROM (SELECT doc_id, unnest(generate_series(i, i + 2)) AS ti
         |        FROM wins JOIN bench USING (g))),
         |toks AS (
         |  SELECT doc_id, ti, t[ti] AS tok
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS ti
         |        FROM corpus)),
         |kept AS (
         |  SELECT doc_id, ti, tok FROM toks
         |  ANTI JOIN cov USING (doc_id, ti)),
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY ti) AS cleaned
         |  FROM kept GROUP BY doc_id)
         |SELECT c.doc_id, CAST(len(c.t) AS BIGINT) AS n_toks,
         |  COALESCE(agg.n_kept, 0) AS n_kept,
         |  CAST(len(c.t) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(agg.cleaned, '') AS cleaned
         |FROM corpus c LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "samp_hash" ->
      """SELECT doc_id, source
        |FROM documents
        |WHERE substr(md5(text), 1, 1) < '2'
        |ORDER BY doc_id""".stripMargin,

    // The selection contract directly: running token sum over the
    // (n_tok DESC, doc_id) order, keep while <= budget.
    "samp_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY n_tok DESC, doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS run
        |  FROM d)
        |SELECT doc_id, n_tok FROM r WHERE run <= 100000
        |ORDER BY doc_id""".stripMargin,

    "samp_split_leakfree" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |cl AS (
        |  SELECT md5(text) AS h, min(doc_id) AS cluster_id
        |  FROM batch GROUP BY 1)
        |SELECT b.doc_id, cl.cluster_id,
        |  CASE WHEN substr(md5(CAST(cl.cluster_id AS VARCHAR)), 1, 2) < 'cc'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(cl.cluster_id AS VARCHAR)), 1, 2) < 'e6'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM batch b JOIN cl ON md5(b.text) = cl.h
        |ORDER BY b.doc_id""".stripMargin,

    "samp_epoch_order" ->
      """SELECT
        |  CAST(row_number() OVER (
        |    ORDER BY md5('epoch7:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank,
        |  doc_id,
        |  md5('epoch7:' || CAST(doc_id AS VARCHAR)) AS h
        |FROM documents
        |ORDER BY rank""".stripMargin,

    // shard = running-token-sum-before // ceil(total/8) over the epoch
    // order — the window replay of the engine's distributed assignment
    "samp_shard_export" ->
      """WITH sized AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    md5('ep1:' || CAST(doc_id AS VARCHAR)) AS ek
        |  FROM documents),
        |tot AS (SELECT SUM(n_tok) AS total FROM sized),
        |binned AS (
        |  SELECT doc_id, n_tok, ek,
        |    CAST((SUM(n_tok) OVER (ORDER BY ek, doc_id) - n_tok)
        |      // ((total + 7) // 8) AS BIGINT) AS shard
        |  FROM sized CROSS JOIN tot)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(ek) AS min_ek, MAX(ek) AS max_ek,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS members_md5
        |FROM binned GROUP BY shard
        |ORDER BY shard""".stripMargin,

    "samp_mix" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, source FROM ranked
        |  WHERE rn <= CASE source WHEN 'web' THEN 400 WHEN 'wiki' THEN 300
        |    WHEN 'books' THEN 200 ELSE 100 END)
        |SELECT source, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM kept
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "samp_weighted_es" ->
      """SELECT doc_id, n_chars,
        |  round(-ln((CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
        |             + 1.0) / 1152921504606846976.0) / n_chars, 12) AS es_key
        |FROM documents
        |ORDER BY es_key, doc_id
        |LIMIT 100""".stripMargin,

    "samp_stratified" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars, text,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rank
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n_total FROM documents)
        |SELECT CAST(floor(CAST((rank - 1) * 10 AS DOUBLE) / n_total) AS INT) AS decile,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN substr(md5(text), 1, 1) < '1' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM r CROSS JOIN tot
        |GROUP BY 1
        |ORDER BY decile""".stripMargin,

    "samp_pergroup" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,

    "dd_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT source, array_to_string(t[i:i+2], chr(31)) AS g
        |  FROM (SELECT source, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM toks)),
        |sizes AS (SELECT source, COUNT(*) AS n FROM grams GROUP BY source),
        |inter AS (
        |  SELECT x.source AS source_a, y.source AS source_b, COUNT(*) AS n_inter
        |  FROM grams x JOIN grams y ON x.g = y.g AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_inter,
        |  CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = source_a
        |JOIN sizes sb ON sb.source = source_b
        |ORDER BY source_a, source_b""".stripMargin,

    "samp_temperature" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(*) FILTER (WHERE substr(md5(text), 1, 2) <
        |    CASE source WHEN 'src0' THEN 'c0' WHEN 'src1' THEN '80'
        |      WHEN 'src2' THEN '40' ELSE '20' END) AS n_kept,
        |  ROUND(CAST(COUNT(*) FILTER (WHERE substr(md5(text), 1, 2) <
        |    CASE source WHEN 'src0' THEN 'c0' WHEN 'src1' THEN '80'
        |      WHEN 'src2' THEN '40' ELSE '20' END) AS DOUBLE) / COUNT(*), 4)
        |    AS rate
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "tx_length_hist" ->
      """WITH toks AS (
        |  SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
        |  FROM documents)
        |SELECT CAST(FLOOR(n_toks / 32.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(MIN(n_toks) AS BIGINT) AS lo, CAST(MAX(n_toks) AS BIGINT) AS hi
        |FROM toks
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,

    "tx_mix_weights" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT SUM(n_tokens) AS t_tokens FROM per),
        |sc AS (
        |  SELECT source, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / t_tokens AS share,
        |    round(sqrt(CAST(n_tokens AS DOUBLE) / t_tokens), 12) AS sq
        |  FROM per CROSS JOIN tot),
        |d AS (SELECT CAST(SUM(CAST(sq AS DECIMAL(28,12))) AS DOUBLE) AS denom
        |      FROM sc)
        |SELECT source, n_tokens, round(share, 9) AS share,
        |  round(sq / denom, 9) AS weight,
        |  round(sq / denom * 1000000.0 / n_tokens, 6) AS epochs
        |FROM sc CROSS JOIN d
        |ORDER BY source""".stripMargin,

    "dd_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' EDITED' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50),
        |j AS (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN md5(a.text) <> md5(b.text) THEN 'changed' END AS status
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status FROM j
        |WHERE status IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "tx_distinct_ngrams" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT source, n, array_to_string(t[i:i+n-1], chr(31)) AS g
        |  FROM (
        |    SELECT source, t, n, unnest(generate_series(1, len(t) - (n - 1))) AS i
        |    FROM toks CROSS JOIN (SELECT unnest([1, 2, 3]) AS n)
        |    WHERE len(t) >= n))
        |SELECT source, n, COUNT(*) AS total,
        |  COUNT(DISTINCT g) AS n_distinct,
        |  round(CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 6) AS distinct_ratio
        |FROM grams
        |GROUP BY source, n
        |ORDER BY source, n""".stripMargin
  )
}
