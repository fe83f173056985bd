package graft.qsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.TextFunctions._

/** Text-analysis queries over the `documents` table: token counting,
  * quality scoring, language-ID, fingerprinting. All oracle-checked. */
object TextQueries extends QuerySet {

  private val stops = Seq("the", "a", "of")

  /** The quality composite — ONE definition shared by tx_quality and
    * pipe_curate so the formula cannot drift between the stage query and
    * the composed pipeline. Components are passed in because tx_quality
    * materializes them as output columns while pipe_curate computes them
    * inline. */
  private def qualityComposite(len: Column, stopRatio: Column,
                               punctCnt: Column): Column =
    least(len / 500.0, lit(1.0)) * 0.4 +
      least(stopRatio * 5.0, lit(1.0)) * 0.4 +
      (lit(1.0) - least(punctCnt / len * 10.0, lit(1.0))) * 0.2

  /** 40/8 chunking to per-chunk token counts with an 8-way shard key —
    * the shared front half of tx_pack_sequences and pipe_curate. */
  private def chunkCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(chunkTokens(col("toks"), maxTokens = 40, overlap = 8)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        wsTokenCount(col("col")).as("n_tok"))
      .withColumn("shard", col("doc_id") % 8)

  /** Offset-based 512-token bin packing per shard (see tx_pack_sequences
    * for why packing shards instead of a global greedy fold). */
  private def packBins(chunks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("doc_id"), col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("bin", floor((sum(col("n_tok")).over(w) - col("n_tok")) / 512))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("bin_tokens"))
      .orderBy(col("shard"), col("bin"))
  }

  /** Per-doc corpus-bigram-LM scores — ONE definition shared by
    * tx_lm_score and tx_ppl_buckets so the LM cannot drift between the
    * scoring row and the bucketing stage. `riders` are columns carried
    * through the per-doc aggregate as functionally-dependent grouping
    * keys (the BM25-dl discipline: same key cardinality, zero extra
    * shuffle). Counts ride xxhash64 bigram keys, not strings — the
    * corpus-scale shuffles carry 16 bytes per row. */
  private def lmScores(docs: DataFrame, riders: Seq[String]): DataFrame = {
    val keys = (Seq("doc_id") ++ riders).map(col)
    // fused native bigram hashes — bit-identical to the wsTokens →
    // transform/struct → xxhash64(w1), xxhash64(w1, w2) chain it
    // replaced (multi-arg xxhash64 seeds w2's hash with w1's, so the
    // kernel hashes each token once and reuses it as the pair seed);
    // texts under two tokens explode to nothing, folding in the filter
    val bi = docs
      .select(keys :+ explode(
        graft.functions.TokenWindows.bigramHashesCol(col("text"))).as("b"): _*)
      .select(keys :+ col("b.h1").as("h1") :+ col("b.h12").as("h12"): _*)
    val c2 = bi.groupBy(col("h1"), col("h12")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("h1")).agg(sum(col("c2")).as("c1"))
    bi.join(c2.join(c1, "h1"), Seq("h1", "h12"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2(col("c2").cast("double") / col("c1"))), 4)
          .as("lm_score"))
  }

  /** The fitted DSIR weight frame (a [[Tables.artifact]]) that tx_dsir
    * and samp_dsir_topk resample (st14 builds the collected literal form
    * separately); at sf10 the fit is ~23 s and the resampling read is
    * sub-second. */
  private val dsirWeights = Tables.artifact("tx_dsir_weights")((s, dir) =>
    graft.text.Dsir.importanceWeights(t(s, dir, "documents"),
        "doc_id", "text", targetPred = col("lang") === "en")
      .localCheckpoint(eager = true))

  /** The postings index over `documents` (a [[Tables.artifact]]) that
    * tx_phrase_indexed and tx_bm25_multiquery query; tx_bm25_incremental
    * builds its own, because ingest IS that row's contract. */
  private val postingsIdx = Tables.artifact("tx_postings")((s, dir) => {
    val idx = Tables.scratch(s, dir, "postings_shared") + "/index"
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val docs = t(s, dir, "documents")
    for (b <- 0L to 2L)
      graft.text.PostingsIndex.addBatch(
        docs.filter(pmod(col("doc_id"), lit(3)) === b),
        "doc_id", "text", idx, batchId = b)
    idx
  })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting: whitespace + BPE-ish regex grain.
    // Both counts in one native byte scan (TokenCounts — the composable
    // form pays a split materialization plus a regexp_count engine per
    // document; equivalence incl. split's limit=-1 edges pinned in
    // CurationSpec).
    "tx_token_counts" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TokenCounts(col("text")).as("tc"))
        .select(col("doc_id"),
          col("tc.n_ws").as("n_ws"),
          col("tc.n_bpe").as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length/stopword/punctuation heuristics. All four
    // counters come from ONE native byte scan (TextQualityStats — the
    // composable regex/HOF form paid three regex engines plus an
    // interpreted projection per document and was the slowest sf10 row;
    // equivalence including split's empty-token edges pinned in
    // CurationSpec). Ratio arithmetic is unchanged, so the oracle hash
    // is identical.
    "tx_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextQualityStats(col("text"), stops).as("ts"),
          length(col("text")).cast("double").as("__len"))
        .select(col("doc_id"),
          col("ts.n_tokens").as("n_tokens"),
          (col("ts.nonws_chars").cast("double") / col("ts.n_tokens"))
            .as("avg_tok_len"),
          (col("ts.stop_hits").cast("double") / col("ts.n_tokens"))
            .as("stop_ratio"),
          col("ts.punct_cnt").as("punct_cnt"),
          col("__len"))
        .select(col("doc_id"), col("n_tokens"), col("avg_tok_len"),
          col("stop_ratio"), col("punct_cnt"),
          qualityComposite(col("__len"), col("stop_ratio"), col("punct_cnt"))
            .as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID: marker-word votes + deterministic argmax, compared
    // against the declared lang column.
    "tx_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        col("lang").as("declared"),
        langScore(col("text"), Seq("the", "a", "of")).as("score_en"),
        langScore(col("text"), Seq("la", "el", "de")).as("score_es"),
        langScore(col("text"), Seq("der", "und", "die")).as("score_de"),
        langPredict(col("text")).as("predicted"))
        .orderBy(col("doc_id"))
    }),

    // Multinomial Naive Bayes classifier, fit AND scored in-plan — the
    // trainable sibling of tx_langid's fixed marker heuristic (the
    // fastText-style "train a cheap classifier on labeled docs, score
    // the rest" step real curation pipelines run for language/quality/
    // domain gates). Fit is pure aggregation: per-(label, token)
    // occurrence counts, per-label token totals, vocabulary size and
    // document priors over the doc_id%5≠0 training split. Scoring the
    // held-out split is explode → ×|labels| expand (bounded: labels is
    // a broadcast handful) → one shuffle join against the count table
    // on (label, token) → per-(doc, label) sum of Laplace-smoothed
    // rounded log-likelihoods as DECIMAL(18,6) (order-independent, the
    // engine-parity discipline) + log prior, argmax by a per-doc window
    // over |labels| rows. Everything is counts and logs, so DuckDB
    // replays fit → score → argmax end to end: FULL hash oracle. (On
    // this synthetic corpus the 31-word vocab carries little real lang
    // signal — predictions mostly follow the prior; the row pins the
    // fit/score machinery, not model quality.) At scale: the count
    // table is (vocab×labels) rows — the only shuffle the score side
    // pays; nothing is per-pair and no state is driver-side.
    "tx_nb_classify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.NaiveBayes.fitScore(
          train = docs.filter(col("doc_id") % 5 =!= 0),
          test = docs.filter(col("doc_id") % 5 === 0),
          labelCol = "lang", idCol = "doc_id", textCol = "text")
        .orderBy(col("doc_id"))
    }),

    // Repetition quality signals (Gopher-style): duplicate-sentence
    // fraction and most-frequent-token fraction.
    // All four repetition counters from one native pass (RepetitionStats
    // — the composable form materializes and sorts a token array per
    // document, and its aggregate HOF drops out of codegen; the ratio
    // arithmetic stays in Column space so the oracle doubles are
    // bit-unchanged; equivalence pinned in CurationSpec).
    "tx_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.RepetitionStats(col("text")).as("rs"))
        .select(col("doc_id"),
          (col("rs.n_sents") - col("rs.n_distinct_sents")).cast("double")
            ./(col("rs.n_sents")).as("dup_sentence_ratio"),
          col("rs.max_tok_count").cast("double")
            ./(col("rs.n_toks")).as("top_token_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Context-window chunking: 40-token chunks, 8-token overlap; chunk
    // count, sizes, and content all hash-compared.
    // Content-defined chunking: boundaries fall where the md5 of the
    // trailing 3-token window ≡ 0 mod 8 (pure local content, so an
    // insertion re-synchronizes at the next cut — the property fixed
    // chunking lacks; unit-pinned). Chunk fingerprints dedup ACROSS the
    // corpus: per doc, how many of its chunks also appear in another
    // document — the chunk-granularity dedup signal a storage system or
    // passage-level corpus dedup runs. Fingerprints travel as md5;
    // the per-fp document count is one hashed aggregation.
    "tx_cdc_chunks" -> ((s, dir) => {
      import graft.text.TextFunctions
      val ex = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(TextFunctions.cdcChunkFingerprints(col("toks"))).as("fp"))
      val docsPerFp = ex.groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
      ex.join(docsPerFp, "fp")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
        .orderBy(col("doc_id"))
    }),

    "tx_chunk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), wsTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(chunkTokens(col("toks"), maxTokens = 40, overlap = 8)))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          wsTokenCount(col("col")).as("n_chunk_tokens"),
          sha2(col("col"), 256).as("chunk_sha"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Sequence packing: chunks are assigned to fixed 512-token bins by
    // running-token-offset within a shard (offset-based packing — the
    // distributed-friendly form; a global greedy first-fit would be a
    // sequential fold). The cumulative window sum partitions by shard so
    // packing parallelizes; production shards are the output files.
    "tx_pack_sequences" -> ((s, dir) =>
      packBins(chunkCounts(t(s, dir, "documents").select(col("doc_id"), col("text"))))),

    // Corpus n-gram stats: top-50 bigrams by frequency over a bounded
    // subset (count desc, gram asc for determinism).
    "tx_top_bigrams" -> ((s, dir) => {
      val grams = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(wsTokens(col("text")).as("toks"))
        .select(explode(shinglesFromTokens(col("toks"), 2)).as("gram"))
      grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(50)
    }),

    // End-to-end curation pipeline — the composed form a training-data
    // run actually executes: quality gate (tx_quality formula) → exact
    // dedup first-id-wins over a doubled batch with planted duplicates →
    // chunk 40/8 → pack into 512-token bins per shard. Every stage is
    // SQL-expressible, so one oracle row checks the whole chain: a break
    // in any stage (threshold drift, dedup order, chunk boundary, bin
    // arithmetic) shifts the final bin stats.
    "pipe_curate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = d.union(d.withColumn("doc_id", col("doc_id") + 1000000L))
      val scored = docs
        .select(col("doc_id"), col("text"),
          graft.functions.TextQualityStats(col("text"), stops).as("ts"))
        .select(col("doc_id"), col("text"),
          qualityComposite(
            length(col("text")).cast("double"),
            col("ts.stop_hits").cast("double") / col("ts.n_tokens"),
            col("ts.punct_cnt").cast("double")).as("quality"))
      val kept = scored.filter(col("quality") >= 0.5)
        .select(col("doc_id"), col("text"))
      val deduped = graft.dedup.Dedup
        .exactDedup(kept, "doc_id", Seq(col("text")))
      packBins(chunkCounts(deduped.select(col("doc_id"), col("text"))))
    }),

    // Drop-reason accounting for the curation pipeline — the audit
    // surface every production run needs: every doc gets exactly one
    // fate (low_quality | duplicate | kept), counted per source. Shares
    // pipe_curate's quality formula and first-wins dedup so the fates
    // reconcile exactly with the pipeline's kept set; the winner pick is
    // the same min_by hash-aggregate shape as A10 (ids only through the
    // join back, documents never shuffled twice).
    "pipe_fates" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val docs = d.union(d.withColumn("doc_id", col("doc_id") + 1000000L))
      val scored = docs
        .select(col("doc_id"), col("source"), col("text"),
          graft.functions.TextQualityStats(col("text"), stops).as("ts"))
        .select(col("doc_id"), col("source"), col("text"),
          qualityComposite(
            length(col("text")).cast("double"),
            col("ts.stop_hits").cast("double") / col("ts.n_tokens"),
            col("ts.punct_cnt").cast("double")).as("quality"))
      val winners = scored.filter(col("quality") >= 0.5)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("win_id"))
        .select(col("win_id"))
      scored
        .join(winners, col("doc_id") === col("win_id"), "left_outer")
        .select(col("source"),
          when(col("quality") < 0.5, lit("low_quality"))
            .when(col("win_id").isNull, lit("duplicate"))
            .otherwise(lit("kept")).as("fate"))
        .groupBy(col("source"), col("fate"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("fate"))
    }),

    // PII redaction: emails and long digit runs planted per doc, scrubbed
    // to typed tags; residual count must be zero and the redacted text
    // hash-compares across engines. Count, redact, and residual-verify
    // run in ONE native expression (PiiRedact — the regexp_* form paid
    // four backtracking-regex passes per document and was the slowest
    // non-index sf10 row; byte-equivalence pinned in CurationSpec).
    "tx_pii_redact" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or call 555123"), col("doc_id")).as("ptext"))
      planted.select(
          col("doc_id"),
          graft.functions.PiiRedact(col("ptext")).as("p"))
        .select(col("doc_id"),
          col("p.emails_found").as("emails_found"),
          col("p.residual").as("residual"),
          sha2(col("p.clean"), 256).as("clean_sha"))
        .orderBy(col("doc_id"))
    }),

    // Order-insensitive document fingerprint (sorted distinct token sha).
    "tx_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Token-unigram Shannon entropy per doc — the information-density
    // quality signal (low entropy = repetitive/boilerplate). One explode
    // + two hash aggregations, all map-side combinable; H = log2(n) −
    // (Σ c·log2 c)/n so only per-token COUNTS are aggregated, never
    // probabilities (no per-row division before the combine). Rounded to
    // 4 decimals: both engines sum doubles in different orders, and the
    // formula's ~1e-15 noise must not flip an output digit.
    "tx_entropy" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"),
          sum(col("c").cast("double") * log2(col("c"))).as("clc"))
        .select(col("doc_id"), col("n"),
          round(log2(col("n")) - col("clc") / col("n"), 4).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary size per source — exact COUNT(DISTINCT token). At 100 TB
    // the same query swaps in approx_count_distinct (HLL++, fixed-size
    // sketch, map-side mergeable) — the exact form here is the oracle
    // anchor; the approx-vs-exact error bound is unit-pinned.
    "tx_vocab" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), explode(wsTokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(countDistinct(col("tok")).as("vocab"),
          count(lit(1)).as("n_tokens"))
        .orderBy(col("source"))
    }),

    // Corpus heavy hitters via the bounded Misra-Gries sketch: top-20
    // tokens with O(m) state per task — the 100 TB form of "what are the
    // most common tokens" (a full groupBy(token) shuffles the whole
    // token stream; the sketch ships at most m counters per task).
    // Capacity 4096 exceeds the synthetic vocabulary, so counts are
    // EXACT here and the DuckDB oracle hash-compares; the under-capacity
    // error bound is unit-pinned in ScaleGuardSpec.
    "tx_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(explode(wsTokens(col("text"))).as("tok"))
        .as[String]
        .select(graft.text.HeavyHitters.sketch(4096).name("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e._1").as("tok"), col("e._2").as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    }),

    // Corpus-frequency boilerplate profile (C4/CCNet-style): a 3-gram
    // present in >= 5 distinct docs is "boilerplate"; each doc reports how
    // much of its distinct-gram set is boilerplate — the filter signal for
    // stripping templated content before training. Scale shape: grams
    // travel as xxhash64 (8 bytes). The gram stream is produced TWICE
    // (document-frequency aggregate + join probe) — deliberate: the
    // exploded stream is ~tokens×16 B, far larger than the text it came
    // from, so re-running the fused scan+tokenize beats persisting it at
    // corpus scale (an agg exchange carries partial rows and can never be
    // reused as a join-probe exchange anyway). The DF table is
    // vocabulary-sized: AQE broadcasts it here and falls back to a
    // shuffled join (with skew splitting) when it outgrows broadcast. The
    // DF threshold is an absolute doc count (the production knob), not a
    // corpus fraction.
    "tx_boiler_grams" -> ((s, dir) => {
      // fused native window hashes over the SPACE-joined 3-grams — the
      // same xxhash64 values shinglesFromTokens → xxhash64 produced; the
      // per-doc distinct moves from gram strings to their 64-bit hashes
      // (equal up to intra-doc hash collisions, ~T²·2⁻⁶⁵ per doc — the
      // HashedShingles set-semantics precedent; oracle re-verified)
      val g = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.TokenWindows(col("text"), 3, ' '.toByte))).as("h"))
      val df = g.groupBy(col("h")).agg(count(lit(1)).as("df"))
      g.join(df, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("df") >= 5, 1)).as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          round(col("n_boiler").cast("double") / col("n_grams"), 4)
            .as("boiler_frac"))
        .orderBy(col("doc_id"))
    }),

    // Corpus bigram-LM quality score (KenLM-proxy): each doc's mean
    // log2 P(w2|w1) under the corpus's own bigram counts — low scores mark
    // improbable token sequences (mojibake, shuffled text), the classic
    // perplexity filter. Scale shape: the prefix counts c1 derive from the
    // bigram counts c2 by a second aggregation over the TINY vocabulary
    // table (sum over w2), never a second corpus-wide aggregation; the
    // bigram stream is produced twice (count pass + score probe) for the
    // same persist-vs-recompute reason as tx_boiler_grams; both count
    // tables broadcast under AQE, degrading to shuffled joins with skew
    // splitting when the vocabulary outgrows broadcast (hot prefixes like
    // "the" are exactly the AQE skew-split case).
    "tx_lm_score" -> ((s, dir) =>
      lmScores(t(s, dir, "documents"), riders = Nil).orderBy(col("doc_id"))),

    // CCNet-style perplexity bucketing (Wenzek et al. 1911.00359): per
    // SOURCE, rank documents by the corpus bigram-LM score and split
    // into head/middle/tail terciles — the filter stage that keeps
    // head+middle for training. NTILE is integer math over a
    // deterministic (lm_score desc, doc_id) order, so there is no
    // float-cutoff parity risk; the per-source rank is the one
    // corpus-ordering step (a range-partitioned sort per source at
    // scale — the sampled-cutoff variant that replaces it at 100× is
    // the tx_distinct_ngrams_approx precedent, trading the sort for a
    // broadcast threshold compare).
    "tx_ppl_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lm = lmScores(t(s, dir, "documents"), riders = Seq("source"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("lm_score").desc, col("doc_id"))
      lm.withColumn("nt", ntile(3).over(w))
        .select(col("doc_id"), col("source"), col("n_bigrams"), col("lm_score"),
          when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // The 100 TB form of the tercile split (the sampled-cutoff variant
    // the exact row's plan note promises): cutoffs are exact percentiles
    // OF A DETERMINISTIC 25% md5 HASH-SAMPLE per source (a bounded
    // aggregate), broadcast onto a stateless projection — no per-source
    // corpus sort anywhere. Everything is engine-portable (hash draw,
    // R-7 interpolation on rounded-4 scores, cutoffs rounded 6), so
    // unlike the HLL diversity sibling this row carries a FULL hash
    // oracle; bucket agreement vs the exact terciles is the measured
    // approximation quality, recorded per round in verify_recall.json.
    // (A source with an empty sample would drop from the inner cutoff
    // join — production enforces a per-source minimum quota; every
    // source draws ≥ 4 docs in this corpus.)
    "tx_ppl_buckets_approx" -> ((s, dir) => {
      // per-doc scores checkpointed once — shared by the sample
      // aggregate and the assignment (doc-count-sized, never corpus)
      val lm = lmScores(t(s, dir, "documents"), riders = Seq("source"))
        .localCheckpoint(eager = true)
      val cut = lm
        .filter(md5(concat(lit("ppl:"), col("doc_id").cast("string"))) < "4")
        .groupBy(col("source"))
        .agg(round(expr("percentile(lm_score, cast(1 as double)/3)"), 6).as("q13"),
          round(expr("percentile(lm_score, cast(2 as double)/3)"), 6).as("q23"))
      lm.join(broadcast(cut), "source")
        .select(col("doc_id"), col("source"), col("lm_score"),
          when(col("lm_score") >= col("q23"), "head")
            .when(col("lm_score") >= col("q13"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Per-doc TF-IDF keyword extraction — the topic-tagging primitive
    // (domain labeling, cluster naming, dedup-cluster summaries). Two
    // counts-only hash-aggregates: the (doc, term) tf frame and the
    // vocabulary df; the df join shuffles on term with AQE skew
    // handling (hot stopwords are exactly the skew-split case — their
    // idf ≈ 0 keeps them out of every top-3 anyway). The per-doc top-3
    // window partitions BY DOC — groups are the parallel unit, never a
    // single-partition sort.
    "tx_keyword_extract" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(dft, "term").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") *
          round(log(col("n_docs").cast("double") / col("df")), 6), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // Per-source KL divergence from the corpus token distribution — the
    // domain-shift diagnostic a mixing stage reads before setting
    // per-source weights ("how far is src3 from the blend"). No
    // smoothing needed: the corpus marginal dominates every source (a
    // source token always has corpus count ≥ its source count). All
    // shuffles carry (source, token) COUNTS, derived in one pass — the
    // corpus marginal re-aggregates the per-source counts rather than
    // re-scanning documents; terms rounded to 12 then decimal-summed so
    // the oracle hash-matches.
    "tx_source_kl" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val tok = t(s, dir, "documents")
        .select(col("source"), explode(wsTokens(col("text"))).as("w"))
      val st = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_st"))
      val ct = st.groupBy(col("w")).agg(sum(col("c_st")).as("c_t"))
      val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
      val n = ns.agg(sum(col("n_s")).as("n"))
      st.join(ct, "w").join(ns, "source").crossJoin(broadcast(n))
        .withColumn("term", round(
          (col("c_st").cast("double") / col("n_s")) *
            log2((col("c_st").cast("double") / col("n_s")) /
              (col("c_t").cast("double") / col("n"))), 12))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          round(sum(col("term").cast(DecimalType(28, 12))).cast("double"), 6)
            .as("kl"))
        .orderBy(col("source"))
    }),

    // PMI collocation mining: the bigrams whose joint probability most
    // exceeds independence — the phrase/vocab-curation signal (multi-word
    // expressions worth single tokens; boilerplate phrase detection).
    // pmi = log2((c12/n_bi) / ((c1/n_tok)·(c2/n_tok))), unigram counts
    // for the marginals, support floor c12 ≥ 5, top-50. Counts-only
    // shuffles (vocabulary-sized aggregates, never document-sized).
    // The FULL unigram table is vocabulary-sized (millions of rows at
    // 100 TB) and must never broadcast: the surviving c12 endpoints are
    // checkpointed once (support-floored → bounded), uni is semi-joined
    // down to those endpoints, and only that bounded marginal table
    // broadcasts. Top-k is a TakeOrdered.
    "tx_pmi_collocations" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), wsTokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nTok = uni.agg(sum(col("c")).as("n_tok"))
      val bi = toks.filter(size(col("t")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + lit(1)).as("w2")))).as("b"))
        .select(col("b.w1"), col("b.w2"))
      val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .localCheckpoint(eager = true)
      val ends = c12.select(col("w1").as("w"))
        .union(c12.select(col("w2").as("w"))).distinct()
      val uniF = uni.join(ends, Seq("w"), "left_semi")
      val nBi = bi.agg(count(lit(1)).as("n_bi"))
      c12
        .join(broadcast(uniF.select(col("w").as("w1"), col("c").as("c1"))), "w1")
        .join(broadcast(uniF.select(col("w").as("w2"), col("c").as("c2"))), "w2")
        .crossJoin(broadcast(nBi)).crossJoin(broadcast(nTok))
        .select(col("w1"), col("w2"), col("c12"),
          round(log2((col("c12").cast("double") / col("n_bi")) /
            ((col("c1").cast("double") / col("n_tok")) *
              (col("c2").cast("double") / col("n_tok")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)
    }),

    // BM25 ranked retrieval (graft.text.Retrieval): top-20 docs for a
    // fixed 5-term query. Postings are filtered to the query terms
    // BEFORE the (doc, term) shuffle; df and (N, avgdl) broadcast back;
    // the top-k is a TakeOrdered. Full hash oracle — idf, the k1/b
    // saturation and the decimal score sum replay exactly in DuckDB.
    "tx_bm25_topk" -> ((s, dir) => {
      graft.text.Retrieval.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text",
        terms = Seq("spark", "vector", "stream", "window", "hash"))
    }),

    // The INDEXED form of the same retrieval (graft.text.PostingsIndex):
    // three document batches tokenize once into a term-bucketed
    // persistent postings index (batch=<id>/tb=<bucket> layout, stats
    // sidecar), then the query answers from the index alone — the scan
    // prunes to the query terms' buckets via PARTITION filters before
    // any file opens, and N/avgdl come from the per-batch stats rows.
    // Shares tx_bm25_topk's oracle: a doc lives in exactly one batch, so
    // df and the corpus stats are exact over the union and the scoring
    // tail (Retrieval.scoreTopK) is the same arithmetic bit for bit.
    "tx_bm25_incremental" -> ((s, dir) => {
      import graft.text.PostingsIndex
      val idx = Tables.scratch(s, dir, "postings") + "/index"
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = t(s, dir, "documents")
      for (b <- 0L to 2L)
        PostingsIndex.addBatch(docs.filter(pmod(col("doc_id"), lit(3)) === b),
          "doc_id", "text", idx, batchId = b)
      PostingsIndex.query(s, idx,
        terms = Seq("spark", "vector", "stream", "window", "hash"))
    }),

    // The index LIFECYCLE row: ingest three batches, COMPACT the settled
    // ones (daily-ingest small-files control — batches 0,1 fold into one
    // consolidated batch=-1 partition, per-batch stats re-aggregated,
    // the live batch untouched), then answer from the compacted index.
    // Shares the scan oracle bit for bit: compaction unions postings and
    // sums stats, both order-independent, so df/N/avgdl and every score
    // are unchanged — and the consolidated write re-partitions by tb, so
    // query-time partition pruning survives (layout + answer pinned in
    // PostingsIndexSpec; the plan-level PartitionFilters pin runs against
    // THIS row's compacted directory).
    "tx_bm25_compacted" -> ((s, dir) => {
      import graft.text.PostingsIndex
      val idx = Tables.scratch(s, dir, "postings_compact") + "/index"
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = t(s, dir, "documents")
      for (b <- 0L to 2L)
        PostingsIndex.addBatch(docs.filter(pmod(col("doc_id"), lit(3)) === b),
          "doc_id", "text", idx, batchId = b)
      PostingsIndex.compactIndex(s, idx)
      PostingsIndex.query(s, idx,
        terms = Seq("spark", "vector", "stream", "window", "hash"))
    }),

    // Batched multi-query retrieval against the postingsIdx artifact —
    // the production shape (thousands of queries per pass): per-(doc,
    // term) BM25 weights computed ONCE over the union of all query
    // terms, the (q_id, term) table broadcast onto them, per-query
    // top-k via the bounded TopKByScore heap (map tasks ship ≤ k rows
    // per query — the per-group TakeOrdered, never a sorted window over
    // every candidate). Full hash oracle with the query table as VALUES.
    "tx_bm25_multiquery" -> ((s, dir) => {
      graft.text.PostingsIndex.multiQuery(s, postingsIdx(s, dir), Seq(
        0L -> Seq("spark", "vector"),
        1L -> Seq("stream", "window", "hash"),
        2L -> Seq("table", "sort", "merge")), topK = 10)
    }),

    // Exact phrase search from the POSITIONAL postings — the indexed
    // sibling of tx_phrase_search's corpus scan (same output contract,
    // same oracle): each term's position list shifts by its phrase
    // offset and the per-doc intersection yields phrase starts. Only
    // the phrase terms' buckets are read; the corpus text is never
    // touched at query time.
    "tx_phrase_indexed" -> ((s, dir) => {
      graft.text.PostingsIndex.phraseQuery(s, postingsIdx(s, dir),
        phrase = Seq("batch", "table"))
    }),

    // DSIR importance weights (graft.text.Dsir, Xie et al. 2302.03169):
    // target = lang 'en', raw = whole corpus, 512 md5-hashed bigram
    // buckets. Both LMs ride one bucket-grouped pass; the 512-row weight
    // table broadcasts to the scoring join. Full hash oracle — the md5
    // bucket hash, smoothing and decimal log-ratio sums are
    // engine-portable.
    "tx_dsir" -> ((s, dir) => dsirWeights(s, dir).orderBy(col("doc_id"))),

    // DSIR importance RESAMPLING — the selection step the weights exist
    // for (Xie et al. 2302.03169 §3: sample without replacement with
    // probability ∝ exp(log-ratio)). Efraimidis-Spirakis race in log
    // space: the ES key −ln(u)/exp(s) is rank-equivalent to
    // ln(−ln u) − s, which needs only ln — portable across engines
    // (the samp_weighted_es precedent; exp is avoided entirely, so no
    // cross-libm last-ulp risk enters the ordering). u derives from
    // md5("dsir:"||doc_id): deterministic, independent of the content
    // hash u used elsewhere. One projection over the weight frame + a
    // TakeOrdered top-k — the same one-pass shape as samp_weighted_es,
    // composed with the DSIR artifact.
    "samp_dsir_topk" -> ((s, dir) => {
      val u = (graft.functions.Md5Prefix(concat(lit("dsir:"),
          col("doc_id").cast("string")), 0, 15)
        .cast("double") + lit(1.0)) / lit(1152921504606846976.0)
      dsirWeights(s, dir)
        .select(col("doc_id"), col("dsir_weight"),
          round(log(-log(u)) - col("dsir_weight"), 9).as("es_key"))
        .orderBy(col("es_key"), col("doc_id"))
        .limit(100)
    }),

    // BPE tokenizer fit (Sennrich et al. 1508.07909): the first 3
    // merges over the corpus word-frequency table — vocabulary
    // construction as a query. One corpus-scale counts-only pass builds
    // (word, freq); each round is a pair-count aggregate over the
    // BOUNDED vocab table, a 1-row TakeOrdered winner, and a broadcast
    // pure-map merge application. DuckDB replays char-split → 3
    // unrolled count/pick/apply rounds exactly (replace() is
    // left-to-right non-overlapping in both engines — the standard
    // greedy BPE semantics), so every merge and its corpus count is
    // hash-checked.
    "tx_bpe_fit" -> ((s, dir) =>
      graft.text.Bpe.fitMerges(t(s, dir, "documents"), "text", rounds = 3)
        .orderBy(col("rank"))),

    // The APPLY half of the tokenizer story: corpus token counts under
    // the 3-merge fitted vocabulary, per source — whitespace tokens vs
    // BPE symbols and symbols-per-word, the number a token-budget
    // planner actually reads. The corpus text is touched once (the
    // (source, word) occurrence aggregate); the bounded (word → n_sym)
    // table from the fit broadcasts onto it. Oracle replays fit + apply
    // through the shared CTE prefix, so the two rows cannot drift.
    "tx_bpe_tokens" -> ((s, dir) =>
      graft.text.Bpe.tokenCounts(t(s, dir, "documents"), "text", "source",
          rounds = 3)
        .orderBy(col("source"))),

    // Exact phrase search — the positional-retrieval primitive (quote
    // lookup, benchmark-prompt probes, template mining). The phrase is a
    // QUERY-SIDE literal, so the scan is two codegen'd stages: a cheap
    // `contains` substring pre-filter over raw text (a superset of true
    // matches — any token-aligned hit IS a substring hit), then
    // adjacent-token verification on the candidates via slice/zip/
    // explode — everything whole-stage-codegen, and only MATCHED
    // positions reach the per-doc aggregate (tens of rows, not tokens).
    // A higher-order filter lambda would be the terser form, but Spark's
    // HOFs are CodegenFallback — interpreted per element — and
    // projection collapse re-evaluates the array thrice; this shape is
    // the one that survives a 100× corpus at scan speed. (The
    // indexed-corpus sibling — positional postings filtered to query
    // terms before a (doc, pos)-chained join — is the tx_bm25_topk
    // machinery; this is the scan side.)
    "tx_phrase_search" -> ((s, dir) => {
      val phrase = Seq("batch", "table")
      val L = phrase.length
      // scan-side pre-filter: rlike with \s+ between terms, NOT a
      // single-space contains — verification tokenizes on \s+, so a
      // tab/newline/multi-space-separated adjacent pair is a real hit
      // and must survive the filter
      val cand = t(s, dir, "documents")
        .filter(col("text").rlike(phrase.map(java.util.regex.Pattern.quote)
          .mkString("\\s+")))
        .select(col("doc_id"), wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= L)
      val zipped = cand.select(col("doc_id"), posexplode(arrays_zip(
        (0 until L).map(j =>
          slice(col("t"), lit(j + 1), size(col("t")) - (L - 1)).as(s"w$j")): _*)))
      phrase.zipWithIndex.map { case (term, j) =>
          col("col").getField(s"w$j") === lit(term)
        }.reduceLeft(_ && _) match { case hit =>
        zipped.filter(hit)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_hits"),
            (min(col("pos")) + 1).cast("long").as("first_pos"))
          .orderBy(col("doc_id"))
      }
    })
  )

  /** Okapi BM25 top-20 — the oracle shared verbatim by the corpus-scan
    * row (tx_bm25_topk), the postings-index row (tx_bm25_incremental),
    * and the streaming-ingest row (st17_stream_index), which must all
    * agree bit for bit. */
  private[qsets] val bm25Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
      |stats AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      |  FROM dl),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      |  WHERE term IN ('spark', 'vector', 'stream', 'window', 'hash')
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |w AS (
      |  SELECT doc_id,
      |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
      |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
      |SELECT doc_id,
      |  round(CAST(SUM(CAST(round(w, 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS score,
      |  COUNT(*) AS n_terms
      |FROM w GROUP BY doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "tx_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "tx_quality" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS avg_tok_len,
        |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |          x -> list_contains(['the','a','of'], x))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio,
        |    CAST(len(regexp_extract_all(text, '[^a-z0-9\s]')) AS BIGINT) AS punct_cnt,
        |    CAST(length(text) AS DOUBLE) AS L
        |  FROM documents)
        |SELECT doc_id, n_tokens, avg_tok_len, stop_ratio, punct_cnt,
        |  least(L/500.0, 1.0)*0.4 + least(stop_ratio*5.0, 1.0)*0.4
        |    + (1.0 - least(punct_cnt/L*10.0, 1.0))*0.2 AS quality
        |FROM b
        |ORDER BY doc_id""".stripMargin,

    "tx_langid" ->
      """WITH p AS (SELECT doc_id, lang, concat(' ', text, ' ') AS pt FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST((length(pt)-length(replace(pt,' the ','')))/5 AS BIGINT)
        |      + CAST((length(pt)-length(replace(pt,' a ','')))/3 AS BIGINT)
        |      + CAST((length(pt)-length(replace(pt,' of ','')))/4 AS BIGINT) AS score_en,
        |    CAST((length(pt)-length(replace(pt,' la ','')))/4 AS BIGINT)
        |      + CAST((length(pt)-length(replace(pt,' el ','')))/4 AS BIGINT)
        |      + CAST((length(pt)-length(replace(pt,' de ','')))/4 AS BIGINT) AS score_es,
        |    CAST((length(pt)-length(replace(pt,' der ','')))/5 AS BIGINT)
        |      + CAST((length(pt)-length(replace(pt,' und ','')))/5 AS BIGINT)
        |      + CAST((length(pt)-length(replace(pt,' die ','')))/5 AS BIGINT) AS score_de
        |  FROM p)
        |SELECT doc_id, lang AS declared, score_en, score_es, score_de,
        |  CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
        |       WHEN score_es >= score_de THEN 'es'
        |       ELSE 'de' END AS predicted
        |FROM sc
        |ORDER BY doc_id""".stripMargin,

    // NB fit (counts/priors over the train split) + Laplace-smoothed
    // log-likelihood scoring + per-doc argmax, replayed exactly; the
    // DECIMAL(18,6) sum of rounded log terms is the order-independence
    // discipline every decimal-exact row here uses
    "tx_nb_classify" ->
      """WITH train AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id % 5 <> 0),
        |tt AS (SELECT lang AS label, unnest(t) AS tok FROM train),
        |counts AS (SELECT label, tok, COUNT(*) AS c FROM tt GROUP BY label, tok),
        |totals AS (SELECT label, COUNT(*) AS n_l FROM tt GROUP BY label),
        |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tt),
        |priors AS (
        |  SELECT lang AS label,
        |    round(ln(CAST(COUNT(*) AS DOUBLE)
        |             / (SELECT COUNT(*) FROM train)), 6) AS log_prior
        |  FROM train GROUP BY lang),
        |test AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE doc_id % 5 = 0),
        |ll AS (
        |  SELECT doc_id, label,
        |    CAST(SUM(CAST(round(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE)
        |      / (n_l + v)), 6) AS DECIMAL(18,6))) AS DOUBLE) AS ll
        |  FROM (SELECT doc_id, tok, label FROM test
        |        CROSS JOIN (SELECT label FROM priors))
        |  LEFT JOIN counts USING (label, tok)
        |  JOIN totals USING (label)
        |  CROSS JOIN vocab
        |  GROUP BY doc_id, label),
        |sc AS (
        |  SELECT doc_id, label, round(ll + log_prior, 6) AS score
        |  FROM ll JOIN priors USING (label))
        |SELECT doc_id, label AS pred_lang, score
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) = 1
        |ORDER BY doc_id""".stripMargin,

    "tx_cdc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |bnd AS (
        |  SELECT doc_id, t, len(t) AS n,
        |         CASE WHEN len(t) >= 3 THEN
        |           [i for i in range(3, len(t) + 1)
        |            if CAST(('0x' || substr(md5(array_to_string(t[i-2:i], chr(31))), 1, 2)) AS BIGINT) % 8 = 0]
        |         ELSE [] END AS bs
        |  FROM toks),
        |sp AS (
        |  SELECT doc_id, t, n,
        |         list_concat([1], [b + 1 for b in bs if b < n]) AS starts,
        |         CASE WHEN len(bs) = 0 OR bs[len(bs)] <> n
        |           THEN list_concat(bs, [n]) ELSE bs END AS ends
        |  FROM bnd),
        |ch AS (
        |  SELECT doc_id,
        |         md5(array_to_string(t[starts[ci]:ends[ci]], chr(31))) AS fp
        |  FROM sp, unnest(generate_series(1, len(starts))) u(ci)),
        |df AS (SELECT fp, COUNT(DISTINCT doc_id) AS ndocs FROM ch GROUP BY fp)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |       CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
        |FROM ch JOIN df USING (fp)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "tx_chunk" ->
      """WITH b AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, GREATEST(CAST(ceil((len(toks) - 8) / 32.0) AS BIGINT), 1)))
        |      AS chunk_idx
        |  FROM b),
        |s AS (
        |  SELECT doc_id, chunk_idx,
        |    array_to_string(toks[CAST(chunk_idx * 32 + 1 AS INT)
        |      : CAST(chunk_idx * 32 + 40 AS INT)], ' ') AS chunk
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(regexp_split_to_array(trim(chunk), '\s+')) AS BIGINT) AS n_chunk_tokens,
        |  sha256(chunk) AS chunk_sha
        |FROM s
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "tx_pack_sequences" ->
      """WITH b AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, GREATEST(CAST(ceil((len(toks) - 8) / 32.0) AS BIGINT), 1)))
        |      AS chunk_idx
        |  FROM b),
        |n AS (
        |  SELECT doc_id, chunk_idx, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(array_to_string(
        |      toks[CAST(chunk_idx * 32 + 1 AS INT) : CAST(chunk_idx * 32 + 40 AS INT)],
        |      ' ')), '\s+')) AS BIGINT) AS n_tok
        |  FROM c),
        |x AS (
        |  SELECT shard, n_tok,
        |    CAST(floor((SUM(n_tok) OVER (PARTITION BY shard
        |      ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 512)
        |      AS BIGINT) AS bin
        |  FROM n)
        |SELECT shard, bin, COUNT(*) AS n_chunks,
        |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        |FROM x
        |GROUP BY shard, bin
        |ORDER BY shard, bin""".stripMargin,

    "tx_top_bigrams" ->
      """WITH g AS (
        |  SELECT unnest(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]))) AS gram
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents WHERE doc_id < 300))
        |SELECT gram, COUNT(*) AS n
        |FROM g
        |GROUP BY gram
        |ORDER BY n DESC, gram
        |LIMIT 50""".stripMargin,

    "pipe_fates" ->
      """WITH batch AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, text FROM documents),
        |scored AS (
        |  SELECT doc_id, source, text,
        |    least(CAST(length(text) AS DOUBLE)/500.0, 1.0)*0.4
        |    + least(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['the','a','of'], x))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) * 5.0, 1.0)*0.4
        |    + (1.0 - least(CAST(len(regexp_extract_all(text, '[^a-z0-9\s]')) AS BIGINT)
        |      / CAST(length(text) AS DOUBLE) * 10.0, 1.0))*0.2 AS quality
        |  FROM batch),
        |winners AS (
        |  SELECT MIN(doc_id) AS win_id FROM scored
        |  WHERE quality >= 0.5 GROUP BY md5(text)),
        |fated AS (
        |  SELECT source,
        |    CASE WHEN quality < 0.5 THEN 'low_quality'
        |         WHEN win_id IS NULL THEN 'duplicate'
        |         ELSE 'kept' END AS fate
        |  FROM scored LEFT JOIN winners ON doc_id = win_id)
        |SELECT source, fate, COUNT(*) AS n
        |FROM fated
        |GROUP BY source, fate
        |ORDER BY source, fate""".stripMargin,

    "pipe_curate" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |scored AS (
        |  SELECT doc_id, text,
        |    least(CAST(length(text) AS DOUBLE)/500.0, 1.0)*0.4
        |    + least(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['the','a','of'], x))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+')) * 5.0, 1.0)*0.4
        |    + (1.0 - least(CAST(len(regexp_extract_all(text, '[^a-z0-9\s]')) AS BIGINT)
        |      / CAST(length(text) AS DOUBLE) * 10.0, 1.0))*0.2 AS quality
        |  FROM batch),
        |kept AS (SELECT doc_id, text FROM scored WHERE quality >= 0.5),
        |deduped AS (
        |  SELECT doc_id, text FROM kept
        |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |b AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM deduped),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, GREATEST(CAST(ceil((len(toks) - 8) / 32.0) AS BIGINT), 1)))
        |      AS chunk_idx
        |  FROM b),
        |n AS (
        |  SELECT doc_id, chunk_idx, doc_id % 8 AS shard,
        |    CAST(len(regexp_split_to_array(trim(array_to_string(
        |      toks[CAST(chunk_idx * 32 + 1 AS INT) : CAST(chunk_idx * 32 + 40 AS INT)],
        |      ' ')), '\s+')) AS BIGINT) AS n_tok
        |  FROM c),
        |x AS (
        |  SELECT shard, n_tok,
        |    CAST(floor((SUM(n_tok) OVER (PARTITION BY shard
        |      ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 512)
        |      AS BIGINT) AS bin
        |  FROM n)
        |SELECT shard, bin, COUNT(*) AS n_chunks,
        |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        |FROM x
        |GROUP BY shard, bin
        |ORDER BY shard, bin""".stripMargin,

    "tx_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or call 555123' || CAST(doc_id AS VARCHAR) AS ptext
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(ptext,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS emails_found,
        |    regexp_replace(regexp_replace(ptext,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\d{7,}', '<NUM>', 'g') AS clean
        |  FROM p)
        |SELECT doc_id, emails_found,
        |  CAST(len(regexp_extract_all(clean,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS residual,
        |  sha256(clean) AS clean_sha
        |FROM r
        |ORDER BY doc_id""".stripMargin,

    "tx_repetition" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    string_split(text, '. ') AS sents,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(sents) - len(list_distinct(sents)) AS DOUBLE) / len(sents)
        |    AS dup_sentence_ratio,
        |  CAST(list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks)
        |    AS top_token_ratio
        |FROM b
        |ORDER BY doc_id""".stripMargin,

    "tx_fingerprint" ->
      """SELECT doc_id,
        |  sha256(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "tx_entropy" ->
      """WITH tc AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |  ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 4) AS entropy
        |FROM tc
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "tx_vocab" ->
      """SELECT source, COUNT(DISTINCT tok) AS vocab, COUNT(*) AS n_tokens
        |FROM (SELECT source,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |      FROM documents)
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "tx_heavy_hitters" ->
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |      FROM documents)
        |GROUP BY tok
        |ORDER BY n DESC, tok
        |LIMIT 20""".stripMargin,

    // space-joined grams match shinglesFromTokens' concat_ws(" ", ...):
    // tokens are whitespace-split so a single-space join of a FIXED gram
    // width is boundary-unambiguous
    "tx_boiler_grams" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM toks WHERE len(t) >= 3)),
        |df AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY g)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  COUNT(*) FILTER (WHERE df >= 5) AS n_boiler,
        |  ROUND(CAST(COUNT(*) FILTER (WHERE df >= 5) AS DOUBLE) / COUNT(*), 4)
        |    AS boiler_frac
        |FROM grams JOIN df USING (g)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "tx_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(log2(CAST(c2.c2 AS DOUBLE) / c1.c1)), 4) AS lm_score
        |FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // tx_lm_score's LM replayed with source carried through, then the
    // CCNet tercile split: NTILE over the rounded-4 scores — both
    // engines compare identical rounded doubles, so the integer split
    // is parity-exact.
    "tx_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, source, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
        |lm AS (
        |  SELECT doc_id, source, COUNT(*) AS n_bigrams,
        |    ROUND(AVG(log2(CAST(c2.c2 AS DOUBLE) / c1.c1)), 4) AS lm_score
        |  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  GROUP BY doc_id, source)
        |SELECT doc_id, source, n_bigrams, lm_score,
        |  CASE NTILE(3) OVER (PARTITION BY source ORDER BY lm_score DESC, doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM lm
        |ORDER BY doc_id""".stripMargin,

    // Mirrors tx_source_kl: identical probability/log2 paren structure,
    // terms rounded 12 and decimal-summed, corpus marginal derived from
    // the per-source counts.
    "tx_source_kl" ->
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |st AS (SELECT source, w, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
        |ct AS (SELECT w, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY w),
        |ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
        |n AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM ns),
        |terms AS (
        |  SELECT source, n_s,
        |    round((CAST(c_st AS DOUBLE) / n_s) *
        |      log2((CAST(c_st AS DOUBLE) / n_s) / (CAST(c_t AS DOUBLE) / n)), 12) AS term
        |  FROM st JOIN ct USING (w) JOIN ns USING (source) CROSS JOIN n)
        |SELECT source, MAX(n_s) AS n_tokens,
        |  round(CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl
        |FROM terms
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // Mirrors tx_pmi_collocations: identical marginal definitions and
    // paren structure in the pmi expression, support floor, rounded 6.
    "tx_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |uni AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |ntok AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
        |bi AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |c12 AS (
        |  SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
        |  HAVING COUNT(*) >= 5),
        |nbi AS (SELECT COUNT(*) AS n_bi FROM bi)
        |SELECT w1, w2, c12,
        |  round(log2((CAST(c12 AS DOUBLE) / n_bi) /
        |    ((CAST(u1.c AS DOUBLE) / n_tok) * (CAST(u2.c AS DOUBLE) / n_tok))), 6) AS pmi
        |FROM c12
        |JOIN uni u1 ON u1.w = w1
        |JOIN uni u2 ON u2.w = w2
        |CROSS JOIN nbi CROSS JOIN ntok
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 50""".stripMargin,

    // Mirrors Retrieval.bm25TopK: same tokenizer, the Lucene
    // ln(1 + (N - df + 0.5)/(df + 0.5)) idf rounded to 6, identical
    // left-associated saturation arithmetic, per-term weights rounded to
    // 6 then decimal-summed, (score DESC, doc_id) top-20.
    "tx_bm25_topk" -> bm25Sql,

    // The indexed path answers from batch-committed postings, but a doc
    // lives in exactly one batch so df/N/avgdl are exact over the union
    // and the scoring tail is shared — the scan oracle IS its oracle.
    "tx_bm25_incremental" -> bm25Sql,
    "tx_bm25_compacted" -> bm25Sql,

    // Mirrors Dsir.importanceWeights: chr(31)-joined bigrams, md5 15-hex
    // bucket hash mod 512, add-1 smoothing over both LMs, per-gram
    // log-ratios rounded to 6 then decimal-summed per doc.
    "tx_dsir" -> (dsirSql + "\nORDER BY doc_id"),

    // The tx_dsir replay as a subquery, then the log-space ES key and
    // the top-100 race — weight fit, scoring, and the draw all
    // hash-checked end to end.
    "samp_dsir_topk" ->
      s"""SELECT doc_id, dsir_weight,
         |  round(ln(-ln((CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |                + 1.0) / 1152921504606846976.0)) - dsir_weight, 9) AS es_key
         |FROM ($dsirSql) dsir
         |ORDER BY es_key, doc_id
         |LIMIT 100""".stripMargin,

    "tx_bpe_fit" -> bpeFitSql,

    "tx_bpe_tokens" -> bpeTokensSql,

    "tx_phrase_search" -> phraseSql,

    // The positional-index path finds exactly the token-aligned
    // adjacencies the scan finds — the scan oracle IS its oracle.
    "tx_phrase_indexed" -> phraseSql,

    // The bm25Sql CTE prefix with a VALUES query table: per-(doc, term)
    // weights are query-independent, per-query scores decimal-summed,
    // per-query top-10 by (score desc, doc_id).
    "tx_bm25_multiquery" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        |  FROM dl),
        |q(q_id, term) AS (VALUES
        |  (0, 'spark'), (0, 'vector'),
        |  (1, 'stream'), (1, 'window'), (1, 'hash'),
        |  (2, 'table'), (2, 'sort'), (2, 'merge')),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        |  WHERE term IN (SELECT term FROM q)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |w AS (
        |  SELECT doc_id, term,
        |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
        |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
        |qs AS (
        |  SELECT CAST(q_id AS BIGINT) AS q_id, doc_id,
        |    round(CAST(SUM(CAST(round(w, 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS score
        |  FROM q JOIN w USING (term)
        |  GROUP BY q_id, doc_id)
        |SELECT q_id, CAST(row_number() OVER win AS BIGINT) AS rank, doc_id, score
        |FROM qs
        |WINDOW win AS (PARTITION BY q_id ORDER BY score DESC, doc_id)
        |QUALIFY row_number() OVER win <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // The tx_ppl_buckets LM replayed, cutoffs from the md5 hash-sample
    // via quantile_cont (R-7 — Spark's exact `percentile` uses the same
    // p·(n−1) linear interpolation), assignment by threshold compare.
    "tx_ppl_buckets_approx" ->
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT doc_id, source, t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
        |lm AS (
        |  SELECT doc_id, source, COUNT(*) AS n_bigrams,
        |    ROUND(AVG(log2(CAST(c2.c2 AS DOUBLE) / c1.c1)), 4) AS lm_score
        |  FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  GROUP BY doc_id, source),
        |cut AS (
        |  SELECT source,
        |    round(quantile_cont(lm_score, CAST(1 AS DOUBLE)/3), 6) AS q13,
        |    round(quantile_cont(lm_score, CAST(2 AS DOUBLE)/3), 6) AS q23
        |  FROM lm WHERE md5('ppl:' || CAST(doc_id AS VARCHAR)) < '4'
        |  GROUP BY source)
        |SELECT doc_id, source, lm_score,
        |  CASE WHEN lm_score >= q23 THEN 'head'
        |       WHEN lm_score >= q13 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM lm JOIN cut USING (source)
        |ORDER BY doc_id""".stripMargin,

    // Per-doc TF-IDF keywords: the (doc, term) counts and the
    // vocabulary df in two hash-aggregates, tf·ln(N/df) rounded at
    // every step, top-3 per doc by (score desc, term).
    "tx_keyword_extract" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term,
        |    round(tf * round(ln(CAST(n_docs AS DOUBLE) / df), 6), 6) AS score
        |  FROM tf JOIN dft USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(row_number() OVER w AS BIGINT) AS rank, term, score
        |FROM scored
        |WINDOW w AS (PARTITION BY doc_id ORDER BY score DESC, term)
        |QUALIFY row_number() OVER w <= 3
        |ORDER BY doc_id, rank""".stripMargin
  )

  /** Token-aligned 'batch table' adjacency — shared verbatim by the
    * corpus-scan row (tx_phrase_search) and the positional-index row
    * (tx_phrase_indexed), which must agree exactly. */
  private[qsets] val phraseSql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i FROM (
      |    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      |    FROM toks WHERE len(t) >= 2)
      |  WHERE t[i] = 'batch' AND t[i+1] = 'table')
      |SELECT doc_id, COUNT(*) AS n_hits, CAST(MIN(i) AS BIGINT) AS first_pos
      |FROM pos
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** The BPE fit replay: word frequencies, char-split repr, then 3
    * unrolled count-pairs / pick-winner / apply-merge rounds (`word`
    * carried through so the apply oracle can join back). Winner pick
    * and the symbol-array merge fold (list_reduce — boundary-exact,
    * never matching across symbol edges; LEFT JOIN ON TRUE keeps the
    * repr intact when a round exhausts) match the Spark side exactly
    * (see graft.text.Bpe scaladoc). Shared by tx_bpe_fit and
    * tx_bpe_tokens so fit and apply cannot drift. */
  private val bpeCtes: String = {
    def round(r: Int): String =
      s"""p$r AS (
         |  SELECT sym[i] AS lhs, sym[i+1] AS rhs, CAST(SUM(freq) AS BIGINT) AS n FROM (
         |    SELECT string_split(s, chr(31)) AS sym, freq,
         |      unnest(generate_series(1, len(string_split(s, chr(31))) - 1)) AS i
         |    FROM r$r)
         |  GROUP BY lhs, rhs),
         |t$r AS (SELECT lhs, rhs, n FROM p$r ORDER BY n DESC, lhs, rhs LIMIT 1),
         |r${r + 1} AS (
         |  SELECT word,
         |    CASE WHEN t$r.lhs IS NULL THEN s ELSE
         |      list_reduce(string_split(s, chr(31)), (acc, x) -> CASE
         |        WHEN x = t$r.rhs AND (acc = t$r.lhs
         |             OR ends_with(acc, chr(31) || t$r.lhs))
         |        THEN acc || x ELSE acc || chr(31) || x END)
         |    END AS s, freq
         |  FROM r$r LEFT JOIN t$r ON TRUE),""".stripMargin
    s"""WITH w AS (
       |  SELECT g AS word, COUNT(*) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS g
       |    FROM documents)
       |  GROUP BY g),
       |r1 AS (
       |  SELECT word,
       |    rtrim(regexp_replace(word, '(.)', '\\1' || chr(31), 'g'), chr(31)) AS s,
       |    freq
       |  FROM w),
       |${round(1)}
       |${round(2)}
       |${round(3)}""".stripMargin
  }

  private val bpeFitSql: String =
    bpeCtes + """
      |m AS (
      |  SELECT 1 AS rank, lhs, rhs, n FROM t1
      |  UNION ALL SELECT 2, lhs, rhs, n FROM t2
      |  UNION ALL SELECT 3, lhs, rhs, n FROM t3)
      |SELECT rank, lhs, rhs, n FROM m
      |ORDER BY rank""".stripMargin

  private val bpeTokensSql: String =
    bpeCtes + """
      |nsym AS (
      |  SELECT word, CAST(len(string_split(s, chr(31))) AS BIGINT) AS n_sym
      |  FROM r4),
      |occ AS (
      |  SELECT source, g AS word, COUNT(*) AS occ FROM (
      |    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS g
      |    FROM documents)
      |  GROUP BY source, g)
      |SELECT source,
      |  CAST(SUM(occ) AS BIGINT) AS n_tokens_ws,
      |  CAST(SUM(occ * n_sym) AS BIGINT) AS n_tokens_bpe,
      |  round(CAST(SUM(occ * n_sym) AS DOUBLE) / SUM(occ), 6) AS syms_per_word
      |FROM occ JOIN nsym USING (word)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** The DSIR weight replay (hashed-bigram LMs, rounded log-ratio
    * decimal sums) WITHOUT a final ORDER BY — shared by tx_dsir and the
    * samp_dsir_topk resampling oracle so the weight derivation cannot
    * drift between the scoring and selection rows. */
  private val dsirSql: String =
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
      |GROUP BY doc_id""".stripMargin
}
