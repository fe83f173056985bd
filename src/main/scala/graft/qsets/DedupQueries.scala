package graft.qsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.functions.Hashing


/** Deduplication queries over `documents`. The doubled batch (each doc
  * unioned with a shifted-id copy) plants exact duplicates so every dedup
  * path has guaranteed positives to find.
  *
  * `dd_exact`, `dd_ngram_jaccard` and `dd_repeated_spans` are
  * oracle-checked; `dd_minhash` and `dd_simhash` use engine-specific
  * 64-bit hashes (xxhash64 / FNV simhash) whose CANDIDATE sets no SQL
  * oracle reproduces → rows-only checks, with the exact-Jaccard query as
  * their semantic cross-check. (`dd_repeated_spans` also groups on
  * xxhash64, but its output carries only the induced per-doc counts, and
  * DuckDB's string grouping induces the same classes up to ~2⁻⁶⁴
  * collisions — so it hash-compares exactly.) */
object DedupQueries extends QuerySet {

  private val COPY_OFFSET = 1000000L

  private def doubled(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    d.union(d.withColumn("doc_id", col("doc_id") + COPY_OFFSET))
  }

  /** Session tuning for the simhash pair subtree. After exact-dup
    * collapse the relation is (rep, 64-bit fingerprint) — a few dozen
    * bytes per DISTINCT document, orders of magnitude below the corpus —
    * so its shuffles want few, full partitions. AQE would coalesce to
    * the same shape but pays a stage-job barrier per shuffle, and this
    * pipeline has ~10 of them (collapse, size pass, salted collect,
    * candidate distinct, two member joins, final sort): at bench scale
    * the barriers WERE the row (measured 19 jobs ≈ 3.4 s vs 9 ≈ 1.9 s
    * for identical results — r15). A child session encodes the same
    * sizing decision statically; results are partition-count-invariant
    * (set-valued pairs, sorted output — the md5 twin hash-pins it) and
    * the caller's session is never mutated (Verify runs queries
    * concurrently). */
  private def simhashSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions",
      math.max(8, s.sparkContext.defaultParallelism / 4).toString)
    s2
  }

  /** Shared minhash pair set for dd_minhash / dd_survivors (a
    * [[Tables.artifact]]), computed at the WEAKEST threshold either
    * consumer uses and materialized (minhashPairsFromShingles returns an eager
    * localCheckpoint, or a driver-built frame for inputs within its
    * bucketCap). The two queries previously each ran the full
    * shingle→band→verify pipeline over the doubled corpus — 18% of the
    * whole bench — which is exactly the recompute a production dedup
    * pipeline avoids by materializing its candidate-pair table once per
    * corpus snapshot and deriving every consumer (pair report, survivor
    * pass) from it; IncrementalDedup already applies the same
    * one-signature-pass-per-batch discipline. Thresholds compose by
    * filtering: the pipeline applies minJaccard only as the final verify
    * filter, so filter(jaccard >= t) of a t'-thresholded pair set
    * (t >= t') is row-identical to running the pipeline at t. */
  private val minhashPairsShared = Tables.artifact("dd_minhash_pairs")((s, dir) =>
    Dedup.minhashPairs(doubled(s, dir), "doc_id", "text",
      shingleN = 2, k = 16, bands = 8, minJaccard = 0.5))

  /** Runs `body` over per-run managed catalog tables named from `prefix`
    * (a [[Tables.scratch]]-style name: the dataset and the applicationId,
    * so concurrent runs never share one) and drops them when it returns,
    * with their directories under `spark.sql.warehouse.dir`. `body` gets
    * the name and must return rows that no longer read the tables (an
    * eager checkpoint); `suffixes` lists the tables it creates under the
    * name. */
  private def withRunTables(s: SparkSession, dir: String, prefix: String,
                            suffixes: Seq[String])(body: String => DataFrame): DataFrame = {
    val name = prefix + "_" + (dir + "_" + s.sparkContext.applicationId).replaceAll("[^A-Za-z0-9]", "_")
    try body(name) finally {
      val wh = s.conf.get("spark.sql.warehouse.dir")
      for (t <- suffixes.map(name + _)) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val p = new org.apache.hadoop.fs.Path(s"$wh/$t")
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: first-id-wins per content hash over the doubled batch.
    "dd_exact" -> ((s, dir) => {
      Dedup.exactDedup(doubled(s, dir), "doc_id", Seq(col("text")))
        .select(col("doc_id"), col("content_hash"))
        .orderBy(col("doc_id"))
    }),

    // Exact token-set Jaccard, top-100 most-similar pairs (bounded subset).
    "dd_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      Dedup.tokenJaccardPairs(docs, "doc_id", "text")
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(100)
    }),

    // Duplicate-cluster-size histogram: the dedup observability row —
    // "how much of the corpus is duplicated, at what multiplicity"
    // (dedup-rate reporting before/after a pipeline stage). Two
    // counts-only hash-aggs over the content hash; document bytes never
    // shuffle. Plants give a known multi-modal shape: every doc doubled,
    // docs with doc_id % 10 < 3 get a THIRD copy — so the histogram must
    // show exactly the 2- and 3-clusters the plant implies.
    "dd_cluster_sizes" -> ((s, dir) => {
      val extra = t(s, dir, "documents").filter(col("doc_id") % 10 < 3)
        .select((col("doc_id") + lit(2 * COPY_OFFSET)).as("doc_id"), col("text"))
      doubled(s, dir).unionByName(extra)
        .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // ASYMMETRIC containment dedup (Dedup.containmentPairs): a doc
    // EMBEDDED in a larger one scores C(A→B) ≈ 1 on the contained side
    // while Jaccard stays low — the quote/subset/aggregator-page signal.
    // Planted: each doc_id < 50 gets a +200000 HALF-copy (first
    // ⌈n/2⌉ tokens), guaranteed contained. Stop-gram pruning (df > 64
    // dropped before the join) is the quadratic-fan-out guard and is
    // replayed exactly by the oracle; containment denominators stay
    // pre-prune so scores are true gram-set fractions.
    // Dedup FUNNEL — the per-stage removal report every production
    // pipeline publishes ("raw → exact → containment: how many docs did
    // each stage cost"): exact first-wins dedup, then containment-based
    // near-dup pruning over the exact survivors (drop the higher id of
    // every qualifying pair — the derived/later doc). Fixture plants
    // both stages' prey: +1000000 exact copies (ids < 100) die at the
    // exact stage, +200000 half-docs (ids < 50) die at containment.
    // The corpus is checkpointed once (all three stages read it); each
    // stage count is a 1-row aggregate, chained by designed 1-row
    // crossJoins — the whole report is one plan, no driver-side counts.
    "dd_funnel" -> ((s, dir) => {
      import graft.text.TextFunctions
      val base = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val copies = base.filter(col("doc_id") < 100)
        .select((col("doc_id") + COPY_OFFSET).as("doc_id"), col("text"))
      val halves = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 200000L).as("doc_id"),
          array_join(slice(TextFunctions.wsTokens(col("text")),
            lit(1), floor((size(TextFunctions.wsTokens(col("text"))) + 1) / 2)
              .cast("int")), " ").as("text"))
      val corpus = base.unionByName(copies).unionByName(halves)
        .localCheckpoint(eager = true)
      val exactSurv = Dedup.exactDedup(corpus, "doc_id", Seq(col("text")))
        .select(col("doc_id"), col("text"))
      val dropped = Dedup.containmentPairs(exactSurv, "doc_id", "text",
          n = 3, minC = 0.8, maxDf = 64)
        .select(col("id_b").as("doc_id")).distinct()
      val finalSurv = exactSurv.join(dropped, Seq("doc_id"), "left_anti")
      def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
      val s1 = n(corpus, "n_out")
        .select(lit(1).as("stage"), lit("raw").as("label"),
          col("n_out").as("n_in"), col("n_out"))
      val s2 = n(corpus, "n_in").crossJoin(n(exactSurv, "n_out"))
        .select(lit(2).as("stage"), lit("exact").as("label"),
          col("n_in"), col("n_out"))
      val s3 = n(exactSurv, "n_in").crossJoin(n(finalSurv, "n_out"))
        .select(lit(3).as("stage"), lit("containment").as("label"),
          col("n_in"), col("n_out"))
      s1.unionByName(s2).unionByName(s3)
        .withColumn("n_removed", col("n_in") - col("n_out"))
        .orderBy(col("stage"))
    }),

    "dd_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      val halves = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 200000L).as("doc_id"),
          array_join(slice(graft.text.TextFunctions.wsTokens(col("text")),
            lit(1), floor((size(graft.text.TextFunctions.wsTokens(col("text"))) + 1) / 2)
              .cast("int")), " ").as("text"))
      Dedup.containmentPairs(docs.select(col("doc_id"), col("text"))
          .unionByName(halves), "doc_id", "text",
          n = 3, minC = 0.8, maxDf = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash+LSH with the PORTABLE md5 hash family: signatures, band
    // keys, candidates and the verified pair set are all reproducible in
    // any engine with md5 — so this row is hash-checked end-to-end by the
    // DuckDB oracle, anchoring the LSH pipeline itself (banding via
    // boundedBucketPairs + exact-Jaccard verify), not just its
    // exact-Jaccard sibling. Production stays on xxhash64 (dd_minhash).
    // Doubled subset: every doc gets a planted +1000000 exact copy, so
    // the oracle-checked output carries ~300 guaranteed jaccard-1.0
    // pairs (identical md5 signatures in both engines) on top of the
    // natural near-dups.
    "dd_minhash_md5" -> ((s, dir) => {
      val docs = doubled(s, dir).filter(col("doc_id") % COPY_OFFSET < 300)
      Dedup.minhashPairsPortable(docs, "doc_id", "text",
          shingleN = 2, k = 8, bands = 4, minJaccard = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Survivors over the PORTABLE pair set: connected components +
    // min-id representative, oracle-checked end-to-end through the LSH
    // pipeline via a recursive-CTE reachability closure in DuckDB — the
    // components/survivors machinery anchored through banding itself,
    // not only through exact-dup pairs (dd_survivors_exact).
    "dd_survivors_md5" -> ((s, dir) => {
      val docs = doubled(s, dir).filter(col("doc_id") % COPY_OFFSET < 300)
      val pairs = Dedup.minhashPairsPortable(docs, "doc_id", "text",
        shingleN = 2, k = 8, bands = 4, minJaccard = 0.9)
      Dedup.survivors(docs, "doc_id", pairs)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // The PIPELINE bill: same verified pair set as dd_minhash, but always
    // computed FRESH (shingle → signature → band → bounded-bucket →
    // exact-Jaccard verify) — so the bench bills the one-time pipeline
    // cost to THIS row and the consumer rows below measure
    // derive-from-checkpoint cost over the seeded artifact, the split a
    // production dedup pipeline has (materialize the candidate-pair table
    // once per corpus snapshot; every consumer derives from it). Same
    // no-oracle status and measured recall as dd_minhash (identical rows).
    "dd_minhash_pipeline" -> ((s, dir) => {
      Dedup.minhashPairs(doubled(s, dir), "doc_id", "text",
          shingleN = 2, k = 16, bands = 8, minJaccard = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash+LSH near-dup candidates with exact-Jaccard verification.
    // No SQL oracle (xxhash64-based) — planted duplicates guarantee that
    // every doc pairs with its copy at jaccard=1.0.
    "dd_minhash" -> ((s, dir) => {
      minhashPairsShared(s, dir)
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Near-dup clusters + survivors: pairs → connected components → one
    // representative per cluster. Planted copies mean every original doc
    // survives and every +1000000 copy is dropped, plus any natural
    // near-dup merges. Rows-only (inherits minhash's engine hashes).
    "dd_survivors" -> ((s, dir) => {
      val docs = doubled(s, dir)
      val pairs = minhashPairsShared(s, dir).filter(col("jaccard") >= 0.9)
      Dedup.survivors(docs, "doc_id", pairs)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // Incremental CHUNK-level dedup (CdcIndex): originals arrive as
    // batch one (index empty — every chunk novel), their copies as
    // batch two, which the persistent chunk-fingerprint index catches
    // at n_novel = 0 per copy — passage-granularity dedup that survives
    // offsets and insertions (CDC re-synchronization). FULL hash oracle,
    // unlike the signature-family indexes: the md5 chunk rule is
    // engine-portable end to end.
    "dd_cdc_incremental" -> ((s, dir) => {
      import graft.dedup.CdcIndex
      withRunTables(s, dir, "cdcidx", Seq("")) { idx =>
        val docs = doubled(s, dir)
        val b1 = CdcIndex.addBatch(docs.filter(col("doc_id") < COPY_OFFSET),
          "doc_id", "text", idx, batchId = 1L)
        val b2 = CdcIndex.addBatch(docs.filter(col("doc_id") >= COPY_OFFSET),
          "doc_id", "text", idx, batchId = 2L)
        // localCheckpoint-ed eagerly inside addBatch
        b1.unionByName(b2).orderBy(col("doc_id"))
      }
    }),

    // Incremental (daily-ingest) near-dup dedup: originals arrive as batch
    // one, their exact copies as batch two; every copy matches the
    // survivor index at jaccard 1.0 (or its family's indexed rep, since
    // planted families are dense), so the final survivor set coincides
    // with dd_survivors' global batch pass here — the general contract is
    // first-wins with no cross-batch transitive closure (see
    // IncrementalDedup scaladoc; unit-proven in ScaleGuardSpec).
    // Rows-only (engine hashes); the index holds signatures, never
    // documents.
    "dd_incremental" -> ((s, dir) => {
      import graft.dedup.IncrementalDedup
      val idx = Tables.scratch(s, dir, "incdedup") + "/index"
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = doubled(s, dir)
      val s1 = IncrementalDedup.addBatch(docs.filter(col("doc_id") < COPY_OFFSET),
        "doc_id", "text", idx, batchId = 1L,
        shingleN = 2, k = 16, bands = 8, minJaccard = 0.9)
      val s2 = IncrementalDedup.addBatch(docs.filter(col("doc_id") >= COPY_OFFSET),
        "doc_id", "text", idx, batchId = 2L,
        shingleN = 2, k = 16, bands = 8, minJaccard = 0.9)
      s1.select(col("doc_id")).unionByName(s2.select(col("doc_id")))
        .orderBy(col("doc_id"))
    }),

    // Bucketed-table variant of dd_incremental: identical two-batch shape
    // and identical pairing/clustering core, but the survivor index lives
    // in bucketed metastore tables so the index side is read
    // bucket-aligned with NO exchange (the 100 TB daily-ingest layout —
    // see BucketedIncrementalDedup scaladoc; zero-exchange index reads
    // plan-pinned in BucketedIndexSpec). Rows-only (engine hashes), same
    // contract as dd_incremental; the two variants' outputs are
    // unit-proven identical in BucketedIndexSpec.
    "dd_bucketed_incremental" -> ((s, dir) => {
      import graft.dedup.BucketedIncrementalDedup
      withRunTables(s, dir, "bincdedup", Seq("_bands", "_sh", "_stats")) { base =>
        val docs = doubled(s, dir)
        val s1 = BucketedIncrementalDedup.addBatch(
          docs.filter(col("doc_id") < COPY_OFFSET),
          "doc_id", "text", base, batchId = 1L,
          shingleN = 2, k = 16, bands = 8, minJaccard = 0.9)
        val s2 = BucketedIncrementalDedup.addBatch(
          docs.filter(col("doc_id") >= COPY_OFFSET),
          "doc_id", "text", base, batchId = 2L,
          shingleN = 2, k = 16, bands = 8, minJaccard = 0.9)
        // survivors come back checkpointed eagerly (withinBatch)
        s1.select(col("doc_id")).unionByName(s2.select(col("doc_id")))
          .orderBy(col("doc_id"))
      }
    }),

    // Connected-components + survivors anchored to a SQL oracle: exact-dup
    // pairs (same md5) are oracle-expressible, so feeding them through the
    // SAME min-label-propagation components() and survivors() code path
    // the minhash pipeline uses gives the clustering machinery a
    // hash-checked row — the rows-only dd_survivors then only adds the
    // engine-specific candidate generation on top.
    "dd_survivors_exact" -> ((s, dir) => {
      val docs = doubled(s, dir)
      val hashed = docs.withColumn("content_hash", Hashing.md5Hash(col("text")))
      val grouped = hashed.groupBy(col("content_hash"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      val pairs = grouped.filter(size(col("ids")) > 1)
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
      Dedup.survivors(docs, "doc_id", pairs)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // The DISTRIBUTED components path under the driver gate: identical
    // pair construction and oracle to dd_survivors_exact, but
    // driverEdgeBound = 0 forces the iterative min-label propagation
    // loop — the path any pair graph past the 4M-edge driver bound takes
    // at 100 TB, which the gate otherwise never executes (sf-scale pair
    // sets are always under the bound, so dd_survivors_exact exercises
    // only the collect+union-find fast path). Same exact-dup pairs, same
    // SQL oracle: the two physical strategies behind components() must
    // answer bit-identically (the J14 bucketed-join precedent — pin the
    // scale plan's RESULT, not just its unit equivalence on random
    // graphs).
    "dd_survivors_dist" -> ((s, dir) => {
      val docs = doubled(s, dir)
      val hashed = docs.withColumn("content_hash", Hashing.md5Hash(col("text")))
      val grouped = hashed.groupBy(col("content_hash"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      val pairs = grouped.filter(size(col("ids")) > 1)
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
      Dedup.survivors(docs, "doc_id", pairs, driverEdgeBound = 0L)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // The distributed components loop on a MAXIMUM-diameter pair graph:
    // consecutive doc_ids chained into one long path (diameter ≈ corpus
    // size, ~500 at the sf0.01 gate — 25× the iteration budget), forced
    // through the propagation loop. Converges only because each round
    // pointer-jumps (O(log diameter)); a one-hop-per-round loop would
    // blow maxIter and fail loudly. Survivors = exactly the run-starts
    // (doc_id whose predecessor is absent) — the diameter-1 cliques of
    // dd_survivors_dist never exercised this regime (the r14 advice).
    "dd_survivors_chain" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val pairs = docs.select(col("doc_id").as("id_a"))
        .join(docs.select(col("doc_id").as("id_b")),
          col("id_a") + 1 === col("id_b"))
      Dedup.survivors(docs, "doc_id", pairs, driverEdgeBound = 0L)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // HOT-BUCKET CAP exercised for real: 30% of the corpus gets one
    // shared ~120-token boilerplate body with a unique per-doc tail, so
    // every planted doc is DISTINCT (exact-dup pre-collapse cannot absorb
    // the family) yet pairwise jaccard ≈ 0.95 — band buckets collect the
    // whole ~150-doc family and bucketCap=32 forces the sub-salt + bridge
    // path in boundedBucketPairs (the load-bearing scale guard no natural
    // toy corpus trips; WARN fires at runtime). The family is
    // HOMOGENEOUS, so bridge pairs pass the jaccard>=0.9 verify and
    // min-label components re-link the capped bucket: survivors must
    // still collapse the family to its min id. Recall under ACTIVE
    // capping is measured per-round in verify_recall.json (floor 0.95 —
    // the documented fragmentation bound for capped buckets). Rows-only
    // (xxhash banding + engine-specific salt), same family as dd_minhash.
    "dd_minhash_capped" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val boiler = (0 until 120).map(i => s"boiler$i").mkString(" ")
      val planted = docs.select(col("doc_id"),
        when(col("doc_id") % 10 < 3,
          concat(lit(boiler), lit(" tail "), col("doc_id").cast("string"),
            lit(" end")))
          .otherwise(col("text")).as("text"))
      val pairs = Dedup.minhashPairs(planted, "doc_id", "text",
        shingleN = 2, k = 16, bands = 8, minJaccard = 0.9, bucketCap = 32)
      Dedup.survivors(planted, "doc_id", pairs)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // SimHash near-dup: native simhash64 expression, 16-bit banding with
    // exact-dup collapse + bucket-collect (see Dedup.simhashPairs).
    // No SQL oracle (FNV/simhash is engine-specific).
    "dd_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(doubled(simhashSession(s), dir), "doc_id", "text",
          bands = 4, maxHamming = 4L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash with the PORTABLE md5-vote fingerprint: 60-bit simhash
    // (per-distinct-token bit votes from md5 hex), 15-bit banding,
    // Hamming verify — all reproducible in DuckDB, so this row
    // hash-checks the simhash pipeline itself (exact-dup collapse →
    // banding → bounded-bucket candidates → Hamming filter → member
    // expansion), the one pair family that previously had only a
    // rows-only check. Production stays on the native 64-bit
    // fingerprint (dd_simhash). Doubled subset: every doc gets a
    // planted +1000000 exact copy → guaranteed hamming-0 pairs in both
    // engines on top of any natural near-dups.
    "dd_simhash_md5" -> ((s, dir) => {
      val docs = doubled(simhashSession(s), dir)
        .filter(col("doc_id") % COPY_OFFSET < 300)
      Dedup.simhashPairsPortable(docs, "doc_id", "text",
          bands = 4, maxHamming = 4L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Repeated-span coverage (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better"): the fraction of each doc covered by
    // 5-token windows occurring >= 2 times ANYWHERE in the corpus
    // (within- or cross-doc) — the span-level dedup signal that
    // doc-level near-dup misses. Exact union-of-intervals coverage: the
    // fixed window length makes the sorted-starts interval union a
    // running least(L, gap) sum, computed per doc by an aggregate HOF
    // over the (bounded, per-doc) flagged-position list — never a window
    // sort over the corpus-wide span stream. Window hashes travel as
    // xxhash64; the repeated-gram table joins back under AQE; the window
    // stream is produced twice (count pass + probe) for the
    // persist-vs-recompute reason documented at tx_boiler_grams.
    "dd_repeated_spans" -> ((s, dir) => {
      val L = 5
      // n_toks = size(wsTokens) via the allocation-free WsFieldCount
      // scan (bit-identical, including the empty-token edge cases); the
      // window hashes come from the fused native TokenWindowHashes
      // kernel — bit-identical to the wsTokens → transform/xxhash64
      // chain it replaced (\u001F join = the oracle's chr(31)) — so the
      // token ARRAY is never materialized on this row at all
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TokenWindows.fieldCountCol(col("text"))
            .cast("long").as("n_toks"))
        .filter(col("n_toks") >= L)
      val wins = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.TokenWindows(col("text"), L)))
        .select(col("doc_id"), col("pos").cast("long").as("p"),
          col("col").as("h"))
      val rep = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"))
      val covered = wins.join(rep, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_repeated"),
          sort_array(collect_list(col("p"))).as("ps"))
        .select(col("doc_id"), col("n_repeated"),
          // sorted fixed-length intervals: each adds least(L, gap-to-prev)
          aggregate(col("ps"),
            struct(lit(Long.MinValue / 2).as("prev"), lit(0L).as("cov")),
            (acc, p) => struct(p.as("prev"),
              (acc.getField("cov") +
                least(lit(L.toLong), p - acc.getField("prev"))).as("cov")),
            acc => acc.getField("cov")).as("covered_tokens"))
      toks.select(col("doc_id"), col("n_toks"),
          (col("n_toks") - (L - 1)).as("n_windows"))
        .join(covered, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_toks"), col("n_windows"),
          coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
          coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
          round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("n_toks"), 4).as("repeated_frac"))
        .orderBy(col("doc_id"))
    }),

    // Cross-document exact-substring spans (Lee et al. 2107.06499's
    // ExactSubstr pass — graft.dedup.SpanDedup): the REMOVAL LIST of
    // maximal intervals whose 8-token windows repeat verbatim in ≥ 2
    // distinct documents. Planted spans guarantee positives: each
    // doc_id < 5 contributes a +1000000 copy holding exactly its tokens
    // 3..14, so the original carries a cross-doc span starting at
    // position 3 and the plant is covered end to end (plus whatever the
    // corpus's natural near-dup shards repeat). No pair join anywhere —
    // a distinct-doc-df aggregate and a linear semi-join (see SpanDedup
    // scaladoc for why no df-cap is needed); full hash oracle replaying
    // windows → cross-doc df → gaps-and-islands interval merge.
    "dd_crossdoc_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(graft.text.TextFunctions.wsTokens(col("text")),
            3, 12)).as("text"))
      graft.dedup.SpanDedup.crossDocSpans(docs.unionByName(planted),
        "doc_id", "text", L = 8)
    }),

    // The ACTION half of ExactSubstr (Lee et al. §3.2 remove ALL
    // occurrences): the same planted corpus as dd_crossdoc_spans, but the
    // output is the SCRUBBED corpus — covered tokens dropped everywhere,
    // with per-doc removal accounting. Each plant (an exact 12-token
    // slice of its original) scrubs to the empty string and carves the
    // matching span out of the original. Same linear no-pair-join shape;
    // reassembly is a per-document bounded aggregate (docs are the
    // parallel unit). Full hash oracle: windows → cross-doc df →
    // covered-index anti-join → string_agg reassembly.
    "dd_crossdoc_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(graft.text.TextFunctions.wsTokens(col("text")),
            3, 12)).as("text"))
      graft.dedup.SpanDedup.scrubCrossDocSpans(docs.unionByName(planted),
        "doc_id", "text", L = 8)
    })
  )

  def oracleSql: Map[String, String] = Map(
    // windows → distinct-doc df ≥ 2 → covered positions →
    // gaps-and-islands merge (two window levels: lag, then running sum)
    "dd_crossdoc_spans" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(regexp_split_to_array(trim(text), '\s+')[3:14], ' ')
        |      AS text
        |  FROM documents WHERE doc_id < 5),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM corpus),
        |wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p,
        |         array_to_string(t[i:i+7], chr(31)) AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
        |        FROM toks WHERE len(t) >= 8)),
        |rep AS (SELECT g FROM wins GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT doc_id, p,
        |    lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev_p
        |  FROM wins JOIN rep USING (g)),
        |isl AS (
        |  SELECT doc_id, p,
        |    SUM(CASE WHEN prev_p IS NOT NULL AND p > prev_p + 8
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS island
        |  FROM cov)
        |SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
        |  CAST(MAX(p) - MIN(p) + 8 AS BIGINT) AS span_len,
        |  COUNT(*) AS n_grams
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // the scrub: covered token indices -> anti-join -> ordered reassembly
    "dd_crossdoc_scrub" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(regexp_split_to_array(trim(text), '\s+')[3:14], ' ')
        |      AS text
        |  FROM documents WHERE doc_id < 5),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM corpus),
        |wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p,
        |         array_to_string(t[i:i+7], chr(31)) AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
        |        FROM toks WHERE len(t) >= 8)),
        |rep AS (SELECT g FROM wins GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |covp AS (
        |  SELECT DISTINCT doc_id, CAST(ci AS BIGINT) AS ci
        |  FROM (SELECT doc_id, unnest(generate_series(p, p + 7)) AS ci
        |        FROM wins JOIN rep USING (g))),
        |tokpos AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i, t[i] AS tok
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        |        FROM toks)),
        |kept AS (
        |  SELECT tp.doc_id, tp.i, tp.tok
        |  FROM tokpos tp LEFT JOIN covp c
        |    ON tp.doc_id = c.doc_id AND tp.i = c.ci
        |  WHERE c.doc_id IS NULL),
        |ka AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         string_agg(tok, ' ' ORDER BY i) AS text_scrubbed
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(ka.text_scrubbed, '') AS text_scrubbed,
        |  CAST(len(t.t) AS BIGINT) AS n_toks,
        |  CAST(len(t.t) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed
        |FROM toks t LEFT JOIN ka ON t.doc_id = ka.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "dd_exact" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
        |SELECT doc_id, md5(text) AS content_hash
        |FROM batch
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "dd_survivors_exact" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
        |SELECT doc_id
        |FROM batch
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    // same answer through the forced distributed-components path
    "dd_survivors_dist" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
        |SELECT doc_id
        |FROM batch
        |QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    // chain components: a doc survives iff it starts a run of
    // consecutive ids (its component minimum)
    "dd_survivors_chain" ->
      """SELECT doc_id FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents p WHERE p.doc_id = d.doc_id - 1)
        |ORDER BY doc_id""".stripMargin,

    // Same md5 pipeline as dd_minhash_md5 at threshold 0.9, then
    // survivors = min-id per connected component: undirected reachability
    // closure as a recursive CTE, label = min reachable id, keep docs
    // that are their own label (or in no pair at all). Component shapes
    // here are planted pairs + small natural clusters, so the closure is
    // tiny; the ENGINE side still runs the scale machinery
    // (checkpointed min-label propagation).
    "dd_survivors_md5" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 300),
        |t0 AS (
        |  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM d),
        |sh AS (
        |  SELECT id, list_distinct([array_to_string(t[i:i+1], ' ')
        |                            for i in range(1, len(t))]) AS sh
        |  FROM t0 WHERE len(t) >= 2),
        |e AS (SELECT id, unnest(sh) AS s FROM sh),
        |hs AS (
        |  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS h
        |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
        |  GROUP BY id, seed),
        |sig AS (SELECT id, list(h ORDER BY seed) AS sig FROM hs GROUP BY id),
        |band AS (
        |  SELECT id, b, array_to_string(sig[2*b+1:2*b+2], '|') AS bh
        |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bs),
        |cand AS (
        |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
        |  FROM band x JOIN band y ON x.b = y.b AND x.bh = y.bh AND x.id < y.id),
        |p AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b, len(list_intersect(a.sh, b.sh)) AS n_inter,
        |           len(a.sh) AS na, len(b.sh) AS nb
        |    FROM cand JOIN sh a ON a.id = id_a JOIN sh b ON b.id = id_b)
        |  WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.9),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT a AS id, a AS r FROM edges
        |  UNION
        |  SELECT e2.a AS id, reach.r AS r
        |  FROM edges e2 JOIN reach ON reach.id = e2.b),
        |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
        |SELECT d.doc_id FROM d LEFT JOIN lab ON lab.id = d.doc_id
        |WHERE lab.label IS NULL OR lab.label = d.doc_id
        |ORDER BY doc_id""".stripMargin,

    // Mirrors minhashPairsPortable exactly: word-2-gram distinct shingles,
    // per-seed min of md5(seed || ':' || shingle) lowercase-hex digests
    // (lexicographic min ≡ Spark's array_min over ASCII hex), band key =
    // the 2 min-digests of the band joined with '|', candidates = pairs
    // sharing any band key, verify = exact set Jaccard >= 0.5. The doc
    // subset (300) keeps every band bucket far below the Spark side's
    // 1024 cap, so no bridge pairs perturb the all-pairs banding.
    "dd_cdc_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM d),
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
        |b1 AS (SELECT * FROM ch WHERE doc_id < 1000000),
        |b2 AS (SELECT * FROM ch WHERE doc_id >= 1000000),
        |k1 AS (SELECT DISTINCT fp FROM b1),
        |r1 AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |         CAST(COUNT(*) AS BIGINT) AS n_novel
        |  FROM b1 GROUP BY doc_id),
        |r2 AS (
        |  SELECT b2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |         CAST(SUM(CASE WHEN k1.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM b2 LEFT JOIN k1 ON b2.fp = k1.fp GROUP BY b2.doc_id)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |ORDER BY doc_id""".stripMargin,

    "dd_minhash_md5" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 300),
        |t0 AS (
        |  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM d),
        |sh AS (
        |  SELECT id, list_distinct([array_to_string(t[i:i+1], ' ')
        |                            for i in range(1, len(t))]) AS sh
        |  FROM t0 WHERE len(t) >= 2),
        |e AS (SELECT id, unnest(sh) AS s FROM sh),
        |hs AS (
        |  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS h
        |  FROM e CROSS JOIN (SELECT unnest(range(8)) AS seed) seeds
        |  GROUP BY id, seed),
        |sig AS (SELECT id, list(h ORDER BY seed) AS sig FROM hs GROUP BY id),
        |band AS (
        |  SELECT id, b, array_to_string(sig[2*b+1:2*b+2], '|') AS bh
        |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bs),
        |cand AS (
        |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
        |  FROM band x JOIN band y ON x.b = y.b AND x.bh = y.bh AND x.id < y.id),
        |ji AS (
        |  SELECT id_a, id_b, len(list_intersect(a.sh, b.sh)) AS n_inter,
        |         len(a.sh) AS na, len(b.sh) AS nb
        |  FROM cand JOIN sh a ON a.id = id_a JOIN sh b ON b.id = id_b)
        |SELECT id_a, id_b,
        |  CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
        |FROM ji
        |WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // Mirrors Dedup.simhashPairsPortable: 60-bit simhash from md5-hex
    // bit votes over distinct whitespace tokens (bit set iff vote sum
    // strictly > 0), 4x15-bit band chunks as the candidate filter,
    // Hamming (bit_count of xor) verify at <= 4. Identical fingerprints
    // share every chunk, so the per-doc band join reproduces both the
    // engine's cross-group pairs and its within-group hamming-0 pairs.
    "dd_simhash_md5" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 300),
        |toks AS (
        |  SELECT DISTINCT doc_id AS id,
        |         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM d),
        |hs AS (
        |  SELECT id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM hs CROSS JOIN (SELECT unnest(range(60)) AS i) bits
        |  GROUP BY id, i),
        |fp AS (
        |  SELECT id,
        |         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
        |                       ELSE 0 END) AS BIGINT) AS sh
        |  FROM votes GROUP BY id),
        |chunks AS (
        |  SELECT id, sh, b, (sh >> (b * 15)) & 32767 AS bh
        |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b) bs),
        |cand AS (
        |  SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.sh AS sh_a, y.sh AS sh_b
        |  FROM chunks x JOIN chunks y ON x.b = y.b AND x.bh = y.bh AND x.id < y.id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sh_a, sh_b)) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    "dd_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents WHERE doc_id < 300),
        |ex AS (SELECT id, unnest(toks) AS tok FROM toks),
        |sizes AS (SELECT id, len(toks) AS n FROM toks),
        |inter AS (
        |  SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
        |  FROM ex x JOIN ex y ON x.tok = y.tok AND x.id < y.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.id = id_a
        |JOIN sizes sb ON sb.id = id_b
        |ORDER BY jaccard DESC, id_a, id_b
        |LIMIT 100""".stripMargin,

    "dd_cluster_sizes" ->
      """WITH d AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT text FROM documents WHERE doc_id % 10 < 3),
        |g AS (SELECT md5(text) AS h, COUNT(*) AS cluster_size FROM d GROUP BY 1)
        |SELECT cluster_size, COUNT(*) AS n_clusters
        |FROM g GROUP BY 1
        |ORDER BY cluster_size""".stripMargin,

    // Mirrors Dedup.containmentPairs + the half-copy plant: distinct
    // chr(31)-joined 3-grams, df-pruned (> 64) BEFORE the pair join,
    // denominators from the unpruned per-doc gram-set size, rounded-6
    // containment both directions, keep pairs with either side ≥ 0.8.
    // The funnel replayed: corpus plant, exact first-wins, the
    // dd_containment pair CTE over the exact survivors, higher-id drop,
    // three scalar stage rows.
    "dd_funnel" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    array_to_string(t[1:CAST(floor((len(t) + 1) / 2) AS INT)], ' ') AS text
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM base WHERE doc_id < 50)),
        |ex AS (
        |  SELECT doc_id, text FROM corpus
        |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |grams AS (
        |  SELECT DISTINCT doc_id AS id, array_to_string(t[i:i+2], chr(31)) AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM ex)
        |        WHERE len(t) >= 3)),
        |sizes AS (SELECT id, COUNT(*) AS n FROM grams GROUP BY id),
        |rare AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 64),
        |pruned AS (SELECT id, g FROM grams JOIN rare USING (g)),
        |inter AS (
        |  SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
        |  FROM pruned x JOIN pruned y ON x.g = y.g AND x.id < y.id
        |  GROUP BY 1, 2),
        |dropped AS (
        |  SELECT DISTINCT id_b AS doc_id FROM inter
        |  JOIN sizes sa ON sa.id = id_a
        |  JOIN sizes sb ON sb.id = id_b
        |  WHERE greatest(round(CAST(n_inter AS DOUBLE) / sa.n, 6),
        |                 round(CAST(n_inter AS DOUBLE) / sb.n, 6)) >= 0.8),
        |fin AS (SELECT doc_id FROM ex ANTI JOIN dropped USING (doc_id)),
        |n0 AS (SELECT COUNT(*) AS n FROM corpus),
        |n1 AS (SELECT COUNT(*) AS n FROM ex),
        |n2 AS (SELECT COUNT(*) AS n FROM fin),
        |stages AS (
        |  SELECT 1 AS stage, 'raw' AS label,
        |    (SELECT n FROM n0) AS n_in, (SELECT n FROM n0) AS n_out
        |  UNION ALL
        |  SELECT 2, 'exact', (SELECT n FROM n0), (SELECT n FROM n1)
        |  UNION ALL
        |  SELECT 3, 'containment', (SELECT n FROM n1), (SELECT n FROM n2))
        |SELECT stage, label, n_in, n_out, n_in - n_out AS n_removed
        |FROM stages
        |ORDER BY stage""".stripMargin,

    "dd_containment" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE doc_id < 300),
        |docs AS (
        |  SELECT doc_id, t FROM base
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    t[1:CAST(floor((len(t) + 1) / 2) AS INT)] AS t
        |  FROM base WHERE doc_id < 50),
        |grams AS (
        |  SELECT DISTINCT doc_id AS id, array_to_string(t[i:i+2], chr(31)) AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM docs WHERE len(t) >= 3)),
        |sizes AS (SELECT id, COUNT(*) AS n FROM grams GROUP BY id),
        |rare AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 64),
        |pruned AS (SELECT id, g FROM grams JOIN rare USING (g)),
        |inter AS (
        |  SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
        |  FROM pruned x JOIN pruned y ON x.g = y.g AND x.id < y.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_inter,
        |  round(CAST(n_inter AS DOUBLE) / sa.n, 6) AS c_ab,
        |  round(CAST(n_inter AS DOUBLE) / sb.n, 6) AS c_ba
        |FROM inter
        |JOIN sizes sa ON sa.id = id_a
        |JOIN sizes sb ON sb.id = id_b
        |WHERE greatest(round(CAST(n_inter AS DOUBLE) / sa.n, 6),
        |               round(CAST(n_inter AS DOUBLE) / sb.n, 6)) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // union-of-fixed-length-intervals as a running least(L, gap) over
    // lag(): identical arithmetic to the Spark aggregate HOF (sorted
    // starts, first window contributes L)
    "dd_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i, array_to_string(t[i:i+4], chr(31)) AS g,
        |         len(t) AS n_toks
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
        |        FROM toks WHERE len(t) >= 5)),
        |rep AS (SELECT g FROM wins GROUP BY g HAVING COUNT(*) >= 2),
        |fl AS (
        |  SELECT doc_id, i,
        |    lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
        |  FROM wins JOIN rep USING (g)),
        |cov AS (
        |  SELECT doc_id, COUNT(*) AS n_repeated,
        |    SUM(LEAST(5, i - COALESCE(prev_i, i - 5))) AS covered
        |  FROM fl GROUP BY doc_id)
        |SELECT w.doc_id, MAX(w.n_toks) AS n_toks,
        |  CAST(MAX(w.n_toks) - 4 AS BIGINT) AS n_windows,
        |  COALESCE(MAX(cov.n_repeated), 0) AS n_repeated,
        |  CAST(COALESCE(MAX(cov.covered), 0) AS BIGINT) AS covered_tokens,
        |  ROUND(CAST(COALESCE(MAX(cov.covered), 0) AS DOUBLE) / MAX(w.n_toks), 4)
        |    AS repeated_frac
        |FROM wins w LEFT JOIN cov ON w.doc_id = cov.doc_id
        |GROUP BY w.doc_id
        |ORDER BY w.doc_id""".stripMargin
  )
}
