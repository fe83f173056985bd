package graft.dedup

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{HashedShingles, MinHashBands, TokenCount}

/** Incremental near-dup dedup against a persistent survivor index — the
  * daily-ingest shape of a training-data pipeline: yesterday's corpus is
  * already deduplicated and indexed; today's batch must only be compared
  * against the index plus itself, never re-pairing the historical corpus.
  *
  * The index is a parquet table of surviving documents' shingle-hash sets
  * and LSH band hashes (id, sh array<long>, bands array<long>) — ~tens of
  * bytes per doc, NOT the documents — laid out one partition directory
  * per batch (`batch=<id>`). Per batch:
  *
  *  1. batch docs → hashed shingles + bands + 128-bit content key (ONE
  *     native pass, reused by the index probe, the within-batch pairing
  *     and the index append);
  *  2. plan choice: one `take(bucketCap + 1)` of those signature rows.
  *     At most `bucketCap` rows means no LSH bucket can exceed the cap, so
  *     [[Dedup.boundedBucketPairs]]' salting and bridges provably do
  *     nothing and the batch runs on the DRIVER with exactly the same
  *     pairs (step 3). More rows run the distributed plan (step 4). A
  *     small batch thus costs a handful of Spark jobs per commit instead
  *     of dozens of scheduler round-trips over a few kB;
  *  3. driver plan:
  *     a. index probe (skipped on a fresh index): collect the hot-band
  *        stop-list ([[SignatureIndex.stopListRows]]), drop those bands
  *        from the batch's content representatives, and scan the index
  *        once — exploded by band, broadcast-joined to the local
  *        (band, rep, sh) relation, exact set-Jaccard verified in the
  *        same stage — collecting the matching reps; every exact copy of
  *        a matching rep is dropped (FIRST-WINS, like the reference's
  *        insert dedup J9: what's already in wins);
  *     b. the remaining rows pair with each other through
  *        [[Dedup.localMinhashPairs]] and cluster through
  *        [[Dedup.clusters]] (min-id per component);
  *     c. the survivors (docs minus the dropped ids) are eagerly
  *        checkpointed, then the survivors' signatures and per-band
  *        counts are written from the local rows, one job each;
  *  4. distributed plan: the same steps as Spark jobs — the batch×index
  *     band join (batch-side exact duplicates collapse to one
  *     representative first) verified by exact set-Jaccard, then
  *     [[Dedup.minhashPairsFromShingles]] + [[Dedup.survivors]] over the
  *     remaining docs, then the survivors' signatures and band counts
  *     written by Spark;
  *  5. either way the batch's survivors overwrite their own `batch=<id>`
  *     partition of the index (and of its `_stats` subtree) — so a
  *     Structured-Streaming retry of the same batchId is idempotent:
  *     every index read excludes the current batchId's partition, and
  *     the write replaces it. The two plans give identical survivors,
  *     index partitions and stats rows (unit-proven in
  *     IncrementalPlanSpec).
  *
  * Hot-band guard: bands whose INDEX frequency exceeds `bandCap` are
  * stop-listed out of candidate generation (logged) — a band shared by
  * ~everything is non-informative and would otherwise explode the
  * batch×index join quadratically; the doc's other bands still probe
  * (multi-band redundancy), which is the standard recall trade.
  *
  * Equivalence contract (unit-proven): feeding a corpus in id-ascending
  * batches yields the same final survivor set as one global batch pass
  * when near-dup components are DENSE (every member links to the
  * surviving representative — true at thresholds ≥0.8 for
  * boilerplate-style duplication). Like every greedy incremental dedup,
  * cross-batch TRANSITIVE closure is not re-evaluated: a doc linking
  * only to an already-dropped doc (not to its surviving representative)
  * survives.
  *
  * Streaming: drive `addBatch` from `foreachBatch(batchDf, batchId)` —
  * the partition overwrite is the per-batch state commit. Docs shorter
  * than `shingleN` tokens have no shingles, can match nothing, and pass
  * through unindexed. The index records its (shingleN, k, bands)
  * parameters in a `_graft_params` sidecar and refuses a mismatched
  * batch — signatures from different parameters silently match nothing.
  */
object IncrementalDedup {

  private val indexSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("bands", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("batch", LongType, nullable = false)))

  private val statsSchema = StructType(Seq(
    StructField("band", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("batch", LongType, nullable = false)))

  /** Fold all settled batch partitions (everything below the live batch)
    * into one consolidated partition — run periodically so N daily
    * batches cost one directory, not N (the small-files problem).
    * Retry- and crash-safety contract in [[SignatureIndex.compact]].
    * Returns the number of partitions folded. */
  def compactIndex(spark: SparkSession, indexDir: String): Int =
    SignatureIndex.compact(spark, indexDir, indexSchema, statsSchema, Seq("band"))

  /** Process one arriving batch of (id, text) docs against the survivor
    * index at `indexDir` (created on first call). Returns the batch's
    * surviving docs (all original columns), materialized before the
    * index write. `batchId` must be unique per logical batch and stable
    * across retries (foreachBatch's batchId). */
  def addBatch(docs: DataFrame, idCol: String, textCol: String, indexDir: String,
               batchId: Long,
               shingleN: Int = 3, k: Int = 16, bands: Int = 4,
               minJaccard: Double = 0.8, bucketCap: Int = 1024,
               bandCap: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    SignatureIndex.checkParams(spark, indexDir,
      s"shingleN=$shingleN,k=$k,bands=$bands")

    val sigs = signatures(docs, idCol, textCol, shingleN, k, bands)

    // fresh-index fast path (the BucketedIncrementalDedup r17
    // precedent): a first batch probes a provably-empty index — every
    // read excludes this batch's own partition and nothing else exists —
    // so the stop-list, the candidate join and the verify are skipped. A
    // batch-1 RETRY sees only its own partition, which the reads
    // exclude, so the skip stays correct under retries.
    val fresh = !SignatureIndex.batches(spark, indexDir).exists(_._1 != batchId)
    Dedup.takeSigs(sigs, bucketCap) match {
      case Some(rows) =>
        addLocal(docs, idCol, indexDir, batchId, rows, fresh, minJaccard, bandCap)
      case None =>
        addDistributed(docs, idCol, indexDir, batchId, sigs.localCheckpoint(eager = true),
          fresh, k, bands, minJaccard, bucketCap, bandCap)
    }
  }

  /** The driver plan of a batch of at most `bucketCap` signature rows
    * (step 3 of the scaladoc above). */
  private def addLocal(docs: DataFrame, idCol: String, indexDir: String, batchId: Long,
                       sigs: Seq[Dedup.Sig], fresh: Boolean, minJaccard: Double,
                       bandCap: Int): DataFrame = {
    val spark = docs.sparkSession
    val matched =
      if (fresh) Set.empty[Long]
      else probeIndexLocal(spark, sigs, indexDir, batchId, bandCap, minJaccard)
    val remaining = sigs.filterNot(s => matched(s.id))
    val pairs = Dedup.localMinhashPairs(remaining, minJaccard)
    val clustered = Dedup.clusters(pairs.map(p => (p._1, p._2)))
      .collect { case (id, c) if id != c => id }
    val dropped = matched ++ clustered

    // survivors computed BEFORE the index write below; a null id matches
    // nothing, as in the distributed plan's anti-join
    val surv = (if (dropped.isEmpty) docs
      else docs.filter(!coalesce(col(idCol).isInCollection(dropped), lit(false))))
      .localCheckpoint(eager = true)

    // idempotent commit from the local rows, one single-file job each
    val committed = remaining.filterNot(s => dropped(s.id))
    val sigRows = committed.map(s => Row(s.id, s.sh.toSeq, s.bands.toSeq))
    spark.createDataFrame(sigRows.asJava, StructType(indexSchema.dropRight(1)))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    val counts = committed.flatMap(_.bands).groupBy(identity).toSeq
      .map { case (b, bs) => Row(b, bs.size.toLong) }
    SignatureIndex.writeCounts(
      spark.createDataFrame(counts.asJava, StructType(statsSchema.dropRight(1))).coalesce(1),
      indexDir, batchId)

    surv
  }

  /** The driver plan's index probe: the ids of batch rows whose content
    * near-matches an indexed survivor. One index scan, exploded by band
    * and broadcast-joined to the batch representatives' non-hot bands,
    * verified in the same stage with the distributed plan's Jaccard
    * expression. */
  private def probeIndexLocal(spark: SparkSession, sigs: Seq[Dedup.Sig],
                              indexDir: String, batchId: Long, bandCap: Int,
                              minJaccard: Double): Set[Long] = {
    val hot = SignatureIndex.stopListRows(
      SignatureIndex.readStats(spark, indexDir, statsSchema, excludeBatch = batchId),
      Seq("band"), bandCap, "incremental dedup")
      .map(_.getLong(0)).toSet
    val groups = Dedup.contentGroups(sigs)
    val repBands = for ((rep, _, s) <- groups; b <- s.bands if !hot(b))
      yield Row(b, rep, s.sh.toSeq)
    if (repBands.isEmpty) return Set.empty
    val local = spark.createDataFrame(repBands.asJava, StructType(Seq(
      StructField("band", LongType, nullable = false),
      StructField("rep", LongType, nullable = false),
      StructField("sh", ArrayType(LongType, containsNull = false), nullable = false))))
    val matchedReps = SignatureIndex.read(spark, indexDir, indexSchema, excludeBatch = batchId)
      .select(col("sh").as("idx_sh"), explode(col("bands")).as("band"))
      .join(broadcast(local), "band")
      .withColumn("n_inter", graft.functions.SortedIntersectCount(col("sh"), col("idx_sh")))
      .filter(col("n_inter").cast("double") /
        (size(col("sh")) + size(col("idx_sh")) - col("n_inter")) >= minJaccard)
      .select(col("rep")).collect().map(_.getLong(0)).toSet
    groups.filter(g => matchedReps(g._1)).flatMap(_._2).toSet
  }

  /** The distributed plan of a batch (step 4 of the scaladoc above);
    * `sigs` is the batch's checkpointed signature frame. */
  private def addDistributed(docs: DataFrame, idCol: String, indexDir: String,
                             batchId: Long, sigs: DataFrame, fresh: Boolean,
                             k: Int, bands: Int, minJaccard: Double,
                             bucketCap: Int, bandCap: Int): DataFrame = {
    val spark = docs.sparkSession
    // empty frame derived FROM sigs (not a hardcoded LongType struct) so
    // the anti-joins below cannot silently type-mismatch if the id
    // contract ever widens (r18 ADVICE); limit(0) is plan-only, no job
    val dropped = if (fresh) sigs.select(col("id")).limit(0) else {
      val index = SignatureIndex.read(spark, indexDir, indexSchema, excludeBatch = batchId)
      // MinHashBands salts each band hash with its position, so the raw
      // value IS position-qualified in the stop-list
      probe(sigs,
        index.select(explode(col("bands")).as("band"), col("id").as("idx_id")),
        index.select(col("id").as("idx_id"), col("sh").as("idx_sh")),
        SignatureIndex.stopList(
          SignatureIndex.readStats(spark, indexDir, statsSchema, excludeBatch = batchId),
          Seq("band"), bandCap, "incremental dedup"),
        minJaccard)
    }
    val (surv, committed) = withinBatch(docs, idCol, sigs, dropped, k, bands, minJaccard, bucketCap)
    // idempotent commit: this batch's survivors replace their own
    // partition, and their per-band counts land in the stats subtree so
    // future stop-lists never rescan the index
    committed.write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    SignatureIndex.writeStats(
      committed.select(explode(col("bands")).as("band")),
      indexDir, Seq("band"), batchId)

    surv
  }

  /** ONE native signature pass per batch, shared by both index layouts
    * ([[BucketedIncrementalDedup]] too) and reused by the index probe, the
    * within-batch pairing and the index append: (id, sh, bands, chash).
    * Short docs survive unconditionally and are never indexed. chash is
    * the canonical 128-bit content key (sh is sorted-distinct, so same
    * set ⇒ same key). */
  private[graft] def signatures(docs: DataFrame, idCol: String, textCol: String,
                                shingleN: Int, k: Int, bands: Int): DataFrame =
    docs
      .filter(TokenCount(col(textCol)) >= shingleN)
      .select(col(idCol).as("id"),
        HashedShingles(col(textCol), shingleN).as("sh"))
      .withColumn("bands", MinHashBands(col("sh"), k, bands))
      .withColumn("chash", Dedup.contentKey(col("sh")))

  /** The distributed index probe of one batch, shared by both index
    * layouts: which batch ids near-match an indexed survivor (eagerly
    * checkpointed bare-id frame — two downstream consumers read it).
    * `idxBands` (band, idx_id) and `idxSh` (idx_id, idx_sh) are the index
    * minus the current batch; `hot` (band) is its stop-list.
    *
    * The stop-list is BROADCAST into both anti-joins: it is bounded by
    * Σn / (bandCap + 1) rows, and as a broadcast build side it leaves the
    * index side's partitioning intact — a bucketed index then reads
    * bucket-aligned into the candidate join with no exchange even when
    * broadcast joins are otherwise off (plan-pinned in BucketedIndexSpec);
    * as a sort-merge anti-join it would re-shuffle the whole index. */
  private[graft] def probe(sigs: DataFrame, idxBands: DataFrame, idxSh: DataFrame,
                           hot: DataFrame, minJaccard: Double): DataFrame = {
    // batch×index candidates: ONE representative per distinct batch
    // content (exact dups share the verdict), ids only through the join.
    // Persisted: the `dropped` plan references this aggregate three ways
    // (banding, verify, verdict expansion) and exchange reuse does not
    // cover all of them. Unpersisted right after `dropped` materializes:
    // the session CacheManager holds a STRONG reference to a persisted
    // plan (the ContextCleaner never reclaims it on its own), so skipping
    // the unpersist leaks one cache entry per foreachBatch call on a
    // long-running stream. Blocking unpersist AFTER the eager checkpoint
    // returns cannot race anything — every consumer of `reps` sits under
    // that one completed action.
    val reps = sigs.groupBy(col("chash"))
      .agg(min(col("id")).as("rep"), first(col("sh")).as("sh"),
        first(col("bands")).as("bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repBands = reps.select(col("rep"), explode(col("bands")).as("band"))
      .join(broadcast(hot), Seq("band"), "left_anti")
    val cand = repBands.join(idxBands.join(broadcast(hot), Seq("band"), "left_anti"), "band")
      .select(col("rep"), col("idx_id")).distinct()
    val droppedReps = cand
      .join(reps.select(col("rep"), col("sh")), "rep")
      .join(idxSh, "idx_id")
      .withColumn("n_inter", graft.functions.SortedIntersectCount(col("sh"), col("idx_sh")))
      .withColumn("j", col("n_inter").cast("double") /
        (size(col("sh")) + size(col("idx_sh")) - col("n_inter")))
      .filter(col("j") >= minJaccard)
      .select(col("rep")).distinct()
    // expand the rep verdict to every exact copy in the batch. Eagerly
    // checkpointed: `dropped` has two consumers (the doc anti-join and the
    // signature anti-join in [[withinBatch]]), and its subtree is the whole
    // batch×index band join + Jaccard verify — without materialization
    // that subtree evaluates twice per batch (the multi-consumer lesson
    // this codebase keeps re-learning). The rows are bare ids: checkpoint
    // cost ~nil. finally: a failed checkpoint (transient task loss on a
    // stream) must still release the cache entry, or every foreachBatch
    // retry attempt leaks one — the crash-loop variant of the leak fixed
    // here
    try sigs
      .join(reps.join(droppedReps, "rep").select(col("chash")), Seq("chash"), "left_semi")
      .select(col("id"))
      .localCheckpoint(eager = true)
    finally reps.unpersist(blocking = true)
  }

  /** The distributed within-batch tail, shared by both index layouts:
    * the batch docs minus `dropped` (the probe's ids) dedup against each
    * other, REUSING the checkpointed signatures (no second hashing pass
    * over the text) AND the precomputed bands (pure function of sh — the
    * pair pipeline skips its per-distinct-content banding pass). Returns
    * the survivors, checkpointed BEFORE any index write, and the
    * survivors' (id, sh, bands) to commit — a cheap semi-join of two
    * CACHED frames that each write recomputes rather than paying an extra
    * materialization round-trip. */
  private[dedup] def withinBatch(docs: DataFrame, idCol: String, sigs: DataFrame,
                                 dropped: DataFrame, k: Int, bands: Int,
                                 minJaccard: Double, bucketCap: Int): (DataFrame, DataFrame) = {
    val remaining = docs.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    val remainingSh = sigs.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("sh"), col("bands"))
    val pairs = Dedup.minhashPairsFromShingles(remainingSh,
      k, bands, minJaccard, bucketCap)
    val surv = Dedup.survivors(remaining, idCol, pairs)
      .localCheckpoint(eager = true)
    val committed = sigs
      .join(surv.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id"), col("sh"), col("bands"))
    (surv, committed)
  }
}
