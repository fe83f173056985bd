package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Incremental CHUNK-level dedup against a persistent content-defined
  * chunk-fingerprint index — the passage-granularity sibling of
  * [[IncrementalDedup]] (whole-document near-dup): a new ingest batch
  * is scored by how many of its CDC chunks the corpus has already seen,
  * which catches copied PASSAGES inside otherwise-novel documents and
  * survives insertions/offsets (the CDC re-synchronization property —
  * see [[TextFunctions.cdcChunkFingerprints]]) where fixed-offset
  * chunking would miss every shifted copy.
  *
  * The index is a metastore table of DISTINCT-per-batch chunk
  * fingerprints (md5 strings, ~32 bytes per unique passage — not the
  * text), one `batch=<id>` partition per ingest batch, BUCKETED AND
  * SORTED BY `fp` — the [[BucketedIncrementalDedup]] storage
  * discipline. Scoring is one left-anti join of the batch's chunk
  * relation against the index on the bucket column, so the PER-BATCH
  * cost is one shuffle of the (small) batch side; the accumulated index
  * is read bucket-aligned with NO exchange, ever (plan-pinned in
  * `BucketedIndexSpec`), and per-ingest cost tracks the BATCH size, not
  * the corpus. No global `distinct()` is taken over the index: a
  * left-anti join is insensitive to right-side duplicates (a probe row
  * is dropped iff ANY match exists), so cross-batch repeats of a
  * fingerprint are harmless — re-deduplicating them per ingest was a
  * full-index shuffle per batch, the exact shape that does not survive
  * a growing corpus.
  *
  * Idempotency mirrors the other persistent indexes: reads exclude the
  * current batchId's partition (partition-pruned off disk) and the
  * commit replaces exactly that partition via a STATIC-partition
  * `INSERT OVERWRITE ... PARTITION (batch=<id>)`, so a foreachBatch
  * retry converges and scoring never sees a partial earlier attempt of
  * itself. A static partition spec overwrites only the named partition
  * under EITHER partitionOverwriteMode, so the commit never mutates the
  * caller's shared session conf (a dynamic-mode `conf.set` here would
  * silently change truncate-all → dynamic semantics for any concurrent
  * partitioned overwrite on the same session).
  */
object CdcIndex {

  private def chunks(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"), TextFunctions.wsTokens(col(textCol)).as("__t"))
      .select(col("__id"),
        explode(TextFunctions.cdcChunkFingerprints(col("__t"))).as("fp"))

  /** Score one ingest batch against the accumulated index and commit its
    * distinct fingerprints to its own `batch=<id>` partition of table
    * `base` (created bucketed-by-fp on first use). Returns per-doc
    * (idCol, n_chunks, n_novel): `n_novel` counts chunks the index had
    * NOT seen before this batch — a full-copy document scores 0 novel
    * even when its ids/offsets differ from the indexed original. */
  def addBatch(docs: DataFrame, idCol: String, textCol: String,
               base: String, batchId: Long, buckets: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val ch = chunks(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fresh = !spark.catalog.tableExists(base)
      if (fresh)
        ch.limit(0).select(col("fp"), lit(batchId).as("batch"))
          .write.partitionBy("batch").bucketBy(buckets, "fp").sortBy("fp")
          .saveAsTable(base)
      val all = ch.groupBy(col("__id")).agg(count(lit(1)).as("n_chunks"))
      // fresh index ⇒ the anti-probe is provably a no-op (reads exclude
      // this batch's own partition and nothing else exists): every chunk
      // is novel, so skip the join's scheduler round-trip entirely. A
      // RETRY of batch 1 sees fresh=false and takes the (still-correct,
      // still-empty) probe.
      val scored =
        if (fresh)
          all.select(col("__id"), col("n_chunks"),
            col("n_chunks").as("n_novel"))
        else {
          // index read excludes this batch's partition (retry
          // idempotency); duplicates across batches stay — left_anti
          // does not care
          val known = spark.table(base).filter(col("batch") =!= batchId)
            .select(col("fp"))
          val novel = ch.join(known, Seq("fp"), "left_anti")
            .groupBy(col("__id")).agg(count(lit(1)).as("n_novel"))
          all.join(novel, Seq("__id"), "left")
            .select(col("__id"), col("n_chunks"),
              coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        }
      // commit replaces exactly batch=<id> (STATIC partition spec — no
      // session-wide overwrite-mode mutation); the scoring join above
      // reads around it, so the batch's own fps never count against
      // itself
      BucketedIncrementalDedup.overwritePartition(ch.select(col("fp")).distinct(),
        base, batchId)
      scored.select(col("__id").as(idCol), col("n_chunks"), col("n_novel"))
        .localCheckpoint(eager = true)
    } finally ch.unpersist(blocking = true)
  }
}
