package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared machinery of the batch-partitioned indexes
  * ([[IncrementalDedup]] text shingles, [[graft.similarity.IncrementalVectors]]
  * embeddings, [[SemDedupIncremental]] cells, [[graft.text.PostingsIndex]]
  * postings): the parameter sidecar, the `batch=<id>` listing, the
  * retry-safe read, the hot-band stop-list (also over
  * [[BucketedIncrementalDedup]]'s stats table) and compaction live HERE
  * so a fix to any of them cannot silently miss one front. */
private[graft] object SignatureIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Validate or record the index's signature parameters in a
    * `_graft_params` sidecar: signatures from different parameters
    * silently match nothing, so a mismatched batch fails loudly. */
  def checkParams(spark: SparkSession, indexDir: String, want: String): Unit = {
    val p = new Path(indexDir, "_graft_params")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(p)) {
      val in = hfs.open(p)
      val got = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
      require(got == want,
        s"index at $indexDir was built with [$got]; this batch uses [$want]")
    } else {
      hfs.mkdirs(new Path(indexDir))
      val out = hfs.create(p, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Every `batch=<id>` entry directly under `dir`, as (id, path) — one
    * driver-side listing, empty if `dir` does not exist. Entries are not
    * filtered on being directories: index roots only ever hold partition
    * directories under that name, and the `_maxids` sidecar holds one
    * file per batch. Also the gate of the fresh-index fast path: a first
    * batch probes a provably-empty index (no entry other than its own —
    * a RETRY of batch 1 sees only its own partition, which every read
    * excludes anyway), so its stop-list, candidate join and verify are
    * pure scheduler overhead. */
  def batches(spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(root)) Seq.empty
    else hfs.listStatus(root).toIndexedSeq.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("batch=")) n.stripPrefix("batch=").toLongOption.map(_ -> s.getPath)
      else None
    }
  }

  /** Read every `batch=<id>` partition EXCEPT `excludeBatch` (idempotent
    * retry: a rerun must not see its own previous append). The explicit
    * schema (which must include the `batch` partition column) means an
    * empty or partially-written index reads as empty instead of failing
    * parquet schema inference. */
  def read(spark: SparkSession, indexDir: String, schema: StructType,
           excludeBatch: Long): DataFrame =
    spark.read.schema(schema).parquet(indexDir)
      .filter(col("batch") =!= excludeBatch)
      .drop("batch")

  /** The `batch=<id>` partitions under `dir` whose id `keep` admits, as
    * one frame of `schema` (which must include `batch`). The partitions
    * come from the [[batches]] listing and are read with `basePath`, so
    * `batch` stays a partition column and an underscore-prefixed `dir`
    * (the `_stats` sidecar) is not taken for a hidden path; no partition
    * reads as the schema's empty frame. */
  def readBatches(spark: SparkSession, dir: String, schema: StructType,
                  keep: Long => Boolean): DataFrame = {
    val paths = batches(spark, dir).collect { case (b, p) if keep(b) => p.toString }
    if (paths.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).option("basePath", dir).parquet(paths: _*)
  }

  /** The INCREMENTAL stats subtree of a directory index, every batch
    * except `excludeBatch`: keyCols + n. `statsSchema` must be keyCols +
    * (n long) + (batch long). */
  def readStats(spark: SparkSession, indexDir: String, statsSchema: StructType,
                excludeBatch: Long): DataFrame =
    readBatches(spark, statsDir(indexDir), statsSchema, _ != excludeBatch).drop("batch")

  /** Non-informative hot buckets from an index's per-batch stats
    * (keyCols + n, the current batch already excluded): buckets whose
    * summed index frequency exceeds `cap` are returned (materialized) for
    * anti-join exclusion, and their count is logged — a bucket shared by
    * ~everything would explode the batch×index join quadratically; docs
    * still probe via their remaining bands.
    *
    * Scale shape: per-batch bucket counts are tiny pre-aggregates written
    * at commit time (by [[writeStats]], or the bucketed index's `_stats`
    * table), so computing the stop-list reads ONLY the stats — never a
    * full scan of the index's signature column per batch. */
  def stopList(stats: DataFrame, keyCols: Seq[String], cap: Int,
               label: String): DataFrame = {
    // LAZY checkpoint: the count below materializes the blocks and
    // returns the size in one job instead of a checkpoint job + a count
    // job (the stop-list is consumed by two anti-joins downstream, so
    // the materialization itself is still required)
    val hot = hotBuckets(stats, keyCols, cap).localCheckpoint(eager = false)
    logHot(hot.count(), cap, label)
    hot
  }

  /** [[stopList]] collected to the driver, for plans that run there. */
  def stopListRows(stats: DataFrame, keyCols: Seq[String], cap: Int,
                   label: String): Array[Row] = {
    val hot = hotBuckets(stats, keyCols, cap).collect()
    logHot(hot.length, cap, label)
    hot
  }

  private def hotBuckets(stats: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    stats.groupBy(keyCols.map(col): _*).agg(sum(col("n")).as("n"))
      .filter(col("n") > cap)
      .select(keyCols.map(col): _*)

  private def logHot(nHot: Long, cap: Int, label: String): Unit =
    if (nHot > 0)
      log.warn(s"$label: stop-listing $nHot bucket(s) with index frequency > $cap")

  /** Commit a batch's per-bucket counts alongside its signatures. The
    * stats live in an underscore-prefixed subtree of the index directory,
    * which parquet readers of the index itself IGNORE (Spark's file index
    * hides `_`-prefixed paths) — one directory to manage, two logical
    * tables. Overwrite per batch partition = idempotent like the
    * signature write. */
  def writeStats(banded: DataFrame, indexDir: String, keyCols: Seq[String],
                 batchId: Long): Unit =
    writeCounts(banded.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n")),
      indexDir, batchId)

  /** [[writeStats]] from per-bucket counts that are already aggregated
    * (keyCols + n long), e.g. on the driver. Same partition, same
    * overwrite. */
  def writeCounts(counts: DataFrame, indexDir: String, batchId: Long): Unit =
    counts.write.mode("overwrite").parquet(s"${statsDir(indexDir)}/batch=$batchId")

  /** Compact the index's batch partitions: every batch strictly below
    * the LATEST non-negative batch id (which stays untouched — it is the
    * only id a foreachBatch retry can legally reuse, and a retry
    * overwrites its own partition) folds into one consolidated partition
    * `batch=-(maxCompacted)`, and the originals are deleted. Negative
    * ids are prior consolidations and fold in too. Fixes the
    * daily-ingest small-files problem: after N batches the index is one
    * consolidated partition + the live batch, not N directories.
    *
    * Retry safety: consolidated ids are negative, foreachBatch ids are
    * non-negative — `read`'s excludeBatch can never exclude (and an
    * overwrite can never destroy) consolidated data.
    *
    * Crash safety: consolidated data is WRITTEN (signatures, then stats,
    * then an own `_graft_commit` marker inside `batch=gen`) before any
    * original is deleted, and deletes remove signature dirs before stats
    * dirs — so a rerun can always classify where the crash landed from
    * the filesystem alone. The marker is compact's OWN commit record:
    * `_SUCCESS` would vanish under
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` (common on
    * object stores) and a mid-delete crash would then be misclassified
    * as mid-write, regenerating `batch=gen` from only the SURVIVING
    * originals — silent data loss. The regenerate path clears any stale
    * marker first (the signature overwrite deletes the directory that
    * holds it).
    *
    *  - `batch=gen` absent or missing `_graft_commit` → the crash hit
    *    mid-write, every original is intact → regenerate both
    *    consolidated partitions with `mode(overwrite)` from the
    *    originals (the rerun behaves exactly like a first run; the
    *    partial `batch=gen` is never READ, only clobbered);
    *  - `batch=gen` carries `_graft_commit` → both writes completed and
    *    the crash hit mid-delete; `batch=gen` already holds every fold
    *    source's data (surviving originals are a duplicated subset) →
    *    skip the writes and finish the deletes.
    *
    * Either way the rerun converges to the same healthy state — compact
    * is idempotent under crash-rerun, never wedged. Stats partitions
    * whose signature sibling is gone (possible only mid-delete, since
    * writes create signatures first) are swept as residue up front.
    *
    * Returns the number of batch partitions folded (0 = nothing to do).
    *
    * `partitionCols`: sub-partition columns WITHIN each batch (e.g. the
    * postings index's term bucket `tb`) — the consolidated write
    * re-partitions by them so directory-level pruning survives
    * compaction; the fold read recovers them from the source dirs. */
  def compact(spark: SparkSession, indexDir: String, schema: StructType,
              statsSchema: StructType, keyCols: Seq[String],
              partitionCols: Seq[String] = Nil): Int = {
    val root = new Path(indexDir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(root)) return 0
    val sig = batches(spark, indexDir)
    // sweep stats residue: a stats dir with no signature sibling can only
    // be the tail of an interrupted delete phase (writes create the
    // signature partition first; deletes remove it first), so its rows
    // are already folded into a consolidated partition
    val sigIds = sig.map(_._1).toSet
    batches(spark, statsDir(indexDir)).filterNot(s => sigIds.contains(s._1))
      .foreach(s => hfs.delete(s._2, true))
    val nonneg = sig.map(_._1).filter(_ >= 0)
    if (nonneg.isEmpty) return 0
    val live = nonneg.max
    val fold = sig.filter(_._1 != live)
    if (live == 0 || fold.size < 2) return 0 // nothing worth folding
    // the consolidated id derives from LIVE, which is never in the fold
    // set — so the write target is never a directory being read. A
    // pre-existing `batch=gen` is a crashed prior run's leftover: it is
    // excluded from the READ set unconditionally and healed per the
    // contract above (a prior consolidation's id always derives from an
    // older, smaller live id and folds in as a normal source).
    val gen = -live
    val genSig = new Path(root, s"batch=$gen")
    val genStats = new Path(statsDir(indexDir), s"batch=$gen")
    val commitMarker = new Path(genSig, "_graft_commit")
    val foldRead = fold.filterNot(_._1 == gen)
    val foldIds = foldRead.map(_._1).toSet
    val foldStats = batches(spark, statsDir(indexDir)).filter(s => foldIds.contains(s._1))
    val priorComplete = hfs.exists(commitMarker)
    if (!priorComplete) {
      val noBatch = StructType(schema.filterNot(_.name == "batch"))
      // the overwrite deletes genSig first — including any stale marker
      // from a partially-written prior attempt. Sub-partitioned sources
      // are read one root at a time and unioned: a multi-path read over
      // nested partition dirs trips partition-inference's common-base
      // check, and a basePath of the index root would re-introduce the
      // excluded `batch` column.
      val folded =
        if (partitionCols.isEmpty)
          spark.read.schema(noBatch).parquet(foldRead.map(_._2.toString): _*)
        else foldRead.map(p => spark.read.schema(noBatch).parquet(p._2.toString))
          .reduce(_ unionByName _)
      val writer = if (partitionCols.isEmpty) folded.write
        else folded.write.partitionBy(partitionCols: _*)
      writer.mode("overwrite").parquet(genSig.toString)
      // stats: re-aggregate the folded partitions into one
      if (foldStats.nonEmpty) {
        val noBatchStats = StructType(statsSchema.filterNot(_.name == "batch"))
        spark.read.schema(noBatchStats).parquet(foldStats.map(_._2.toString): _*)
          .groupBy(keyCols.map(col): _*).agg(sum(col("n")).as("n"))
          .write.mode("overwrite").parquet(genStats.toString)
      }
      // both writes durable → commit; only now may deletes begin
      hfs.create(commitMarker, true).close()
    } else {
      log.info(s"compact of $indexDir resuming after an interrupted delete " +
        s"phase: batch=$gen is complete, finishing the deletes only")
    }
    // deletes come LAST (see crash-safety contract above): signature
    // partitions first, then stats — the order the healing rules assume
    (foldRead.map(_._2) ++ foldStats.map(_._2)).foreach(p => hfs.delete(p, true))
    log.info(s"compacted ${foldRead.size} batch partition(s) of $indexDir into batch=$gen")
    foldRead.size
  }

  private def statsDir(indexDir: String): String = s"$indexDir/_stats"
}
