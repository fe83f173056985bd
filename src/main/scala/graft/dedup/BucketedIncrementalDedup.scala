package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table variant of [[IncrementalDedup]] — the index layout for
  * the regime where the INDEX side dominates: after months of daily
  * batches the accumulated survivor index dwarfs each arriving batch, and
  * the directory-partitioned layout re-shuffles the whole index through
  * the band join every batch. Here the index lives in two bucketed
  * metastore tables, so the PER-BATCH cost of both index joins is one
  * shuffle of the (small) batch side — the index is read bucket-aligned
  * with NO exchange, because the only other joins on the index side are
  * the anti-joins against the hot-band stop-list, which the shared probe
  * always broadcasts (a sort-merge anti-join would re-shuffle the index;
  * plan-pinned in `BucketedIndexSpec` with broadcast joins otherwise off):
  *
  *  - `<base>_bands` (band, id), PARTITIONED BY batch, bucketed+sorted by
  *    `band` — the candidate join reads it sort-merge-bucket style;
  *  - `<base>_sh` (id, sh), PARTITIONED BY batch, bucketed+sorted by
  *    `id` — the exact-Jaccard verify join reads it the same way;
  *  - `<base>_stats` (band, n), PARTITIONED BY batch, unbucketed tiny
  *    pre-aggregates — the hot-band stop-list reads ONLY these, through
  *    [[SignatureIndex.stopList]].
  *
  * Idempotency mirrors the directory index: every read excludes the
  * current batchId's partition and every write replaces exactly that
  * partition (STATIC-partition `INSERT OVERWRITE` — validated to
  * preserve bucketing on rewrite, and partition-scoped under either
  * session overwrite mode), so a foreachBatch retry converges.
  * The bucket count is fixed at index creation and recorded
  * (with the signature parameters) in `graft.params` table properties;
  * a mismatched batch fails loudly, same contract as the `_graft_params`
  * sidecar.
  *
  * Only the storage is this object's own: the table DDL, the
  * `graft.params` check, the three-table commit and the compaction
  * protocol. The signature pass, the index probe (exact-dup collapse,
  * band join, verify), the stop-list and the within-batch tail are the
  * directory index's own functions ([[IncrementalDedup.signatures]],
  * [[IncrementalDedup.probe]], [[SignatureIndex.stopList]],
  * [[IncrementalDedup.withinBatch]]), fed this index's two tables
  * instead of the exploded directory read — so the two layouts cannot
  * drift apart.
  */
object BucketedIncrementalDedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def bandsT(base: String) = s"${base}_bands"
  private def shT(base: String) = s"${base}_sh"
  private def statsT(base: String) = s"${base}_stats"

  private def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  private def getProp(spark: SparkSession, table: String, key: String): Option[String] = {
    val rows = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
    rows.find(_.getString(0) == key).map(_.getString(1))
  }

  /** Params already validated this session, keyed by (catalog-default db
    * irrelevant here) table base → params string. A stream commits one
    * batch per trigger against the same index, so the SHOW TBLPROPERTIES
    * round-trip repeats with an identical answer every batch — cache it.
    * Sound across a same-session DROP+recreate because the table-creation
    * branch of [[addBatch]] (the only place these tables are created)
    * BOTH purges every cached entry for the base AND records
    * `graft.params` on the fresh table — so "table exists ⇒ property
    * recorded" is an invariant, and a cache hit always refers to the
    * current incarnation's recorded params. A later batch with different
    * params therefore misses the cache, reads the recorded property, and
    * fails loudly. (A DROP+recreate by a DIFFERENT session is a
    * cross-session metastore race, out of contract — same as the
    * directory index's `_graft_params` sidecar.) */
  private val validatedParams =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Validate the index parameters against the recorded `graft.params`.
    * Tables created by [[addBatch]] always carry the property (set in the
    * creation branch); the `None` arm only adopts a pre-existing table
    * created by an older writer, recording the first caller's params. */
  private def checkParams(spark: SparkSession, base: String, want: String): Unit = {
    if (validatedParams.contains((base, want))) return
    getProp(spark, bandsT(base), "graft.params") match {
      case Some(got) =>
        require(got == want,
          s"bucketed index $base was built with [$got]; this batch uses [$want]")
      case None =>
        spark.sql(s"ALTER TABLE ${bandsT(base)} " +
          s"SET TBLPROPERTIES('graft.params'='$want')")
    }
    validatedParams.add((base, want))
    ()
  }

  /** Process one arriving batch of (id, text) docs against the bucketed
    * survivor index `base` (tables created on first call). Same contract
    * and same defaults as [[IncrementalDedup.addBatch]]. */
  def addBatch(docs: DataFrame, idCol: String, textCol: String, base: String,
               batchId: Long,
               shingleN: Int = 3, k: Int = 16, bands: Int = 4,
               minJaccard: Double = 0.8, bucketCap: Int = 1024,
               bandCap: Int = 4096, buckets: Int = 8): DataFrame = {
    val spark = docs.sparkSession

    val sigs = IncrementalDedup.signatures(docs, idCol, textCol, shingleN, k, bands)
      .localCheckpoint(eager = true)

    val params = s"shingleN=$shingleN,k=$k,bands=$bands,buckets=$buckets"
    val fresh = !tableExists(spark, bandsT(base))
    if (fresh) {
      // a recreate after a same-session DROP must not inherit the old
      // incarnation's validations — purge BEFORE creating, so the
      // invariant "cache entry ⇒ recorded on the current tables" holds
      validatedParams.removeIf(_._1 == base)
      // create the three tables empty with the bucketed layout; data
      // lands through the same INSERT path every batch takes
      val empty = sigs.limit(0)
      empty.select(explode(col("bands")).as("band"), col("id"), lit(batchId).as("batch"))
        .write.partitionBy("batch").bucketBy(buckets, "band").sortBy("band")
        .saveAsTable(bandsT(base))
      empty.select(col("id"), col("sh"), lit(batchId).as("batch"))
        .write.partitionBy("batch").bucketBy(buckets, "id").sortBy("id")
        .saveAsTable(shT(base))
      empty.select(explode(col("bands")).as("band"), lit(0L).as("n"),
          lit(batchId).as("batch"))
        .write.partitionBy("batch").saveAsTable(statsT(base))
      // record params AT creation — "table exists ⇒ params recorded" is
      // what makes the checkParams session cache sound (a later batch
      // with different params always finds a property to fail against)
      spark.sql(s"ALTER TABLE ${bandsT(base)} " +
        s"SET TBLPROPERTIES('graft.params'='$params')")
    }
    checkParams(spark, base, params)

    // fresh index ⇒ the probe is provably a no-op (every read excludes
    // this batch's own partition and nothing else exists), so skip its
    // scheduler round-trips (stop-list, reps persist, candidate+verify
    // joins) — the first batch of every stream pays only the
    // within-batch pass. A RETRY of batch 1 sees fresh=false and takes
    // the normal (still-correct, still-empty) probe. The empty frame is
    // derived from sigs and plan-only, as in the directory index.
    def others(t: String) = spark.table(t).filter(col("batch") =!= batchId)
    val dropped = if (fresh) sigs.select(col("id")).limit(0)
      else IncrementalDedup.probe(sigs,
        others(bandsT(base)).select(col("band"), col("id").as("idx_id")),
        others(shT(base)).select(col("id").as("idx_id"), col("sh").as("idx_sh")),
        SignatureIndex.stopList(others(statsT(base)), Seq("band"), bandCap,
          "bucketed incremental dedup"),
        minJaccard)
    val (surv, committed) = IncrementalDedup.withinBatch(docs, idCol, sigs, dropped,
      k, bands, minJaccard, bucketCap)

    // idempotent commit: a STATIC-partition INSERT OVERWRITE replaces
    // exactly this batch's partition in all three tables, preserving the
    // bucketed layout on rewrite (proven in BucketedIndexSpec) — and
    // never touching the session's partitionOverwriteMode (see
    // [[overwritePartition]])
    overwritePartition(
      committed.select(explode(col("bands")).as("band"), col("id")),
      bandsT(base), batchId)
    overwritePartition(
      committed.select(col("id"), col("sh")), shT(base), batchId)
    overwritePartition(
      committed.select(explode(col("bands")).as("band"))
        .groupBy(col("band")).agg(count(lit(1)).as("n"))
        .select(col("band"), col("n")),
      statsT(base), batchId)

    surv
  }

  /** Commit `df` (the table's DATA columns, in table order, WITHOUT the
    * `batch` partition column) as the entire content of partition
    * batch=<id> — a STATIC partition spec replaces only that partition
    * under EITHER `partitionOverwriteMode`, so nothing here mutates the
    * caller's shared session conf (a session-wide dynamic-mode set would
    * silently change truncate-all → dynamic semantics for any concurrent
    * partitioned overwrite on the same session). The staging view's name
    * carries the sanitized table name, so two indexes committing in one
    * application never clobber each other's view. Also [[CdcIndex]]'s
    * commit. */
  private[dedup] def overwritePartition(df: DataFrame, table: String, batchId: Long): Unit = {
    val spark = df.sparkSession
    val tmp = ("graft_commit_" + table + "_" +
      spark.sparkContext.applicationId).replaceAll("[^A-Za-z0-9_]", "_")
    df.createOrReplaceTempView(tmp)
    try spark.sql(s"INSERT OVERWRITE TABLE $table PARTITION (batch=$batchId) " +
      s"SELECT * FROM $tmp")
    finally { spark.catalog.dropTempView(tmp); () }
  }

  /** Fold settled batch partitions (strictly below the latest
    * non-negative batch) into one consolidated `batch=-live` partition
    * across all three tables, then drop the originals. Two-phase like
    * [[SignatureIndex.compact]]: the `graft.compact.pending` marker is
    * set AFTER all three consolidated writes complete and cleared AFTER
    * the drops, so a rerun classifies the crash from the marker alone —
    * marker present ⇒ writes complete ⇒ finish only the drops; marker
    * absent ⇒ every original is intact (drops happen only under the
    * marker) ⇒ regenerate via idempotent INSERT OVERWRITE, excluding any
    * partial `batch=gen` leftover from the read set. No ordering of
    * writes vs deletes can lose data. Returns the number of batch
    * partitions folded. */
  def compact(spark: SparkSession, base: String): Int = {
    if (!tableExists(spark, bandsT(base))) return 0
    def partitions(t: String): Seq[Long] =
      spark.sql(s"SHOW PARTITIONS $t").collect().toIndexedSeq
        .flatMap(_.getString(0).stripPrefix("batch=").toLongOption)

    // resume an interrupted run first: marker present ⇒ consolidated
    // writes finished; just finish the drops
    getProp(spark, bandsT(base), "graft.compact.pending") match {
      case Some(spec) =>
        val parts = spec.split(":")
        val folds = parts(1).split(",").flatMap(_.toLongOption).toSeq
        finishDrops(spark, base, folds)
        return folds.size
      case None => ()
    }

    val have = partitions(bandsT(base))
    val nonneg = have.filter(_ >= 0)
    if (nonneg.isEmpty) return 0
    val live = nonneg.max
    val fold = have.filter(_ != live)
    if (live == 0 || fold.size < 2) return 0
    val gen = -live
    // consolidated reads must exclude a leftover batch=gen from a prior
    // crashed run mid-write (its originals are all intact — the marker
    // below is set before any write, and drops only happen under it)
    val foldRead = fold.filterNot(_ == gen)

    // the fold READS the table it overwrites (src partitions ≠ target
    // partition, but the self-read check is table-level), so it cannot go
    // through the static-partition SQL path addBatch uses; dynamic-mode
    // insertInto stages around the self-read. The mode is SAVE/RESTORED,
    // never left set on the shared session — and compact is an offline
    // maintenance pass, not the concurrent hot path.
    def foldInto(t: String, cols: Seq[String], agg: DataFrame => DataFrame): Unit = {
      val src = spark.table(t).filter(col("batch").isin(foldRead: _*))
        .select(cols.map(col): _*)
      val key = "spark.sql.sources.partitionOverwriteMode"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try agg(src).withColumn("batch", lit(gen))
        .write.mode("overwrite").insertInto(t)
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    foldInto(bandsT(base), Seq("band", "id"), identity)
    foldInto(shT(base), Seq("id", "sh"), identity)
    foldInto(statsT(base), Seq("band", "n"),
      _.groupBy(col("band")).agg(sum(col("n")).as("n")))
    // all three consolidated partitions durable → commit point; drops
    // may only happen under the marker
    spark.sql(s"ALTER TABLE ${bandsT(base)} SET TBLPROPERTIES(" +
      s"'graft.compact.pending'='$gen:${foldRead.mkString(",")}')")
    finishDrops(spark, base, foldRead)
    log.info(s"compacted ${foldRead.size} partition(s) of bucketed index $base into batch=$gen")
    foldRead.size
  }

  private def finishDrops(spark: SparkSession, base: String, folds: Seq[Long]): Unit = {
    for (t <- Seq(bandsT(base), shT(base), statsT(base)); b <- folds)
      spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (batch=$b)")
    spark.sql(s"ALTER TABLE ${bandsT(base)} UNSET TBLPROPERTIES IF EXISTS " +
      "('graft.compact.pending')")
  }
}
