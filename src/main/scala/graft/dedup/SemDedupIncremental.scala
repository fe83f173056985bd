package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.SrpBands
import graft.similarity.{Kmeans, Vectors}

/** Incremental SemDeDup — the streaming-ingest sibling of
  * [[graft.dedup.SemDedup]] (Abbas et al. 2303.09540): arriving batches
  * of embeddings are assigned against FROZEN trained centroids (a pure
  * map, no fit per batch — production trains the quantizer once on a
  * sample, exactly like the IVF families), then pruned within-cell
  * against a persistent per-cell vector index plus themselves.
  *
  * Semantics match the global pass exactly: a vector is dominated iff
  * ANY lower-id same-cell vector (survivor or not — the global rule's
  * domination set) has rounded cosine ≥ τ. The index therefore stores
  * EVERY ingested vector with its cell, not just survivors — a dominated
  * vector still dominates later arrivals. Under id-ascending batches the
  * union of per-batch survivor outputs is BY CONSTRUCTION the global
  * [[SemDedup.survivors]] result (pinned in SelectionSpec), so the
  * dd_semdedup oracle checks this path too. Id-ascending ingest is
  * ENFORCED, not assumed: each batch commits its max ingested id to a
  * `_maxids/batch=<id>` sidecar and a batch whose min id is not above
  * every previously committed max FAILS LOUDLY — a lower-id late arrival
  * could never retract an already-emitted higher-id survivor, so
  * out-of-order ingest would silently diverge from the global result.
  * (A retry of the CURRENT batch is exempt: its own sidecar is excluded,
  * the [[SignatureIndex.read]] idempotence contract.)
  *
  * Scale shape — the within-cell compare is CANDIDATES-sized, never
  * cell-population-sized: every vector carries `srpBands` signed-random-
  * projection band signatures ([[SrpBands]], computed once at ingest and
  * STORED in the index), and both domination joins key on
  * (cell, band position, signature) — a pair is compared exactly when it
  * shares a band inside its cell. τ-similar vectors collide in some band
  * with probability 1−(1−p^bits)^bands (p = 1−acos(τ)/π ≈ 0.92 at
  * τ = 0.97 → miss ≈ 6·10⁻⁵ per pair at the 12×16 default), while
  * typical same-cell non-duplicates (cosine ≈ 0.1–0.4 on the measured
  * corpus) collide at ≈ 10⁻²; the exact rounded-cosine ≥ τ verify then
  * runs on that small candidate set only, so the batch×index join is
  * O(candidates), linear in ingest for a bounded cell size. Candidate ⊇
  * τ-pair coverage is pinned per-corpus in SelectionSpec (the prefilter
  * is deterministic given the seed, so the pin is a property of the
  * corpus, not a per-run coin flip); the verify itself is unchanged, so
  * the shared dd_semdedup oracle is checked bit-for-bit through this
  * path.
  *
  * Cell-growth policy: frozen centroids mean per-cell population grows
  * linearly with ingest. The prefilter keeps the COMPARE linear anyway,
  * but recall tuning and cell skew both degrade with unbounded cells, so
  * the index tracks per-cell counts in the `_stats` sidecar (pre-
  * aggregated at commit, never re-scanned) and [[needsRefit]] reports
  * when any cell exceeds `targetCellSize` — the signal to re-fit
  * k ≈ n/targetCellSize centroids on a sample and re-index (one linear
  * pass over the corpus, the `adaptiveSrpParams` re-signature-epoch
  * discipline; [[compactIndex]] first folds the batch partitions so the
  * rebuild reads one consolidated input). The `_graft_params` sidecar
  * pins (τ, k, centroid digest, SRP params) and rejects a batch assigned
  * against different centroids — a silent centroid swap would corrupt
  * every cell.
  *
  * Commits land in `batch=<id>` partitions with overwrite and the read
  * excludes the current batch, so foreachBatch retries are idempotent
  * ([[SignatureIndex]] contract).
  */
object SemDedupIncremental {

  private val indexSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("bands", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("batch", LongType, nullable = false)))

  private val statsSchema = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("batch", LongType, nullable = false)))

  /** Stable digest of the centroid table for the params sidecar: md5 of
    * the 6-decimal rendering (the fit's own precision), so a re-derived
    * bit-identical fit pins equal and anything else rejects. */
  private def centroidDigest(centroids: Seq[Seq[Double]]): String = {
    val s = centroids.map(_.map(x =>
      String.format(java.util.Locale.ROOT, "%.6f", Double.box(x)))
      .mkString(",")).mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Fold settled batch partitions into one consolidated partition —
    * the [[SignatureIndex.compact]] crash/retry contract. Per-cell
    * stats fold by sum (counts), exactly what compact does. The
    * `_maxids` sidecar files fold too (their aggregate is MAX, which
    * sum-folding compact cannot express, so they are consolidated here:
    * write the folded max under the consolidated id first, then delete
    * the originals — a crash in between leaves duplicates, harmless
    * under max), so the per-batch listing the ingest guard pays stays
    * bounded by live batches, not batches-ever. */
  def compactIndex(spark: SparkSession, indexDir: String): Int = {
    val n = SignatureIndex.compact(spark, indexDir, indexSchema, statsSchema,
      Seq("cell"))
    if (n > 0) {
      val ids = maxIds(spark, indexDir)
      val live = ids.map(_._1).filter(_ >= 0).maxOption.getOrElse(0L)
      val fold = ids.filter(_._1 != live)
      if (fold.nonEmpty) {
        writeMaxId(spark, indexDir, -live, fold.map(_._2).max)
        fold.filter(_._1 != -live).foreach { case (_, _, p) =>
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
        }
      }
    }
    n
  }

  /** Cells whose accumulated population exceeds `targetCellSize`, from
    * the per-batch stats sidecar alone (tiny pre-aggregates — nothing
    * re-scans the index). Non-empty = time to re-fit the quantizer at
    * k ≈ n/targetCellSize and re-index: with frozen centroids the
    * within-cell candidate rate (and SemDeDup's own cluster quality)
    * degrades as cells grow. Returns (cell, n) rows. */
  def needsRefit(spark: SparkSession, indexDir: String,
                 targetCellSize: Long): DataFrame = {
    // Long.MinValue excludes nothing (see [[refit]])
    SignatureIndex.readStats(spark, indexDir, statsSchema, excludeBatch = Long.MinValue)
      .groupBy(col("cell")).agg(sum(col("n")).as("n"))
      .filter(col("n") > targetCellSize)
  }

  /** Every `_maxids` sidecar entry as (batch, max id, path) — one tiny
    * text file per batch (the `_graft_params` discipline): a directory
    * listing plus one small read per live batch, never an index scan. */
  private def maxIds(spark: SparkSession,
                     indexDir: String): Seq[(Long, Long, org.apache.hadoop.fs.Path)] =
    SignatureIndex.batches(spark, s"$indexDir/_maxids").map { case (b, p) =>
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try (b, scala.io.Source.fromInputStream(in).mkString.trim.toLong, p)
      finally in.close()
    }

  private def writeMaxId(spark: SparkSession, indexDir: String,
                         batchId: Long, maxId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/_maxids/batch=$batchId")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(p.getParent)
    val out = hfs.create(p, true)
    try out.write(maxId.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The re-fit/re-index EPOCH the growth policy calls for when
    * [[needsRefit]] fires: frozen centroids keep per-batch ingest a pure
    * map, but cells grow linearly with ingest, so periodically the
    * quantizer is re-fit at k ≈ n / targetCellSize and the corpus
    * re-indexed — one linear pass, exactly the `adaptiveSrpParams`
    * re-signature-epoch discipline applied to cells.
    *
    * Mechanics: compact the old index (the rebuild reads one
    * consolidated input, not batches-ever directories), read every
    * ingested vector back out of it, fit fresh centroids over them with
    * the decimal-exact [[Kmeans.fitAnchor]] (engine-replayable — a
    * production deployment would fit MLlib on a sample instead, same
    * downstream shape), then re-ingest the whole corpus into
    * `newIndexDir` as ONE batch through [[addBatch]] — which both
    * populates the new epoch's index (vectors, SRP bands, cell stats,
    * max-id sidecar, params pinned to the NEW centroid digest) and
    * returns the epoch's survivor set. Because the corpus arrives as a
    * single id-ascending batch, that survivor set IS the global
    * [[SemDedup.survivors]] result under the new fit (the within-batch
    * domination path is the global rule through the banded prefilter),
    * so the dd_semdedup oracle form checks the rebuilt epoch end to end
    * at the new k. The caller swaps `newIndexDir` in for subsequent
    * [[addBatch]] ingest and retires the old directory — epochs are
    * whole directories, never in-place mutations, so a crashed refit
    * leaves the old epoch fully serviceable.
    *
    * Scale shape: fit assignment is O(n·k·d) in one native pass per
    * Lloyd step, the re-ingest's domination join is candidates-sized
    * (the banded prefilter), and nothing is pairwise in the corpus —
    * the epoch costs a small constant number of linear passes.
    *
    * Returns (survivors under the new fit, the new centroids). */
  def refit(spark: SparkSession, indexDir: String, newIndexDir: String,
            tau: Double, targetCellSize: Long,
            idCol: String = "vec_id", vecCol: String = "c_vec",
            srpBits: Int = 12, srpBands: Int = 16): (DataFrame, Seq[Seq[Double]]) = {
    compactIndex(spark, indexDir)
    // Long.MinValue excludes nothing: batch ids are foreachBatch ids
    // (>= 0) or compaction's negated live ids (> Long.MinValue)
    val corpus = SignatureIndex.read(spark, indexDir, indexSchema,
        excludeBatch = Long.MinValue)
      .select(col("id").as(idCol), col("v").as(vecCol))
      .localCheckpoint(eager = true) // read once: k jobs of the fit + the re-ingest
    val n = corpus.count()
    require(n > 0, s"refit of $indexDir: index is empty — nothing to re-fit")
    val k = math.max(8, math.ceil(n.toDouble / targetCellSize).toInt)
    val (_, cent) = Kmeans.fitAnchor(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec")), k, iters = 2)
    val surv = addBatch(corpus, cent, tau, newIndexDir, batchId = 1L,
      idCol = idCol, vecCol = vecCol, srpBits = srpBits, srpBands = srpBands)
    (surv, cent)
  }

  /** Process one arriving batch of (idCol, vecCol array<double>) rows.
    * Returns the batch's survivors as (idCol, cell), the
    * [[SemDedup.survivors]] output shape. */
  def addBatch(vecs: DataFrame, centroids: Seq[Seq[Double]], tau: Double,
               indexDir: String, batchId: Long,
               idCol: String = "vec_id", vecCol: String = "c_vec",
               srpBits: Int = 12, srpBands: Int = 16): DataFrame = {
    val spark = vecs.sparkSession
    SignatureIndex.checkParams(spark, indexDir,
      s"tau=$tau,k=${centroids.length},cent=${centroidDigest(centroids)}," +
        s"srp=${srpBits}x$srpBands")

    // pure-map assignment against the frozen literal centroids (native
    // NearestCell kernel — O(k·d) primitive arithmetic per row) + the
    // SRP band signatures in one more codegen'd pass; eagerly
    // checkpointed — four consumers (two domination joins, the commit,
    // the min/max guard)
    val batch = Kmeans.assign(
        vecs.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec")),
        centroids)
      .select(col("vec_id").as("id"), col("cell"), col("c_vec").as("v"))
      .withColumn("bands", SrpBands(col("v"), srpBits, srpBands, seed = 42L))
      .localCheckpoint(eager = true)

    // out-of-order ingest fails loudly (see scaladoc): one tiny agg over
    // the checkpointed batch vs the sidecar max
    val prior = maxIds(spark, indexDir).filter(_._1 != batchId)
      .foldLeft(-1L)((m, e) => math.max(m, e._2))
    val mm = batch.agg(min(col("id")), max(col("id"))).head()
    if (mm.isNullAt(0))
      // empty micro-batch (a streaming caller's quiet interval): nothing
      // to dominate, nothing to commit — return the empty survivor shape
      return batch.select(col("id").as(idCol), col("cell"))
    val (batchMin, batchMax) = (mm.getLong(0), mm.getLong(1))
    require(batchMin > prior,
      s"out-of-order ingest into $indexDir: batch $batchId min id $batchMin " +
        s"is not above the prior committed max id $prior — a late lower-id " +
        "arrival cannot retract an already-emitted survivor, so the result " +
        "would silently diverge from the global SemDedup pass")

    val index = SignatureIndex.read(spark, indexDir, indexSchema,
      excludeBatch = batchId)

    // Candidate pairs share (cell, band position, signature); the exact
    // rounded-cosine verify at the engine-parity scale runs on candidates
    // only. distinct() before the vector join — a pair colliding in
    // several bands must fetch its vectors once. idx_id < id guards
    // replays of out-of-order ids (always true under the enforced
    // ascending ingest).
    val bBands = batch.select(col("id"), col("cell"), posexplode(col("bands")))
      .select(col("id"), col("cell"), col("pos"), col("col").as("sig"))
    val iBands = index.select(col("id").as("idx_id"), col("cell"),
        posexplode(col("bands")))
      .select(col("idx_id"), col("cell"), col("pos"), col("col").as("sig"))
    val domIndex = bBands.join(iBands, Seq("cell", "pos", "sig"))
      .filter(col("idx_id") < col("id"))
      .select(col("id"), col("idx_id")).distinct()
      .join(batch.select(col("id"), col("v")), "id")
      .join(index.select(col("id").as("idx_id"), col("v").as("idx_v")), "idx_id")
      .filter(round(Vectors.cosine(col("v"), col("idx_v")), 6) >= tau)
      .select(col("id"))
    // domination within the batch: the global pass's within-cell rule,
    // through the same banded candidate prefilter
    val domWithin = bBands
      .join(bBands.select(col("id").as("__id_b"), col("cell"), col("pos"),
        col("sig")), Seq("cell", "pos", "sig"))
      .filter(col("id") < col("__id_b"))
      .select(col("id").as("__id_a"), col("__id_b")).distinct()
      .join(batch.select(col("id").as("__id_a"), col("v").as("__va")), "__id_a")
      .join(batch.select(col("id").as("__id_b"), col("v").as("__vb")), "__id_b")
      .filter(round(Vectors.cosine(col("__va"), col("__vb")), 6) >= tau)
      .select(col("__id_b").as("id"))
    val dominated = domIndex.unionByName(domWithin).distinct()
      .localCheckpoint(eager = true)

    val surv = batch.join(dominated, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
      .localCheckpoint(eager = true) // computed BEFORE the index write

    // EVERY batch row commits — dominated vectors still dominate later
    // arrivals under the global rule; overwrite keeps retries idempotent.
    // Per-cell counts land next to it for the growth policy, and the max
    // id last — the guard only admits the NEXT batch once this one's
    // signature data is durable.
    batch.write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    SignatureIndex.writeStats(batch.select(col("cell")), indexDir,
      Seq("cell"), batchId)
    writeMaxId(spark, indexDir, batchId, batchMax)
    surv
  }
}
