package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{Dedup, SignatureIndex}
import graft.functions.SrpBands

/** Incremental embedding near-dup dedup against a persistent vector
  * index — the embedding-space sibling of
  * [[graft.dedup.IncrementalDedup]]: an arriving batch of vectors is
  * compared against the indexed survivors by SRP band collision + exact
  * cosine verify (first-wins), the remainder dedups against itself
  * through [[Vectors.cosinePairsLsh]], and the batch's survivors append
  * their vectors + band signatures to the index.
  *
  * The index stores (id, v array<double>, bands array<long>) — the
  * vectors themselves are needed for the exact-cosine verify, the same
  * storage contract as any production vector index. Index writes land in
  * a `batch=<id>` partition with overwrite and the read excludes the
  * current batchId, so foreachBatch retries are idempotent. Bands whose
  * index frequency exceeds `bandCap` are stop-listed (logged) to bound
  * the batch×index join. A `_graft_params` sidecar pins (bits, bands)
  * and rejects mismatched batches.
  */
object IncrementalVectors {

  private val indexSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("bands", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("batch", LongType, nullable = false)))

  // SRP band values are UNSALTED low-`bits` patterns (lshKnn's
  // multi-probe bit flips need the raw form), so candidate buckets must
  // key on (band POSITION, signature) — joining on the value alone would
  // collide band i with band j by chance and make the stop-list count
  // across positions
  private val statsSchema = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("sig", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("batch", LongType, nullable = false)))

  /** Fold all settled batch partitions into one consolidated partition —
    * see [[SignatureIndex.compact]] for the retry/crash contract.
    * Returns the number of partitions folded. */
  def compactIndex(spark: SparkSession, indexDir: String): Int =
    SignatureIndex.compact(spark, indexDir, indexSchema, statsSchema, Seq("pos", "sig"))

  /** Process one arriving batch of (id, vector) rows against the index.
    * Returns the batch's surviving rows (all original columns). */
  def addBatch(vecs: DataFrame, idCol: String, vecCol: String, indexDir: String,
               batchId: Long, bits: Int, minCosine: Double,
               bands: Int = 4, bucketCap: Int = 1024,
               bandCap: Int = 4096): DataFrame = {
    val spark = vecs.sparkSession
    SignatureIndex.checkParams(spark, indexDir, s"bits=$bits,bands=$bands")

    // one codegen'd SrpBands pass; vectors ride as double[] (exact float
    // widening) so the stored form verifies identically
    val sigs = vecs
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("bands", SrpBands(col("v"), bits, bands, seed = 42L))
      .localCheckpoint(eager = true)

    // fresh-index fast path (the [[graft.dedup.IncrementalDedup]]
    // pattern): the first batch probes a provably-empty index, so the
    // stop-list, band joins and cosine verify are skipped and `dropped`
    // is a plan-only empty frame derived from sigs. A batch-1 RETRY sees
    // only its own (excluded) partition and stays correct.
    val fresh = !SignatureIndex.batches(spark, indexDir).exists(_._1 != batchId)
    val dropped = if (fresh) sigs.select(col("id")).limit(0) else {
      val index = SignatureIndex.read(spark, indexDir, indexSchema, excludeBatch = batchId)
      // counts come from the incremental stats subtree, never a
      // per-batch rescan of the index signatures
      val hotBands = SignatureIndex.stopList(
        SignatureIndex.readStats(spark, indexDir, statsSchema, excludeBatch = batchId),
        Seq("pos", "sig"), bandCap, "incremental vector dedup")
      val batchBands = sigs.select(col("id"), posexplode(col("bands")))
        .select(col("id"), col("pos"), col("col").as("sig"))
        .join(hotBands, Seq("pos", "sig"), "left_anti")
      val indexBands = index.select(col("id").as("idx_id"), posexplode(col("bands")))
        .select(col("idx_id"), col("pos"), col("col").as("sig"))
        .join(hotBands, Seq("pos", "sig"), "left_anti")
      // eagerly checkpointed: two consumers (doc anti-join + signature
      // anti-join) would otherwise evaluate the band join + cosine verify
      // subtree twice per batch; the rows are bare ids
      batchBands.join(indexBands, Seq("pos", "sig"))
        .select(col("id"), col("idx_id")).distinct()
        .join(sigs.select(col("id"), col("v")), "id")
        .join(index.select(col("id").as("idx_id"), col("v").as("idx_v")), "idx_id")
        .filter(Vectors.cosine(col("v"), col("idx_v")) >= minCosine)
        .select(col("id")).distinct()
        .localCheckpoint(eager = true)
    }

    val remaining = vecs.join(dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    // REUSE the checkpointed signatures for within-batch pairing
    val remainingSigs = sigs.join(dropped, Seq("id"), "left_anti")
    val pairs = Vectors.cosinePairsFromBands(remainingSigs, minCosine, bucketCap)
      .select(col("id_a"), col("id_b"))
    val surv = Dedup.survivors(remaining, idCol, pairs)
      .localCheckpoint(eager = true) // computed BEFORE the index write below

    // cheap semi-join of two cached frames — recomputed by each write
    // instead of paying an extra materialization round-trip
    val committed = sigs
      .join(surv.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id"), col("v"), col("bands"))
    committed.write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    SignatureIndex.writeStats(
      committed.select(posexplode(col("bands")))
        .select(col("pos"), col("col").as("sig")),
      indexDir, Seq("pos", "sig"), batchId)

    surv
  }
}
