package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout — Z-order clustering and the
  * min/max data-skipping arithmetic that justifies it.
  *
  * At 100 TB the scan you never start is the cheapest one: parquet
  * readers prune row groups (and whole files) whose column min/max
  * statistics cannot overlap the query predicate. A table sorted on ONE
  * key prunes perfectly on that key and not at all on any other; a
  * Z-ORDER (Morton) key interleaves the bits of several keys so that
  * range-clustered files stay tight in EVERY interleaved dimension at
  * once — the standard layout optimization for multi-predicate scans
  * (box queries, point lookups on secondary keys).
  *
  * The Z-key here is a static composition of codegen'd built-ins
  * (`shiftright`/`&`/`shiftleft`/`|` folded over the bit positions at
  * plan-build time — no UDF, no interpreted HOF, stays inside
  * whole-stage codegen), and the skipping arithmetic is exact integer
  * logic, so the whole pipeline is DuckDB-reproducible: the oracle
  * recomputes the interleaved keys with a list comprehension and must
  * agree bucket-for-bucket.
  *
  * Writing is `repartitionByRange` on the Z-key + in-partition sort —
  * the terasort shape: one range shuffle, every output file a tight
  * Z-interval, min/max footer stats tight in both dimensions.
  */
object Layout {

  /** Morton interleave of two non-negative integer columns, `bits` bits
    * each (b gets the even bit positions, a the odd) — a 2·bits-bit
    * BIGINT key. bits=21 covers keys to 2M, enough for sf10 partkeys,
    * while keeping the key well inside a positive long. */
  def zOrderKey(a: Column, b: Column, bits: Int = 21): Column = {
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

  /** Hilbert-curve index of a 2-D point, `bits` bits per axis — the
    * locality-OPTIMAL space-filling order: unlike the Z-curve (which
    * takes 2^k-sized jumps at quadrant seams), consecutive Hilbert
    * indices are always Manhattan-adjacent cells, so range-clustered
    * files have strictly tighter bounding boxes — the layout behind
    * "liquid"-style clustering in modern lakehouses, next to
    * [[zOrderKey]] as the cheap default.
    *
    * Native codegen'd [[graft.functions.HilbertKey]] — one static call
    * of straight integer arithmetic per row, inside whole-stage codegen.
    * The previous composable form ([[hilbertKeyFold]], kept as the
    * equivalence pin) ran the same xy→d transform as an interpreted
    * 21-step `aggregate` lambda fold — correct, but the write-path
    * clustering key must run at scan speed at 100 TB. The SQL oracle
    * replays the same integer steps with a recursive CTE. */
  def hilbertKey(a: Column, b: Column, bits: Int = 21): Column =
    graft.functions.HilbertKey(a, b, bits)

  /** The original `aggregate`-fold form of [[hilbertKey]] — interpreted,
    * ~21 lambda steps per row. Retained ONLY as the independent
    * implementation the native expression is equivalence-pinned against
    * (`CodegenSpec`); not used on any query path. */
  private[graft] def hilbertKeyFold(a: Column, b: Column, bits: Int = 21): Column = {
    val folded = aggregate(
      sequence(lit(bits - 1), lit(0), lit(-1)),
      struct(a.cast("long").as("x"), b.cast("long").as("y"), lit(0L).as("d")),
      (acc, i) => {
        // 2^i from a literal lookup table — one array read per step,
        // no per-step floating-point pow in the interpreted fold
        val s = element_at(typedLit((0 until bits).map(1L << _)), i + 1)
        val x = acc.getField("x"); val y = acc.getField("y")
        val d = acc.getField("d")
        val rx = when(x.bitwiseAND(s) > 0L, lit(1L)).otherwise(lit(0L))
        val ry = when(y.bitwiseAND(s) > 0L, lit(1L)).otherwise(lit(0L))
        val d2 = d + s * s * ((lit(3L) * rx).bitwiseXOR(ry))
        // quadrant rotation: reflect when rx=1∧ry=0, then swap axes
        val flip = rx === 1L && ry === 0L
        val xr = when(flip, s - 1L - x).otherwise(x)
        val yr = when(flip, s - 1L - y).otherwise(y)
        struct(
          when(ry === 0L, yr).otherwise(xr).as("x"),
          when(ry === 0L, xr).otherwise(yr).as("y"),
          d2.as("d"))
      },
      acc => acc.getField("d"))
    folded
  }

  /** Simulated file-level skipping stats for one layout: rows ranked by
    * `orderCols` (the write order), cut into `buckets` equal-size files
    * (bucket = (rank-1)·buckets / n, exact integer math), then per-file
    * min/max bounding boxes tested against the box predicate
    * `dim1 ≤ hi1 AND dim2 ≤ hi2` — precisely the conservative overlap
    * test a parquet reader runs against footer statistics. Returns one
    * row: buckets scanned vs total, rows actually in the box, and the
    * skip ratio.
    *
    * Ranking is FUSED into the aggregation pass of
    * [[Sampling.shardedPrefixScan]] (the [[Sampling.globalRank]]
    * offsets, never a single-partition window), and n is the scan's row
    * total: the ranked relation exists only inside the one job that
    * folds it to `buckets` rows, and only the single result row survives
    * the call. A persisted or checkpointed copy of the fact table per
    * layout, alive until the caller's final action, starved execution
    * memory at sf10 (UNABLE_TO_ACQUIRE_MEMORY in the window sort under
    * the default 8 GiB heap). */
  def skipStats(df: DataFrame, layout: String, orderCols: Seq[Column],
                dim1: Column, hi1: Long, dim2: Column, hi2: Long,
                buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Sampling.shardedPrefixScan(df, orderCols, lit(1L)) { (ranged, prefix, offset) =>
      val n = prefix.last
      val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      // exact integer bucket: (rank-1)·buckets div n — floor over doubles
      // is exact here ((rank-1)·buckets < 2^53 at any plausible count)
      val bucketed = ranged
        .withColumn("__rank", (offset + row_number().over(w)).cast("long"))
        .withColumn("__bucket",
          floor((col("__rank") - 1) * lit(buckets.toLong) / lit(n)).cast("long"))
      val perBucket = bucketed.groupBy(col("__bucket"))
        .agg(min(dim1).as("min1"), min(dim2).as("min2"),
          sum(when(dim1 <= hi1 && dim2 <= hi2, 1L).otherwise(0L)).as("rows_in_box"))
      perBucket.agg(
        count(lit(1)).as("buckets_total"),
        sum(when(col("min1") <= hi1 && col("min2") <= hi2, 1L).otherwise(0L))
          .as("buckets_scanned"),
        sum(col("rows_in_box")).as("rows_in_box"))
        .select(lit(layout).as("layout"), col("buckets_total"),
          col("buckets_scanned"), col("rows_in_box"))
        .withColumn("skip_ratio",
          (col("buckets_total") - col("buckets_scanned")).cast("double")
            / col("buckets_total").cast("double"))
    }
  }

  /** Sequential size-based bin packing — the small-files compaction
    * PLANNER. Rows (files) are taken in `orderCols` order and assigned
    * to the bin their cumulative-size START falls in:
    * bin = cum_before div targetBytes — the streaming-concat packing a
    * compactor (Delta OPTIMIZE, Iceberg rewriteDataFiles) runs over a
    * table's file manifest, preserving the clustering order so the
    * compacted files keep their min/max locality.
    *
    * The running sum is DISTRIBUTED ([[Sampling.shardedPrefixScan]] with
    * the size as weight): each shard's byte offset is added to an
    * in-shard window sum. No single-partition window; a 200k-file
    * manifest at 100 TB plans in one pass. Bin ids and boundaries are
    * exact integer arithmetic, so the plan is DuckDB-reproducible.
    *
    * Returns `df` + `cum_before` (bytes strictly before the row) +
    * `bin` (0-based). */
  def sequentialBins(df: DataFrame, orderCols: Seq[Column], sizeCol: Column,
                     targetBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetBytes > 0, "targetBytes must be positive")
    Sampling.shardedPrefixScan(df.withColumn("__sz", sizeCol.cast("long")), orderCols,
        col("__sz")) { (ranged, _, offset) =>
      val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranged
        .withColumn("cum_before", offset + sum(col("__sz")).over(w) - col("__sz"))
        .withColumn("bin", expr(s"cum_before div ${targetBytes}L"))
        .drop("__sz", "__pid")
    }
  }

  /** Physically compact a directory of (many, small) parquet files into
    * ~targetBytes files, preserving `orderCols` clustering: size the
    * output file count from the input's on-disk bytes, then
    * repartitionByRange + in-partition sort — the same one-shuffle
    * terasort shape as [[writeZOrdered]], so compaction never destroys
    * the min/max locality a previous layout pass paid for. Returns
    * (filesBefore, filesAfter). */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, inDir: String,
                     outDir: String, orderCols: Seq[Column],
                     targetBytes: Long): (Int, Int) = {
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inQ = fs.makeQualified(inPath).toString
    val outQ = fs.makeQualified(new org.apache.hadoop.fs.Path(outDir)).toString
    require(inQ != outQ && !inQ.startsWith(outQ + "/") && !outQ.startsWith(inQ + "/"),
      s"compactParquet: outDir must not overlap inDir (mode=overwrite would " +
        s"delete the source mid-read): in=$inQ out=$outQ")
    val src = spark.read.parquet(inDir)
    // filesBefore from the files the read actually resolved (respects
    // partitioned subdirectories); total SIZE via the batched recursive
    // remote iterator — one getFileStatus RPC per file would be 200k
    // sequential namenode/object-store round trips on a 200k-file
    // manifest before the job even starts
    val filesBefore = src.inputFiles.length
    var totalBytes = 0L
    val it = fs.listFiles(inPath, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith("_") && !n.startsWith("."))
        totalBytes += st.getLen
    }
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    src
      .repartitionByRange(nOut, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .write.mode("overwrite").parquet(outDir)
    val outFs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outParts = outFs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    (filesBefore, outParts)
  }

  /** Physically write `df` Z-ordered on (a, b): range-partition on the
    * Z-key into `files` partitions, sort within each, one parquet file
    * per partition. The write-side of the layout story; `skipStats` is
    * the read-side arithmetic the resulting footers realize. */
  def writeZOrdered(df: DataFrame, a: Column, b: Column, files: Int,
                    path: String, bits: Int = 21): Unit = {
    val keyed = df.withColumn("__z", zOrderKey(a, b, bits))
    keyed.repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
