package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and domain-mixing operators for corpus
  * curation. Training-data pipelines need REPRODUCIBLE subsets — a
  * `rand()`-based sample changes under retry/re-partitioning and cannot
  * be audited, so every operator here keys its decision on row CONTENT:
  * the same corpus always yields byte-identical output, on any cluster
  * layout, and an independent engine (the DuckDB oracle) reproduces it
  * exactly.
  */
object Sampling {

  /** Content-hash Bernoulli sample: keep rows whose md5(content) hex
    * digest sorts below `thresholdHex` (compared over the threshold's
    * length — e.g. "28" keeps ≈ 0x28/0x100 ≈ 15.6%). A narrow per-row
    * filter — no shuffle, fully pushdown-friendly, and stable under
    * corpus re-sharding. md5 (not xxhash64) and LEXICOGRAPHIC hex
    * comparison so any external engine (the DuckDB oracle, a Python
    * audit script) reproduces the exact subset byte-for-byte. */
  def hashSample(contentCol: Column, thresholdHex: String): Column = {
    require(thresholdHex.nonEmpty && thresholdHex.matches("[0-9a-f]+"),
      s"thresholdHex must be lowercase hex, got '$thresholdHex'")
    substring(md5(contentCol), 1, thresholdHex.length) < lit(thresholdHex)
  }

  /** Per-domain quota mixing: cap each domain at `quota(domain)` rows,
    * keeping the first rows by `orderCol` (deterministic, auditable —
    * "first N by id" is the reproducible stand-in for "N uniformly
    * sampled" once ids are assignment-order). Domains absent from the
    * quota map fall back to `defaultQuota`.
    *
    * Scale shape: ranking is a window per domain — domains are the
    * partition key, so the sort shards across the cluster and each
    * domain sorts independently; the quota map is a literal CASE
    * expression (no join, no broadcast table). A skewed mega-domain
    * sorts n·log n rows within its partitions; for quota ≪ domain size
    * swap the window for the bounded per-partition top-k heap
    * (TopKByScore) — same contract, map-side truncation. */
  def quotaMix(df: DataFrame, domainCol: Column, orderCol: Column,
               quota: Map[String, Int], defaultQuota: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quotaCol = quota.foldLeft(lit(defaultQuota)) { case (acc, (dom, q)) =>
      when(domainCol === lit(dom), lit(q)).otherwise(acc)
    }
    val w = Window.partitionBy(domainCol).orderBy(orderCol)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= quotaCol)
      .drop("__rn")
  }

  /** The bounded scale form of [[quotaMix]]: per-domain smallest-N ids
    * via a size-capped aggregation buffer instead of a window sort. Each
    * map task ships at most max-quota ids per domain into the shuffle —
    * a mega-domain costs O(quota) shuffle rows per task, not a sort of
    * its full row set — and the kept (domain, id) pairs (≤ Σ quotas,
    * tiny) broadcast back for the final semi-join. Requires `orderCol`
    * to be a unique long (the usual id). Same contract as [[quotaMix]],
    * unit-pinned equal. */
  def quotaMixBounded(df: DataFrame, domainCol: Column, orderCol: Column,
                      quota: Map[String, Int], defaultQuota: Int): DataFrame = {
    val maxQ = (quota.values.toSeq :+ defaultQuota).max
    val spark = df.sparkSession
    import spark.implicits._
    val quotaCol = quota.foldLeft(lit(defaultQuota)) { case (acc, (dom, q)) =>
      when(col("__d") === lit(dom), lit(q)).otherwise(acc)
    }
    val kept = df
      .select(domainCol.cast("string").as("__d"), orderCol.cast("long").as("__id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .agg(new SmallestIds(maxQ).toColumn.name("ids"))
      .toDF("__d", "ids")
      .select(col("__d"), explode(slice(col("ids"), lit(1), quotaCol)).as("__id"))
    df.join(broadcast(kept),
        domainCol.cast("string") <=> col("__d") &&
          orderCol.cast("long") === col("__id"),
        "left_semi")
  }

  /** k-bounded sorted buffer of the smallest ids per group — the typed
    * Aggregator that makes [[quotaMixBounded]] map-side partial. */
  private[operators] class SmallestIds(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(String, Long), Seq[Long], Seq[Long]] {
    private def insert(buf: Seq[Long], x: Long): Seq[Long] =
      if (buf.length >= k && buf.last < x) buf
      else {
        val (lo, hi) = buf.span(_ < x)
        (lo ++ (x +: hi)).take(k)
      }
    def zero: Seq[Long] = Nil
    def reduce(b: Seq[Long], a: (String, Long)): Seq[Long] = insert(b, a._2)
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = b.foldLeft(a)(insert)
    def finish(r: Seq[Long]): Seq[Long] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Temperature-weighted deterministic sampling: a per-domain keep RATE
    * expressed as a two-hex-digit md5 threshold ("80" keeps ≈ 0x80/0x100
    * = 50%, "40" ≈ 25%) — the "sample source s at rate w_s" step of
    * temperature-based corpus mixing, with [[hashSample]]'s
    * reproducibility contract (content-keyed, engine-independent,
    * shuffle-free). The rate map compiles to a literal CASE expression:
    * no join, no broadcast table, fully codegen'd per-row filter. */
  def weightedSample(contentCol: Column, domainCol: Column,
                     rateHex: Map[String, String],
                     defaultHex: String): Column = {
    (rateHex.values.toSeq :+ defaultHex).foreach(h =>
      require(h.matches("[0-9a-f]{2}"),
        s"rate thresholds must be two lowercase hex digits, got '$h'"))
    val thr = rateHex.foldLeft(lit(defaultHex)) { case (acc, (dom, h)) =>
      when(domainCol === lit(dom), lit(h)).otherwise(acc)
    }
    substring(md5(contentCol), 1, 2) < thr
  }

  /** Leakage-free train/val/test split assignment: the split is keyed on
    * the duplicate CLUSTER, not the document — every member of a dup
    * cluster lands in the same split, closing the classic eval
    * contamination bug where a near-copy of a test document sits in
    * train. `bounds` are cumulative ASCENDING two-hex-digit md5
    * thresholds: Seq(("train","cc"), ("val","e6")) with `lastSplit` =
    * "test" gives ≈ 80/10/10 (0xcc=204, 0xe6=230 of 256). Same contract
    * as [[hashSample]]: content-keyed, shuffle-free, reproducible
    * byte-for-byte by an external engine — pass the cluster id (min doc
    * id per component/content group) rendered as a string. */
  def clusterSafeSplit(clusterKey: Column, bounds: Seq[(String, String)],
                       lastSplit: String): Column = {
    require(bounds.nonEmpty, "at least one split bound required")
    bounds.foreach { case (_, h) =>
      require(h.matches("[0-9a-f]{2}"),
        s"split bounds must be two lowercase hex digits, got '$h'")
    }
    require(bounds.map(_._2) == bounds.map(_._2).sorted,
      "split bounds must be ascending (they are cumulative)")
    val h2 = substring(md5(clusterKey), 1, 2)
    bounds.foldRight(lit(lastSplit): Column) { case ((nm, hex), acc) =>
      when(h2 < lit(hex), lit(nm)).otherwise(acc)
    }
  }

  /** Token-budget selection: keep the maximal PREFIX of `df` in
    * (`orderCols`) order whose running `tokensCol` sum stays within
    * `budget` — "assemble the highest-priority B-token training mix",
    * the epoch-planning primitive.
    *
    * The selected set is a pure function of the global order, so the
    * implementation is free to avoid a global-order window (which plans
    * as a SINGLE-partition sort at any scale): through
    * [[shardedPrefixScan]], the prefix sums over the per-shard token
    * totals decide whole shards — every shard strictly before the
    * crossing point is selected WITHOUT any per-row state, every shard
    * after it is dropped, and only the ONE boundary shard runs a per-row
    * running sum (a window over that shard's bounded rows). Shard
    * boundary placement (range sampling) therefore never affects the
    * output, only which shard pays the fine scan. Cost: one range
    * exchange of (order, token) rows + a counts-only aggregate + a
    * window over one shard's rows.
    *
    * Ties: `orderCols` must end in a unique tiebreaker (the id) so the
    * global order — and with it the selected set — is total. */
  def tokenBudget(df: DataFrame, orderCols: Seq[Column], tokensCol: Column,
                  budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, s"budget must be >= 0, got $budget")
    // null tokens count as 0: the shard totals coalesce them, and the
    // window's running sum on the boundary shard skips them
    shardedPrefixScan(df.withColumn("__tok", tokensCol.cast("long")), orderCols,
        col("__tok")) { (ranged, prefix, _) =>
      // the first shard whose prefix THROUGH it exceeds the budget
      val boundary = prefix.indexWhere(_ > budget) - 1
      val out =
        if (boundary < 0) ranged // whole corpus fits the budget
        else {
          val full = ranged.filter(col("__pid") < boundary)
          val w = Window.partitionBy(col("__pid"))
            .orderBy(orderCols: _*)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val fine = ranged.filter(col("__pid") === boundary)
            .withColumn("__run", sum(col("__tok")).over(w))
            .filter(col("__run") <= budget - prefix(boundary))
            .drop("__run")
          full.unionByName(fine)
        }
      out.drop("__pid", "__tok")
    }
  }

  /** Distributed total-order rank: 1-based dense position of every row
    * in the global `orderCols` order, WITHOUT a single-partition window
    * (`row_number() OVER (ORDER BY …)` funnels the whole relation
    * through one task — the classic driver-shaped bottleneck at scale).
    * Through [[shardedPrefixScan]] with a weight of 1 per row, each
    * shard's prefix offset (rows in the shards before it) is added to
    * its local rank. The canonical use is epoch-shuffle order for
    * training (rank over a seeded content hash): a total, reproducible
    * permutation any engine can verify.
    *
    * `orderCols` must end in a unique tiebreaker so the order is total. */
  def globalRank(df: DataFrame, orderCols: Seq[Column],
                 rankName: String = "rank"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    shardedPrefixScan(df, orderCols, lit(1L)) { (ranged, _, offset) =>
      val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      ranged.withColumn(rankName, (offset + row_number().over(w)).cast("long"))
        .drop("__pid")
    }
  }

  /** The distributed running aggregate under [[tokenBudget]],
    * [[globalRank]], [[Layout.skipStats]] and [[Layout.sequentialBins]]
    * — a prefix over the global `orderCols` order with no
    * single-partition window:
    *  1. range-partition the rows on `orderCols` with no partition
    *     count, so AQE sizes the shards as it sizes every other exchange,
    *     and tag each row with its shard `__pid` (range partitions are
    *     ordered by pid, so pid order IS the global order);
    *  2. persist them;
    *  3. collect the per-shard sums of `weight` (nulls count 0) — one
    *     long per shard;
    *  4. run `body(ranged, prefix, offset)`: `prefix(p)` is the weight of
    *     the shards before p (`prefix.last` the total) and `offset` the
    *     column holding `prefix(__pid)`, which a caller adds to an
    *     in-shard window over `__pid`;
    *  5. materialize the body's result (localCheckpoint), then release
    *     the persisted shards — so the result may escape.
    * The output never depends on where the shard boundaries fall. */
  private[graft] def shardedPrefixScan(df: DataFrame, orderCols: Seq[Column], weight: Column)(
      body: (DataFrame, IndexedSeq[Long], Column) => DataFrame): DataFrame = {
    val ranged = df.repartitionByRange(orderCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sums = ranged.groupBy(col("__pid")).agg(coalesce(sum(weight), lit(0L)))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val shards = if (sums.isEmpty) 0 else sums.keys.max + 1
      val prefix = (0 until shards).scanLeft(0L)((acc, pid) => acc + sums.getOrElse(pid, 0L))
      body(ranged, prefix, element_at(typedLit(prefix), col("__pid") + 1))
        .localCheckpoint(eager = true)
    } finally ranged.unpersist(blocking = true)
  }

  /** Power-of-two-free LINEAR histogram of a count column: integer
    * bucket = value div `width` — exact integer arithmetic on both
    * engine and oracle, no float log edge cases. The standard corpus
    * length profile (how many docs of 0-15 tokens, 16-31, ...). */
  def linearHistogram(df: DataFrame, valueCol: Column, width: Int): DataFrame =
    df.groupBy(floor(valueCol.cast("long") / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(valueCol).cast("long").as("lo"),
        max(valueCol).cast("long").as("hi"))
}
