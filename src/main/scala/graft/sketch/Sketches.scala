package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches over the PORTABLE md5 hash family —
  * the approximate-distinct machinery a 100 TB curation pipeline runs
  * where exact `COUNT(DISTINCT)` would shuffle every value: corpus-wide
  * vocabulary estimates, per-source document cardinalities, cross-source
  * overlap sizing before any join is attempted.
  *
  * Both sketches here are ORACLE-EXACT, unlike `approx_count_distinct`
  * (whose HLL++ register layout is engine-private): every stage —
  * hashing, register math, the final estimate arithmetic — is integer
  * logic plus individually-rounded IEEE double ops that DuckDB reproduces
  * bit-for-bit from the same SQL-expressible definition. The accuracy
  * story is therefore measurable per round (estimate vs exact in the same
  * query row), and the MERGE property — the thing that makes a sketch a
  * sketch at scale — is exercised by computing the same estimate through
  * a sharded partial-merge tree and hash-comparing both paths.
  *
  * HyperLogLog (Flajolet et al. 2007), p=8/m=256 registers:
  *  - hash   = md5(value as string) — portable lowercase hex, the same
  *    family the dd_*_md5 oracle anchors use;
  *  - bucket = first 2 hex chars (8 bits); w = next 13 hex chars (52 bits);
  *  - rho    = leading-zero count of w within 52 bits, plus one — derived
  *    from `length(bin(w))`, pure integer logic on both engines;
  *  - register state = per-(group, bucket) MAX(rho): a distributive
  *    aggregate, so Spark's map-side partial aggregation IS the sketch
  *    merge — each map task ships ≤256 rows per group regardless of input;
  *  - the harmonic sum is kept EXACT: S = Σ 2^(53-rho) over registers
  *    (absent buckets contribute 2^53), a BIGINT ≤ 256·2^53 < 2^63;
  *  - estimate = (α_m·m²·2^53) / S — the numerator is one compile-time
  *    double literal embedded identically in engine and oracle, so the
  *    single division is the only rounded step and IEEE-754 makes it
  *    deterministic across engines.
  *
  * With m=256 the standard error is 1.04/√256 ≈ 6.5%; the gate fixtures
  * keep per-group cardinality above 2.5·m so the raw-regime formula (no
  * small-range correction branch, whose `ln` is not cross-engine
  * bit-stable) is the right estimator everywhere it is compared.
  *
  * KMV / bottom-k (Bar-Yossef et al. 2002; Beyer et al. 2007), k=64:
  * per set keep the k lexicographically-smallest distinct md5 digests
  * (fixed-width hex, so string order ≡ numeric order). The union sketch
  * of two sets is the k smallest of the merged digest lists — computable
  * from the two k-bounded sketches alone, never from the raw sets — and
  *  - |A ∪ B|  ≈ (k-1) · 2^52 / w_k   with w_k the 52-bit prefix of the
  *    k-th union minimum (one multiply of exact doubles, one division);
  *  - J(A,B)   ≈ |union-minima present in both sketches| / k  (division
  *    by 64 — a power of two, exact);
  *  - |A ∩ B|  ≈ J · |A ∪ B|  (one more rounded multiply, same order in
  *    both engines).
  * This is the estimator a pipeline uses to SIZE cross-source
  * contamination (see `dd_source_overlap` for the exact counterpart)
  * before deciding whether the full n-gram join is worth running.
  */
object Sketches {

  // ---- HyperLogLog over md5, p = 8 ----

  val HllP = 8
  val HllM: Int = 1 << HllP // 256 registers
  /** 2^53: the exact-integer scale for the harmonic sum (max rho is 53). */
  val RhoScale: Long = 9007199254740992L
  /** α_256 · m² · 2^53 — the raw-estimate numerator, computed once here
    * and embedded as the SAME double literal in engine and oracle (Scala
    * `Double.toString` round-trips, and its E-notation form parses as
    * DOUBLE, not DECIMAL, in DuckDB). */
  val HllNumerator: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * (65536.0 * 9007199254740992.0)

  /** Register index of a value: first 8 md5 bits. Native
    * [[graft.functions.Md5Prefix]] kernel — bit-identical to
    * conv(substring(md5(v), 1, 2), 16, 10), without the per-row digest
    * instance, hex string, and conv string parse. */
  def hllBucket(value: Column): Column =
    graft.functions.Md5Prefix(value.cast("string"), 0, 2).cast("int")

  /** Rank of a value: leading zeros of the next 52 md5 bits, plus 1.
    * `bin()` drops leading zeros so rho = 53 - bit_length(w), with the
    * all-zero word pinned to 53 — pure integer logic on both engines. */
  def hllRho(value: Column): Column = {
    val w = graft.functions.Md5Prefix(value.cast("string"), 2, 13)
    when(w === 0L, lit(53)).otherwise(lit(53) - length(bin(w))).cast("int")
  }

  /** Per-(group, bucket) register relation: `groupCols..., bucket, r`.
    * This is the sketch STATE — mergeable by MAX(r) on (group, bucket). */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], value: Column): DataFrame =
    df.select(groupCols.map(col) :+ hllBucket(value).as("bucket")
        :+ hllRho(value).as("r"): _*)
      .groupBy(groupCols.head, groupCols.tail :+ "bucket": _*)
      .agg(max(col("r")).as("r"))

  /** Fold a register relation to `v_zero, s_scaled, est_hll` per group. */
  def hllFold(regs: DataFrame, groupCols: Seq[String], estName: String): DataFrame =
    regs.groupBy(groupCols.head, groupCols.tail: _*)
      .agg(count(lit(1)).as("present"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - r)")).as("s_present"))
      .select(groupCols.map(col) ++ Seq(
        (lit(HllM) - col("present")).cast("long").as("v_zero"),
        (col("s_present") + (lit(HllM.toLong) - col("present")) * lit(RhoScale))
          .as("s_scaled")): _*)
      .withColumn(estName, lit(HllNumerator) / col("s_scaled").cast("double"))

  /** HLL distinct estimate per group: `groupCols..., v_zero, s_scaled,
    * est_hll` — one row per group, counts-only shuffles throughout. */
  def hllEstimate(df: DataFrame, groupCols: Seq[String], value: Column): DataFrame =
    hllFold(hllRegisters(df, groupCols, value), groupCols, "est_hll")

  /** Append one ingest batch's registers to a PERSISTENT HLL index —
    * the sketch-as-index pattern: a dashboard's "distinct users per
    * segment, all time" at 100 TB is served from an index whose size is
    * groups × 256 rows per batch (bytes, not data-scale), maintained by
    * exactly this per-batch write. The batch's registers overwrite
    * their own `batch=<id>` partition, so a Structured-Streaming retry
    * of the same batchId is idempotent — the same commit discipline as
    * the dedup indexes. Because register MAX is associative and
    * commutative, the merged index is bit-identical to the sketch of
    * all data ever ingested: the serving read stays oracle-exact no
    * matter how ingestion was batched. */
  def hllIndexAddBatch(batch: DataFrame, groupCols: Seq[String], value: Column,
                       indexPath: String, batchId: Long): Unit =
    hllRegisters(batch, groupCols, value)
      .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")

  /** Serving read of a persistent HLL index: merge every batch's
    * registers by MAX. Feed the result to [[hllFold]] for estimates.
    * The batches come from the shared `batch=<id>` listing; `basePath`
    * keeps `batch` as a partition column. */
  def hllIndexRead(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                   groupCols: Seq[String]): DataFrame =
    spark.read.option("basePath", indexPath)
      .parquet(graft.dedup.SignatureIndex.batches(spark, indexPath).map(_._2.toString): _*)
      .groupBy(groupCols.head, groupCols.tail :+ "bucket": _*)
      .agg(max(col("r")).as("r"))

  /** The same estimate through an explicitly SHARDED merge tree: rows
    * split over `shards` engine-hash shards, per-shard registers built
    * independently, then merged by MAX — the physical shape of sketching
    * a 100 TB table partition-by-partition and folding the partials. The
    * result is provably identical to the direct path (max is associative
    * and commutative), which the oracle checks by hash: any engine defect
    * in the two-level aggregation would surface as a mismatch. */
  def hllEstimateSharded(df: DataFrame, groupCols: Seq[String], value: Column,
                         shards: Int): DataFrame = {
    val shard = pmod(xxhash64(value.cast("string")), lit(shards)).as("__shard")
    val partials = df
      .select(groupCols.map(col) ++ Seq(shard, hllBucket(value).as("bucket"),
        hllRho(value).as("r")): _*)
      .groupBy(groupCols.head, groupCols.tail ++ Seq("__shard", "bucket"): _*)
      .agg(max(col("r")).as("r"))
    val merged = partials
      .groupBy(groupCols.head, groupCols.tail :+ "bucket": _*)
      .agg(max(col("r")).as("r"))
    hllFold(merged, groupCols, "est_merged")
      .select(groupCols.map(col) :+ col("est_merged"): _*)
  }

  // ---- Count-Min sketch (Cormode & Muthukrishnan 2005), d = 4, m = 4096 ----

  val CmsD = 4
  val CmsM = 4096 // 3 hex chars per row hash

  /** Row-i hash of a value: first 12 bits of md5("i:value") — the same
    * seeded-md5 family the dd_minhash_md5 oracle anchor uses. */
  def cmsBucket(i: Column, value: Column): Column =
    graft.functions.Md5Prefix(
      concat(i.cast("string"), lit(":"), value.cast("string")), 0, 3).cast("int")

  /** The d×m counter table: `i, bucket, c`. Counters are SUMS — fully
    * mergeable (map-side partial aggregation collapses each task's
    * stream to ≤ d·m counter rows), and entirely integer, so unlike HLL
    * even the point ESTIMATE below is oracle-exact with no floating
    * point anywhere. Frequency estimation over an unbounded key space in
    * d·m fixed counters is the CMS trade: est ≥ true always, with the
    * overcount bounded by collisions (small relative to genuinely heavy
    * items — exactly the items a pipeline asks about). */
  def cmsCounters(items: DataFrame, value: Column): DataFrame =
    items.select(value.as("__v"),
        explode(sequence(lit(0), lit(CmsD - 1))).as("i"))
      .select(col("i"), cmsBucket(col("i"), col("__v")).as("bucket"))
      .groupBy(col("i"), col("bucket")).agg(count(lit(1)).as("c"))

  /** Point estimates for a probe relation: min over the d row counters.
    * Probes are broadcast (a probe list is always small); every non-probe
    * column of `probes` is carried through. */
  def cmsPointEstimates(counters: DataFrame, probes: DataFrame,
                        probeValue: String): DataFrame = {
    val carry = probes.columns.toSeq
    val pr = probes.withColumn("i", explode(sequence(lit(0), lit(CmsD - 1))))
      .withColumn("bucket", cmsBucket(col("i"), col(probeValue)))
    counters.join(broadcast(pr), Seq("i", "bucket"))
      .groupBy(carry.head, carry.tail: _*)
      .agg(min(col("c")).as("est_n"))
  }

  /** Join-size estimate from two CMS counter tables alone (Cormode &
    * Muthukrishnan's inner-product estimator): for each hash row i,
    * Σ_bucket cA·cB ≥ Σ_key cntA(key)·cntB(key) = |A ⋈ B|, and the MIN
    * over the d rows is the estimate — never an undercount, all
    * integer. This is how a planner SIZES a join (pick broadcast vs
    * shuffle, predict skew) from d·m counters per side without touching
    * either table again. */
  def cmsJoinSize(countersA: DataFrame, countersB: DataFrame): DataFrame =
    countersA.as("a")
      .join(countersB.as("b"), col("a.i") === col("b.i") && col("a.bucket") === col("b.bucket"))
      .groupBy(col("a.i")).agg(sum(col("a.c") * col("b.c")).as("ip"))
      .agg(min(col("ip")).cast("long").as("est_pairs"))

  // ---- Bottom-k uniform value sample (quantile sketch), k = 256 ----

  val QuantK = 256

  /** Per-group bottom-k-by-hash VALUE sample: `groupCols..., vs,
    * sample_k`, with `vs` the value-sorted array of the ≤k sampled
    * values. The hash is uniform over rows, so `vs` is a deterministic
    * uniform row sample of the group — the quantile-sketch state: any
    * order statistic of the group is estimated by the same order
    * statistic of the sample, with no per-group sort of the full data
    * (the [[MinKPairs]] buffer is k-bounded through partial aggregation,
    * so a 100 TB group ships kilobytes per map task). Estimates use pure
    * index selection (no interpolation arithmetic), which is what makes
    * them oracle-exact: both engines pick element floor(q·(k-1)) of the
    * same sorted sample. */
  def bottomKSample(df: DataFrame, groupCols: Seq[String], hash: Column,
                    value: Column, k: Int = QuantK): DataFrame = {
    val minK = udaf(new MinKPairs(k))
    df.select(groupCols.map(col) ++ Seq(hash.as("__h"), value.cast("double").as("__v")): _*)
      .groupBy(groupCols.head, groupCols.tail: _*)
      .agg(minK(col("__h"), col("__v")).as("__pairs"))
      .select(groupCols.map(col) ++ Seq(
        array_sort(transform(col("__pairs"), p => p.getField("_2"))).as("vs"),
        size(col("__pairs")).cast("long").as("sample_k")): _*)
  }

  /** The value at quantile num/den of a sorted value array of length
    * `k`: element at 0-based index (num·(k−1)) div den. The division is
    * a truncating double division, exact at these magnitudes: the
    * numerator is an exact integer < 2^53 and a non-integral true
    * quotient sits ≥ 1/den from any integer, 10 orders above the
    * correctly-rounded division's error — so both engines land on the
    * same index with no interpolation arithmetic anywhere. */
  def quantileAt(vs: Column, k: Column, num: Int, den: Int): Column =
    element_at(vs,
      ((lit(num.toLong) * (k.cast("long") - 1)).cast("double") / lit(den.toDouble))
        .cast("long").cast("int") + lit(1))

  // ---- Bloom filter over seeded md5, d = 4, m sized from the key count ----

  val BloomD = 4

  /** Hex-digit width of the Bloom bucket space for n keys: the smallest
    * c with 16^c ≥ 16·n, i.e. ≥16 bits per key — computed as
    * length(hex(16n−1)), pure integer/string logic both engines share.
    * With d=4 probes the false-positive rate at the worst fill is
    * (1−e^(−1/4))^4 ≈ 0.24% and shrinks 16× right after each width
    * step; sizing from the data is what a fixed-m filter gets wrong at
    * 100× scale-up (the same lesson as `adaptiveSrpParams`). Production
    * sizes n from the HLL estimate above instead of an exact count.
    * HARD CEILING: the width is capped here at 15 hex chars (the
    * Md5Prefix positive-long limit), reached only at ~7·10^16 distinct
    * keys — past it the filter degrades to a denser fixed 2^60 bucket
    * space (FPR rises, never a false negative) instead of failing
    * per-row mid-scan (r18 ADVICE). */
  def bloomHexChars(n: Column): Column = least(length(hex(lit(16L) * n - 1)), lit(15))

  /** Row-i bit position of a value — same seeded-md5 family as the CMS,
    * with the hex width `c` a COLUMN (broadcast from the sizing pass) so
    * the whole pipeline stays one declarative plan. `c` comes from
    * [[bloomHexChars]], which caps it at 15: Md5Prefix throws beyond a
    * positive long. */
  def bloomBucket(i: Column, value: Column, c: Column): Column =
    graft.functions.Md5Prefix(
      concat(i.cast("string"), lit(":"), value.cast("string")), 0,
      c.cast("int"))

  /** The SET-BIT table of a key relation (must already carry the sizing
    * column `c`): distinct (i, bucket), ≤ d·n rows — the sketch a
    * contamination gate ships instead of the key set itself. */
  def bloomBits(keys: DataFrame, value: Column): DataFrame =
    keys.select(value.as("__v"), col("c"),
        explode(sequence(lit(0), lit(BloomD - 1))).as("i"))
      .select(col("i"), bloomBucket(col("i"), col("__v"), col("c")).as("bucket"))
      .distinct()

  /** Membership probe: a probe is in the filter iff ALL d of its bit
    * positions are set (never a false negative; false positives bounded
    * by the sizing above and measured, not assumed, by the caller).
    * `probes` must carry the sizing column `c`; every probe column is
    * preserved. */
  def bloomContains(bits: DataFrame, probes: DataFrame, probeValue: String): DataFrame = {
    val pr = probes
      .withColumn("i", explode(sequence(lit(0), lit(BloomD - 1))))
      .withColumn("bucket", bloomBucket(col("i"), col(probeValue), col("c")))
    val hits = pr.join(bits, Seq("i", "bucket"), "left_semi")
      .groupBy(col(probeValue)).agg(count(lit(1)).as("__hits"))
    probes.join(hits, Seq(probeValue), "left")
      .withColumn("in_bloom", coalesce(col("__hits"), lit(0L)) === lit(BloomD.toLong))
      .drop("__hits")
  }

  // ---- KMV bottom-k over md5, k = 64 ----

  val KmvK = 64
  /** 2^52 as an exact double — the w_k normalization scale. */
  val W52: Double = 4503599627370496.0

  /** Per-set bottom-k sketch: `setCol, mins` (sorted array of ≤k distinct
    * md5 hex digests). State is the k-bounded [[MinKHashes]] buffer, so
    * map-side partial aggregation ships at most k digests per (task, set)
    * — no distinct() pass, no per-set window sort over the full value
    * set. */
  def kmvSketch(df: DataFrame, setCol: Column, value: Column): DataFrame = {
    val minK = udaf(new MinKHashes(KmvK))
    df.select(setCol.as("s"), md5(value.cast("string")).as("h"))
      .groupBy(col("s"))
      .agg(minK(col("h")).as("mins"))
  }

  /** Pairwise overlap estimates from bottom-k sketches alone: for every
    * unordered set pair (a < b) the union sketch, k-th minimum, and the
    * union / Jaccard / intersection estimators. The input relation is
    * one k-array row per set — the pair join is sketch-sized, never
    * data-sized. */
  def kmvOverlap(sketches: DataFrame): DataFrame = {
    val a = sketches.select(col("s").as("set_a"), col("mins").as("am"))
    val b = sketches.select(col("s").as("set_b"), col("mins").as("bm"))
    val uk = slice(array_sort(array_union(col("am"), col("bm"))), 1, KmvK)
    val wk = conv(substring(element_at(col("uk"), KmvK), 1, 13), 16, 10)
      .cast("long").as("w_k")
    val matches = size(array_intersect(array_intersect(col("uk"), col("am")),
      col("bm"))).cast("long").as("matches")
    a.join(b, col("set_a") < col("set_b"))
      .withColumn("uk", uk)
      .select(col("set_a"), col("set_b"), wk, matches)
      .withColumn("est_union",
        lit((KmvK - 1).toDouble * W52) / col("w_k").cast("double"))
      .withColumn("est_jaccard", col("matches").cast("double") / lit(KmvK.toDouble))
      .withColumn("est_intersect", col("est_jaccard") * col("est_union"))
  }
}
