package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Hashing
import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: exact dedup is one hash-shuffle on a 64/128-bit content
  * key (never shuffle the documents themselves — hash first, group on the
  * hash). MinHash+LSH makes near-dup detection linear-ish: candidate pairs
  * only form inside LSH band buckets, so the quadratic all-pairs join never
  * materializes; the exact-Jaccard verification then runs per candidate
  * pair on pre-aggregated shingle sets (array ops, no explode).
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact dedup: keep the lowest-id row per content hash. Returns the
    * surviving rows with their `content_hash` attached.
    *
    * Uses the `min_by` hash-aggregate form (AggOps.distinctOnAgg), not a
    * window sort: map-side partial aggregation collapses duplicates
    * before the shuffle (one surviving row per hash per map task) and
    * nothing is sorted — a `row_number() over (partition by hash)` would
    * move every document through a sort shuffle instead. */
  def exactDedup(df: DataFrame, idCol: String, contentCols: Seq[Column]): DataFrame = {
    val hashed = df.withColumn("content_hash", Hashing.md5Hash(contentCols: _*))
    graft.operators.AggOps.distinctOnAgg(hashed, Seq("content_hash"), Seq(col(idCol)))
      .select(df.columns.toIndexedSeq.map(col) :+ col("content_hash"): _*)
  }

  /** MinHash signature: k minimums of per-seed 64-bit hashes over the
    * shingle set. Composable HOF form — correct but interpreted
    * (CodegenFallback) and k-pass; the pipeline uses the one-pass native
    * [[graft.functions.MinHashBands]] expression instead. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingleCol, s => xxhash64(lit(i), s)))): _*)

  /** LSH band hashes: split the k-length signature into `bands` bands and
    * hash each; docs sharing any band hash become candidate pairs.
    * HOF form — see [[graft.functions.MinHashBands]] for the fused
    * native path. */
  def lshBandHashes(sigCol: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map(b =>
      xxhash64(lit(b), slice(sigCol, b * r + 1, r))): _*)
  }

  /** Bounded bucket-collect pair generation — the shared candidate
    * generator for every LSH family (minhash bands, simhash chunks, SRP
    * buckets), hardened against hot buckets.
    *
    * The naive `groupBy(bucket).agg(collect_list(...))` has an unbounded
    * reducer row: a boilerplate-heavy corpus puts millions of near-dup ids
    * into one band value, so a single task collects them all and then
    * explodes ~n² pairs. Here buckets whose size exceeds `cap` are
    * sub-salted FIRST (size pass → salt = hash(payload) mod ceil(n/cap)),
    * so no collected row ever exceeds ~cap elements and no group explodes
    * more than ~cap² pairs. Nothing is silently dropped: the salt groups
    * of an oversized bucket are re-linked by "bridge" pairs chaining the
    * per-group minimum payloads in order (≤ groups-1 extra candidates), so
    * downstream connected components see the bucket as one linked family
    * even though its all-pairs expansion was capped.
    *
    * Cost: the size pass shuffles only (bucket, partial-count) rows —
    * map-side combine makes it a fraction of the payload volume — and the
    * oversized-bucket list it produces is at most items/cap rows (tiny in
    * any non-degenerate corpus), so the join back is a broadcast under AQE
    * and the payload itself is shuffled exactly once, same as the naive
    * form. `payload` must be an orderable column (a scalar id, or a struct
    * whose FIRST field is the unique ordering key); pairs come back as
    * (a, b) with a < b in payload order.
    *
    * CONTRACT under downstream verification: bridges guarantee CANDIDATE
    * connectivity only. Every caller verifies candidate pairs afterwards
    * (jaccard / hamming / cosine), and a bridge pair must pass that verify
    * like any other — so a HETEROGENEOUS hot bucket (several unrelated
    * families colliding in one bucket) may fragment into at most
    * ceil(n/cap) components per family when the chained reps fail
    * pairwise verification. Fragmentation is the documented behavior
    * (bridges are NOT exempt from verify): a capped bucket trades exact
    * transitive linkage for boundedness, never correctness of the pairs
    * it does emit. Capping is observable at runtime: every call logs the
    * oversized-bucket count and the capped pair volume when capping
    * occurred (see the WARN from this class's logger).
    */
  def boundedBucketPairs(items: DataFrame, bucketCols: Seq[Column],
                         payload: Column, cap: Int = 1024,
                         inputCheap: Boolean = false): DataFrame = {
    require(cap >= 2, s"bucket cap must be >= 2, got $cap")
    // `it` has two consumers (the size pass and the salted probe side) and
    // in most callers the bucket key is the expensive projection of the
    // whole pipeline (minhash/SRP signature) — persist so it computes
    // ONCE; exchange reuse would not cover the two distinct consumers.
    // The persisted rows are only (bucket, payload) — the narrow
    // candidate shape, never the documents. `inputCheap` callers (the
    // simhash family: chunks are a shift+mask over an already-persisted
    // collapse) skip the persist — recomputing twice inside the one
    // checkpoint job is cheaper than a cache materialization plus a
    // blocking unpersist barrier, which at bench scale dominated the row.
    val itRaw = items.select(struct(bucketCols: _*).as("__bkt"), payload.as("e"))
    val it = if (inputCheap) itRaw else itRaw.persist(StorageLevel.MEMORY_AND_DISK)
    val oversized = it.groupBy(col("__bkt")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap)
    val salted = it.join(oversized, Seq("__bkt"), "left_outer")
      .withColumn("__g", when(col("__n").isNull, lit(1L))
        .otherwise(ceil(col("__n").cast("double") / cap).cast("long")))
      .withColumn("__salt", pmod(xxhash64(lit(0x5a17L), col("e")), col("__g")))
    // `groups` also has two consumers (within + bridges); eager
    // localCheckpoint materializes it in one job (reading the cached `it`
    // twice, not recomputing it) and lets `it` be dropped immediately —
    // nothing upstream of this point is ever evaluated again.
    // blocking unpersist in finally: async removal races the next
    // action's scheduling (stale cached-block locations → BlockNotFound
    // noise + task recompute), and a failed checkpoint must not leak
    // the cache entry across retries
    val groups =
      try salted.groupBy(col("__bkt"), col("__salt"))
        .agg(collect_list(col("e")).as("es"), min(col("e")).as("rep"),
          first(col("__g")).as("__g"))
        .localCheckpoint(eager = true)
      finally if (!inputCheap) it.unpersist(blocking = true)
    // hot-bucket degradation is observable: one cheap scan of the
    // checkpointed groups reports how many buckets were capped and how
    // many all-pairs candidates the cap suppressed (replaced by bridges)
    val hot = groups.filter(col("__g") > 1)
      .groupBy(col("__bkt"))
      .agg(sum(size(col("es")).cast("long")).as("n"),
        // n·(n−1)/2 via shiftright: Column `/` is double division
        sum(shiftright(size(col("es")).cast("long") * (size(col("es")).cast("long") - 1L), 1))
          .as("kept"),
        count(lit(1)).as("g"))
      .agg(count(lit(1)).as("buckets"),
        coalesce(sum(shiftright(col("n") * (col("n") - 1L), 1) - col("kept") - (col("g") - 1L)),
          lit(0L)).as("capped_pairs"))
      .collect()(0)
    if (hot.getLong(0) > 0)
      log.warn(s"boundedBucketPairs: capped ${hot.getLong(0)} oversized bucket(s) " +
        s"(cap=$cap), suppressing ${hot.getLong(1)} all-pairs candidates " +
        "(salt groups re-linked by bridge pairs; families may fragment if " +
        "bridge reps fail downstream verification)")
    val within = groups.filter(size(col("es")) > 1)
      .select(explode(col("es")).as("a"), col("es"))
      .select(col("a"), explode(col("es")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val bridges = groups.filter(col("__g") > 1)
      .groupBy(col("__bkt")).agg(array_sort(collect_list(col("rep"))).as("reps"))
      .filter(size(col("reps")) > 1)
      .select(explode(transform(sequence(lit(1), size(col("reps")) - 1),
        i => struct(element_at(col("reps"), i).as("a"),
          element_at(col("reps"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    within.unionByName(bridges)
  }

  /** Full MinHash+LSH near-dup pipeline over (id, text):
    * shingle → collapse exact dups → sign → band → bucket-join on ids only →
    * exact-Jaccard verify once per surviving pair → expand back to members.
    * Returns candidate pairs (id_a, id_b, jaccard) with jaccard >= minJaccard.
    *
    * Scale shape: candidate generation carries only (band, id) — two longs
    * — never the shingle arrays, and the distinct that collapses the
    * bands-per-pair multiplicity runs over (id_a, id_b) long pairs. Exact
    * duplicates (the dominant cluster type in web corpora) are collapsed to
    * one representative BEFORE banding, so an m-way identical cluster costs
    * one signature instead of m²·bands candidate rows; its pairs are
    * reconstructed at the end with jaccard 1.0. Shingle sets are joined back
    * exactly once per surviving candidate pair for verification.
    *
    * Recall under capping: candidates from a capped hot bucket include
    * bridge pairs, which must still pass the jaccard verify — a
    * heterogeneous hot bucket can therefore fragment per family (see the
    * [[boundedBucketPairs]] contract). True near-dup pairs split across
    * salt groups of a capped bucket are only compared if they co-occur in
    * another band's bucket — the standard LSH multi-band redundancy.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                   minJaccard: Double = 0.2, bucketCap: Int = 1024): DataFrame = {
    // ONE native hashing pass per document: tokenize + shingle + hash
    // fused in HashedShingles (sorted DISTINCT hashes — set semantics,
    // same as the string form's array_distinct), so the pipeline never
    // materializes shingle strings — grouping, banding and the exact
    // set-Jaccard verify all run on the array<long> (exact up to ~2⁻⁶⁴
    // collisions). Short docs are dropped BEFORE the projection on the
    // allocation-free TokenCount byte scan: a filter on size(sh) would be
    // pushed below the projection and re-evaluate the shingle expression
    // per row, and unfiltered empty-set docs would all share one content
    // key — an unbounded reducer row at corpus scale.
    val sh = docs
      .filter(graft.functions.TokenCount(col(textCol)) >= shingleN)
      .select(col(idCol).as("id"),
        graft.functions.HashedShingles(col(textCol), shingleN).as("sh"))
    minhashPairsFromShingles(sh, k, bands, minJaccard, bucketCap)
  }

  /** [[minhashPairs]] from PRECOMPUTED shingle-hash sets — for callers
    * that already hold (id, sh array<long>) rows (e.g. the incremental
    * index path, which computes signatures once per batch and reuses
    * them for both the index join and within-batch pairing). If the
    * input ALSO carries a `bands` column it MUST be
    * `MinHashBands(sh, k, bands)` for the same (k, bands) — bands are a
    * pure function of `sh`, so reusing them is bit-identical — and the
    * per-distinct-content k-hash banding pass is skipped (the
    * incremental indexes already paid it for their index commit).
    *
    * Plan choice by `bucketCap`: one `take(bucketCap + 1)` of the
    * signature rows decides. At most `bucketCap` rows means no LSH
    * bucket can exceed the cap (bands are position-salted, so a row sits
    * in a bucket at most once), so [[boundedBucketPairs]]' salting and
    * bridges do nothing and the rows are paired on the driver by
    * [[localMinhashPairs]] with exactly the same pairs and the same
    * arithmetic; an empty input takes this path too. More rows take the
    * distributed plan below. */
  def minhashPairsFromShingles(sh: DataFrame, k: Int = 16, bands: Int = 4,
                               minJaccard: Double = 0.2,
                               bucketCap: Int = 1024): DataFrame = {
    val reuseBands = sh.columns.contains("bands")
    val signed = sh.select(col("id"), col("sh"),
      (if (reuseBands) col("bands")
       else graft.functions.MinHashBands(col("sh"), k, bands)).as("bands"),
      contentKey(col("sh")).as("chash"))
    val local = takeSigs(signed, bucketCap)
    if (local.isDefined) {
      val spark = sh.sparkSession
      import spark.implicits._
      return localMinhashPairs(local.get, minJaccard).toDF("id_a", "id_b", "jaccard")
    }
    // 128-bit content key over the shingle-hash array (two seeded
    // xxhash64s; a single 64-bit key would collide at billions of docs);
    // one row per distinct content, min-id representative. Persisted:
    // five downstream consumers (signature, two verify joins, two
    // member-expansion joins) would otherwise each recompute the
    // shingle+aggregate subtree — exchange reuse does not cover the
    // post-aggregate plan, and this is the table a production LSH job
    // checkpoints anyway.
    val keyed = sh.withColumn("chash", contentKey(col("sh")))
    val aggCols = Seq(
      min(col("id")).as("rep"),
      sort_array(collect_list(col("id"))).as("members"),
      first(col("sh")).as("sh")) ++ // all identical within a chash group
      (if (reuseBands) Seq(first(col("bands")).as("bands")) else Nil)
    val groups = keyed.groupBy("chash").agg(aggCols.head, aggCols.tail: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Candidates via bounded bucket-collect: the signature computes once
    // (boundedBucketPairs persists its (bucket, id) input before the size
    // pass and salted join), one shuffle groups ids per band (sub-salted
    // past `bucketCap`), pairs explode inside each bounded bucket. (A band
    // self-join would compute the signature once per join side.) The
    // signature+banding itself is the one-pass codegen'd MinHashBands
    // native expression — each shingle's bytes are hashed once, not k
    // times; callers that already banded (incremental indexes) skip even
    // that via the carried `bands` column.
    val sig = groups.select(col("rep").as("id"),
      explode(if (reuseBands) col("bands")
              else graft.functions.MinHashBands(col("sh"), k, bands)).as("band"))
    val cand = boundedBucketPairs(sig, Seq(col("band")), col("id"), bucketCap)
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()

    // verify: shingles join back once per surviving representative pair;
    // |A∪B| derived from sizes so only the intersection is materialized
    val shOnly = groups.select(col("rep"), col("sh"))
    val repPairs = cand
      .join(shOnly.select(col("rep").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shOnly.select(col("rep").as("id_b"), col("sh").as("sh_b")), "id_b")
      // sh is HashedShingles output (sorted distinct) — two-pointer count,
      // no per-pair hash set or intersection array (SortedIntersectCount)
      .withColumn("n_inter",
        graft.functions.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))

    // expand rep-level matches to every member of both exact-dup groups
    // (same content → same signature → same bands → same jaccard)
    val membersOf = groups.select(col("rep"), col("members"))
    val cross = repPairs
      .join(membersOf.select(col("rep").as("id_a"), col("members").as("m_a")), "id_a")
      .join(membersOf.select(col("rep").as("id_b"), col("members").as("m_b")), "id_b")
      .select(explode(col("m_a")).as("pa"), col("m_b"), col("jaccard"))
      .select(col("pa"), explode(col("m_b")).as("pb"), col("jaccard"))
      .select(least(col("pa"), col("pb")).as("id_a"),
        greatest(col("pa"), col("pb")).as("id_b"), col("jaccard"))

    // pairs inside an exact-dup group: identical content, jaccard 1.0
    val within = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("pa"), col("members"))
      .select(col("pa"), explode(col("members")).as("pb"))
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("id_a"), col("pb").as("id_b"), lit(1.0).as("jaccard"))

    // materialize the (small) pair set so `groups` can be unpersisted
    // HERE: the returned frame escapes this scope, and the CacheManager
    // holds a strong reference to a persisted plan forever — without
    // this, every call (one per incremental batch on a stream) leaks a
    // cache entry. The caller's action then reads checkpointed pairs.
    // finally: release even when the checkpoint action fails, or retry
    // loops leak one entry per attempt.
    try cross.unionByName(within).localCheckpoint(eager = true)
    finally groups.unpersist(blocking = true)
  }

  /** 128-bit content key of a sorted-distinct shingle-hash array: two
    * seeded xxhash64s, so same set ⇒ same key. */
  private[dedup] def contentKey(sh: Column): Column =
    struct(xxhash64(sh), xxhash64(lit(1L), sh))

  /** One signature row held on the driver: `sh` sorted distinct, `bands`
    * its MinHash band hashes, `chash` its [[contentKey]]. */
  private[dedup] final case class Sig(id: Long, sh: Array[Long], bands: Array[Long],
                                      chash: (Long, Long))

  /** The rows of an (id long, sh, bands, chash) frame when there are at
    * most `cap` of them, else None — one `take(cap + 1)`. */
  private[dedup] def takeSigs(sigs: DataFrame, cap: Int): Option[Seq[Sig]] =
    if (sigs.schema("id").dataType != org.apache.spark.sql.types.LongType) None
    else {
      val rows = sigs.select(col("id"), col("sh"), col("bands"), col("chash")).take(cap + 1)
      if (rows.length > cap) None
      else Some(rows.toIndexedSeq.map { r =>
        val ch = r.getStruct(3)
        Sig(r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray,
          (ch.getLong(0), ch.getLong(1)))
      })
    }

  /** Distinct contents of driver-side signature rows: (rep = min id,
    * sorted members, one row of the content). */
  private[dedup] def contentGroups(sigs: Seq[Sig]): Seq[(Long, Array[Long], Sig)] =
    sigs.groupBy(_.chash).values.toIndexedSeq.map { g =>
      val members = g.map(_.id).sorted.toArray
      (members(0), members, g.head)
    }.sortBy(_._1)

  /** Exact Jaccard of two sorted-distinct hash sets, in the double
    * arithmetic of the distributed verify. */
  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray
    val n = graft.functions.SortedIntersectCount.compute(
      fromPrimitiveArray(a), fromPrimitiveArray(b))
    n.toDouble / (a.length + b.length - n).toDouble
  }

  /** The driver-side plan of [[minhashPairsFromShingles]] for inputs of
    * at most `bucketCap` rows: group by content key, pair every two
    * representatives that share a band, verify by exact Jaccard, expand
    * to members, and add each exact-duplicate group's pairs at 1.0. Same
    * pairs as the distributed plan, which on such inputs never salts a
    * bucket. Returns (id_a < id_b, jaccard). */
  private[dedup] def localMinhashPairs(sigs: Seq[Sig],
                                       minJaccard: Double): Seq[(Long, Long, Double)] = {
    val groups = contentGroups(sigs)
    val byRep = groups.map(g => g._1 -> g).toMap
    val buckets = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    for ((rep, _, s) <- groups; b <- s.bands)
      buckets.computeIfAbsent(b, _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += rep
    val cand = scala.collection.mutable.HashSet.empty[(Long, Long)]
    buckets.values.forEach { reps =>
      for (a <- reps; b <- reps if a < b) cand += ((a, b))
    }
    val cross = cand.toSeq.flatMap { case (a, b) =>
      val (_, ma, sa) = byRep(a)
      val (_, mb, sb) = byRep(b)
      val j = jaccard(sa.sh, sb.sh)
      if (j < minJaccard) Nil
      else for (pa <- ma.toSeq; pb <- mb.toSeq) yield (math.min(pa, pb), math.max(pa, pb), j)
    }
    val within = for ((_, m, _) <- groups; i <- m.indices; j <- i + 1 until m.length
                      if m(i) < m(j)) yield (m(i), m(j), 1.0)
    (cross ++ within).sorted
  }

  /** MinHash+LSH with an ENGINE-PORTABLE hash function: per-seed minima of
    * md5 hex digests (lexicographic min over lowercase hex — identical
    * byte comparison in any engine) instead of xxhash64, so an external
    * SQL engine can reproduce the signatures, the banding AND the verified
    * pair set end-to-end. This anchors the LSH *pipeline* to an oracle —
    * candidate generation goes through the same [[boundedBucketPairs]]
    * path as the production [[minhashPairs]], and the exact-Jaccard verify
    * is the same intersect/size arithmetic on shingle sets. The production
    * path keeps xxhash64 (one 8-byte hash per shingle vs k full md5
    * passes over shingle STRINGS here — the portable form trades
    * throughput for reproducibility and is meant as a correctness anchor,
    * not the scale path).
    *
    * Band key = the r min-digests of the band joined with '|' — grouping
    * on the concatenated string directly, no second hash, so the bucket
    * value is itself reproducible. No exact-dup pre-collapse (the oracle
    * would have to mirror it; caller bounds the input instead). */
  def minhashPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 2, k: Int = 8, bands: Int = 4,
                           minJaccard: Double = 0.5,
                           bucketCap: Int = 1024): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    val toks = docs.select(col(idCol).as("id"),
      graft.text.TextFunctions.wsTokens(col(textCol)).as("toks"))
    // (id, sh) is read twice (signature pass + verify join) — persist the
    // narrow projection, release after the checkpointed result below
    val sh = toks.filter(size(col("toks")) >= shingleN)
      .select(col("id"),
        graft.text.TextFunctions.shinglesFromTokens(col("toks"), shingleN).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sig = array((0 until k).map(i =>
        array_min(transform(col("sh"), s => md5(concat(lit(s"$i:"), s))))): _*)
      val bandKeys = (0 until bands).map(b =>
        concat_ws("|", slice(col("sig"), b * r + 1, r)))
      val banded = sh.select(col("id"), sig.as("sig"))
        .select(col("id"), posexplode(array(bandKeys: _*)).as(Seq("band", "bh")))
      val cand = boundedBucketPairs(banded, Seq(col("band"), col("bh")),
          col("id"), bucketCap)
        .select(col("a").as("id_a"), col("b").as("id_b"))
        .distinct()
      val pairs = cand
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      pairs.localCheckpoint(eager = true)
    } finally sh.unpersist(blocking = true)
  }

  /** SimHash near-dup pairs: 64-bit simhash (native codegen'd
    * expression), split into `bands` 16-bit chunks; docs sharing a chunk
    * are candidates, verified by Hamming distance. Same scale shape as
    * [[minhashPairs]]: identical simhash values collapse to one
    * representative BEFORE banding (an m-way identical cluster would
    * otherwise emit m²·bands candidate rows), candidates come from
    * bucket-collect (hash computed once, no self-join), pairs expand back
    * to members at the end. Hamming depends only on the two hash values,
    * so the expansion is exact, with 0 for same-hash members. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bands: Int = 4, maxHamming: Long = 4L,
                   bucketCap: Int = 1024): DataFrame = {
    import graft.functions.SimHash64
    val sh = docs.select(col(idCol).as("id"), SimHash64(col(textCol)).as("sh"))
    simhashPairsFromFingerprints(sh, bands, bandBits = 16, maxHamming, bucketCap)
  }

  /** SimHash with an ENGINE-PORTABLE fingerprint: a 60-bit simhash whose
    * per-token bit votes come from the first 15 hex chars of md5(token)
    * over the doc's DISTINCT whitespace tokens (bit i set iff
    * sum over tokens of (2*bit_i(md5)-1) > 0 — strict, so ties are
    * deterministic). 60 bits keep every value, band chunk and shift
    * positive in signed-64 arithmetic in any engine (bit 63 would need
    * unsigned semantics DuckDB and Spark disagree on how to spell).
    * Banding is 4×15-bit chunks through the SAME
    * [[simhashPairsFromFingerprints]] machinery as the production
    * [[simhashPairs]] (exact-dup collapse → boundedBucketPairs →
    * Hamming verify → member expansion) — this anchors that pipeline to
    * a SQL oracle; production stays on the native 64-bit [[graft.functions.SimHash64]]
    * (one fused byte-scan per doc vs an md5 per token here). */
  def simhashPairsPortable(docs: DataFrame, idCol: String, textCol: String,
                           bands: Int = 4, maxHamming: Long = 4L,
                           bucketCap: Int = 1024): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        array_distinct(graft.text.TextFunctions.wsTokens(col(textCol))).as("toks"))
      .filter(size(col("toks")) >= 1)
    val hs = toks.select(col("id"), explode(col("toks")).as("tok"))
      .select(col("id"),
        graft.functions.Md5Prefix(col("tok"), 0, 15).as("h"))
    val votes = hs.select(col("id"), col("h"),
        explode(sequence(lit(0), lit(59))).as("i"))
      .groupBy(col("id"), col("i"))
      .agg(sum(expr("CAST(shiftright(h, i) & 1 AS INT) * 2 - 1")).as("v"))
    val fp = votes.groupBy(col("id")).agg(
      sum(when(col("v") > 0, expr("shiftleft(CAST(1 AS BIGINT), i)"))
        .otherwise(0L)).as("sh"))
    simhashPairsFromFingerprints(fp, bands, bandBits = 15, maxHamming, bucketCap)
  }

  /** Banding + verify + expansion shared by [[simhashPairs]] (64-bit
    * native fingerprints, 16-bit chunks) and [[simhashPairsPortable]]
    * (60-bit md5-vote fingerprints, 15-bit chunks). Input: (id, sh). */
  private def simhashPairsFromFingerprints(sh: DataFrame, bands: Int,
      bandBits: Int, maxHamming: Long, bucketCap: Int): DataFrame = {
    import graft.functions.SimHash64
    val mask = (1L << bandBits) - 1
    val groups = sh.groupBy("sh").agg(
        min(col("id")).as("rep"),
        sort_array(collect_list(col("id"))).as("members"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val chunks = groups.select(col("rep"), col("sh"),
        explode(array((0 until bands).map(i => struct(
          lit(i).as("band"),
          shiftrightunsigned(col("sh"), i * bandBits).bitwiseAND(lit(mask)).as("bh"))): _*)).as("c"))
      .select(col("rep"), col("sh"), col("c.band"), col("c.bh"))
    val repPairs = boundedBucketPairs(chunks, Seq(col("band"), col("bh")),
        struct(col("rep"), col("sh")), bucketCap, inputCheap = true)
      .select(col("a.rep").as("rep_a"), col("a.sh").as("sh_a"),
        col("b.rep").as("rep_b"), col("b.sh").as("sh_b"))
      .distinct()
      .withColumn("hamming", SimHash64.hamming(col("sh_a"), col("sh_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)

    val membersOf = groups.select(col("rep"), col("members"))
    val cross = repPairs
      .join(membersOf.select(col("rep").as("rep_a"), col("members").as("m_a")), "rep_a")
      .join(membersOf.select(col("rep").as("rep_b"), col("members").as("m_b")), "rep_b")
      .select(explode(col("m_a")).as("pa"), col("m_b"), col("hamming"))
      .select(col("pa"), explode(col("m_b")).as("pb"), col("hamming"))
      .select(least(col("pa"), col("pb")).as("id_a"),
        greatest(col("pa"), col("pb")).as("id_b"), col("hamming"))
    val within = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("pa"), col("members"))
      .select(col("pa"), explode(col("members")).as("pb"))
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("id_a"), col("pb").as("id_b"), lit(0L).as("hamming"))
    // same unpersist discipline as minhashPairsFromShingles: checkpoint
    // the small pair set, release the persisted groups before returning
    // (finally: released even on a failed action)
    try cross.unionByName(within).localCheckpoint(eager = true)
    finally groups.unpersist(blocking = true)
  }

  /** Edge count at or below which [[components]] solves the graph with a
    * single collect + driver union-find instead of the distributed
    * propagation loop. Same philosophy as the broadcast-join threshold:
    * a pair graph this small (<=4M edges ~ 64 MB of longs) costs one
    * short job to collect and microseconds to solve, where the
    * distributed loop pays 3+ scheduler barriers PER ITERATION — a
    * 10-20x constant-factor win on the overwhelmingly common case
    * (near-dup pair sets are linear in the duplicate count, tiny next
    * to the corpus). Anything larger takes the iterative path. */
  val ComponentsDriverEdgeBound: Long = 4000000L

  /** Driver-side connected components of an edge list: union-find with
    * path compression, each node labelled with its component's MINIMUM
    * id, so the output matches the distributed propagation loop of
    * [[components]] exactly (the equivalence is unit-tested on random
    * graphs). Returns (id, cluster_id) for every node on an edge. */
  private[graft] def clusters(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    val minOfRoot = new java.util.HashMap[Long, Long]()
    val nodes = new java.util.HashSet[Long](edges.length * 2)
    edges.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    nodes.forEach { id =>
      val r = find(id)
      minOfRoot.merge(r, id, math.min(_, _))
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
    nodes.forEach { id => out += ((id, minOfRoot.get(find(id)))) }
    out.toSeq
  }

  /** Connected components over near-dup pairs: every doc in a component
    * converges to the component's minimum id. Pairs in, (id, cluster_id)
    * out.
    *
    * Two physical strategies behind one contract:
    *  - pair sets up to [[ComponentsDriverEdgeBound]] edges with integral
    *    id columns: one collect of the checkpointed edge list + driver
    *    union-find (exact, O(E α(E))) — the graph analogue of
    *    broadcasting a small join side rather than shuffling both.
    *  - larger (or non-integral-id) graphs: iterative min-label
    *    propagation, one join + hash-agg per iteration, frontiers
    *    localCheckpointed so lineage stays flat (same discipline as
    *    JoinOps.closure). The convergence check rides the SAME action
    *    that materializes the lazy checkpoint (changed-count over the
    *    self-carried previous label), so each iteration costs exactly
    *    one scheduler barrier. Each iteration ALSO pointer-jumps (every
    *    node adopts its label's own label), so effective reach doubles
    *    per round and convergence is O(log diameter), not O(diameter) —
    *    a 2^20-diameter chain (no real pair graph comes close) fits in
    *    the default maxIter. Non-convergence within maxIter is therefore
    *    a genuine anomaly and FAILS LOUDLY: a silent non-minimal
    *    labelling would split clusters that should merge, and every
    *    caller of this function feeds an oracle-checked or
    *    survivor-producing path. */
  def components(pairs: DataFrame, maxIter: Int = 20,
                 driverEdgeBound: Long = ComponentsDriverEdgeBound): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // the pairs plan (often a full LSH pipeline) is materialized exactly
    // once; everything below reads the checkpoint. LAZY checkpoint: the
    // count action materializes the blocks AND returns the size, so the
    // empty probe, the fast-path gate and the checkpoint are one job.
    val p = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(eager = false)
    val nEdges = p.count()
    // empty fast path: an incremental batch that fully matched the index
    // (or any corpus with no near-dups) has no pairs — skip the seed
    // distinct, the checkpoints, and the propagation loop entirely.
    if (nEdges == 0)
      return p.select(col("src").as("id"), col("src").as("cluster_id"))
    // fast path only for all-long ids (the id type everywhere in this
    // library); anything else takes the type-generic distributed loop
    val longIds = p.schema.fields.forall(_.dataType == LongType)
    if (longIds && nEdges <= driverEdgeBound) {
      val spark = pairs.sparkSession
      val edges = p.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      val out = clusters(edges)
      import spark.implicits._
      return out.toDF("id", "cluster_id")
    }
    // both edge directions as a lazy union of two reads of the CACHED
    // checkpoint — a second eager checkpoint would cost a scheduler
    // round-trip to materialize rows that are already in block storage
    val e = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    // seed labels stay LAZY: both iteration-1 consumers re-derive the
    // distinct from the cached checkpoint (one cheap agg each) — an
    // eager materialization here would buy nothing but a scheduler
    // round-trip, and from iteration 1 on `labels` is always the
    // checkpointed aggregate below
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      // convergence detection is folded into the propagation aggregate:
      // the self row carries the previous label, so "did anything
      // change" is a count over the checkpoint being materialized — the
      // LAZY checkpoint means that count is the one and only action of
      // the iteration (it computes the join+agg, persists the blocks,
      // truncates lineage, and returns the changed count in one pass)
      val viaNeighbor = e.join(labels, e("dst") === labels("id"))
        .select(e("src").as("id"), col("label"), lit(false).as("self"))
      val agg = labels.withColumn("self", lit(true)).union(viaNeighbor)
        .groupBy(col("id")).agg(
          min(col("label")).as("label"),
          min(when(col("self"), col("label"))).as("prev"))
      // pointer jump: adopt the label's OWN label. Labels are always
      // node ids, a node's label is monotonically non-increasing, and
      // the jump composes two hops into one — distance to the component
      // minimum halves each round on top of the one-hop propagation, so
      // a k-iteration loop reaches minima ~2^k away instead of k.
      val jmp = agg.select(col("id").as("__jid"), col("label").as("__jlabel"))
      val next = agg.join(jmp, agg("label") === jmp("__jid"), "left")
        .select(agg("id"),
          coalesce(col("__jlabel"), agg("label")).as("label"), col("prev"))
        .localCheckpoint(eager = false)
      converged = next.filter(col("label") < col("prev")).count() == 0L
      labels = next.select(col("id"), col("label"))
      i += 1
    }
    require(converged,
      s"components did not converge within maxIter=$maxIter iterations — " +
        "with pointer jumping that means component diameter beyond ~2^" +
        s"$maxIter or a propagation bug; a silent non-minimal labelling " +
        "would split clusters, so this path fails rather than warns")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Near-dup survivors: one representative (min id) per component;
    * docs in no pair survive untouched. The standard last step of a
    * training-data dedup pass. `driverEdgeBound` passes through to
    * [[components]] — 0 forces the distributed min-label propagation
    * loop, the path a 100 TB pair graph takes (dd_survivors_dist pins
    * it against the same exact oracle the driver path answers). */
  def survivors(docs: DataFrame, idCol: String, pairs: DataFrame,
                driverEdgeBound: Long = ComponentsDriverEdgeBound): DataFrame = {
    val comp = components(pairs, driverEdgeBound = driverEdgeBound)
    val dropped = comp.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Exact token-set Jaccard over all pairs (bounded input!) — the
    * oracle-checkable baseline that MinHash approximates. Explode tokens,
    * self-join per token to count intersections, then compute
    * |A∩B| / (|A| + |B| - |A∩B|). Quadratic: only for bounded subsets or
    * verification; use minhashPairs at scale. */
  def tokenJaccardPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        array_distinct(TextFunctions.wsTokens(col(textCol))).as("toks"))
    val sizes = toks.select(col("id"), size(col("toks")).as("n"))
    val exploded = toks.select(col("id"), explode(col("toks")).as("tok"))
    val inter = exploded.as("x").join(exploded.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** ASYMMETRIC n-gram containment pairs: C(A→B) = |g(A)∩g(B)| / |g(A)|
    * over distinct token n-grams. Containment catches what symmetric
    * Jaccard misses — a document EMBEDDED in a larger one (quotes,
    * aggregator pages, prompt/completion subsets) scores near 1.0 on the
    * contained side while Jaccard stays low.
    *
    * Scale shape: grams are per-doc DISTINCT (one explode), the pair
    * candidates come from the gram equi-join whose per-gram fan-out is
    * df² — so grams with document frequency above `maxDf` are DROPPED
    * before the join (the standard stop-gram prune: a gram shared by
    * hundreds of documents is boilerplate, carries no containment signal,
    * and is exactly the quadratic blowup). With the prune the join is
    * ≤ maxDf² rows per distinct gram, linear in the corpus for fixed
    * maxDf. The df pass is counts-only (map-side combined). Exact and
    * engine-replayable end to end — df pruning is plain SQL, so the
    * oracle reproduces the same candidate set. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minC: Double = 0.8,
                       maxDf: Int = 64): DataFrame = {
    // fused native window hashes — bit-identical to the wsTokens →
    // transform/xxhash64(array_join) chain it replaced (U+001F join =
    // the oracle's chr(31): unambiguous boundaries); short docs hash to
    // an empty array and the explode drops them
    val grams = docs
      .select(col(idCol).as("id"), explode(array_distinct(
        graft.functions.TokenWindows(col(textCol), n))).as("g"))
    // per-doc gram-set size BEFORE df pruning: containment denominators
    // stay exact; pruning only thins the candidate/intersection side
    val sizes = grams.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val rare = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("g"))
    val pruned = grams.join(rare, "g")
    val inter = pruned.as("x").join(pruned.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_grams").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_grams").as("n_b")), "id_b")
      .withColumn("c_ab", round(col("n_inter").cast("double") / col("n_a"), 6))
      .withColumn("c_ba", round(col("n_inter").cast("double") / col("n_b"), 6))
      .filter(greatest(col("c_ab"), col("c_ba")) >= minC)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("c_ab"), col("c_ba"))
  }
}
