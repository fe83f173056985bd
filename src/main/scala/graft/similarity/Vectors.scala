package graft.similarity

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over an embedding column (Array[Float]).
  *
  * Brute-force cosine top-k is the exact baseline: broadcast the (small)
  * query set against the corpus — one scan, no shuffle of the corpus,
  * per-partition top-k heaps via window-rank prune. The scale path is
  * SRP-LSH (random-hyperplane signatures): corpus is bucketed by signature
  * once (one cheap narrow transform), queries probe only their own bucket,
  * turning O(|Q|·|C|) into O(|Q|·|C|/2^bits) with recall controlled by
  * `bits` and multi-probe.
  */
object Vectors {

  /** Elementwise double cast (embeddings arrive as float[]). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product — deterministic summation order, so
    * results are reproducible and engine-comparable. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Squared L2 folded left-to-right and rounded to 9 decimals — the
    * engine-comparable distance of every cell probe, codebook encode and
    * k-means reference form. The rounding keeps an argmin stable against
    * summation-order noise (real distance gaps are many orders of
    * magnitude wider) and lets the DuckDB oracle replay it exactly. */
  private[similarity] def d2(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x), 9)

  /** Cosine via the native one-pass [[graft.functions.CosineSim]]
    * expression — for DOUBLE-array inputs (as all callers here ensure via
    * [[toDouble]]) it is bit-identical to the HOF form `dot/(norm·norm)`
    * (same left-to-right fold per accumulator) but one traversal instead
    * of three lambda walks. On raw float arrays the two differ in low
    * bits: the HOF multiplies in float precision, the kernel widens each
    * element to double first (CodegenSpec's float case pins the kernel
    * against the double-cast HOF, the accurate statement). This is the
    * scoring kernel every ANN candidate and near-dup pair pays at corpus
    * scale. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** The composable HOF form — kept as the cross-check reference for the
    * native kernel (pinned equal in CodegenSpec). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k neighbors for each query vector.
    * `queries` must be broadcast-sized; corpus is streamed. */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                    roundScale: Int = 6): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("score", round(cosine(col("q_vec"), col("c_vec")), roundScale))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("score"))
  }

  /** Signed-random-projection signature: `bits` hyperplanes whose ±1
    * components are derived per (seed, bit, index) by xxhash64 INSIDE the
    * expression — no data-dependent training, corpus and queries bucket
    * identically, and the plan carries no literal plane arrays (at
    * dim 1024 × bits 16, literal planes would be ~16k constant nodes of
    * plan bloat; this form is dimension-independent). Composable HOF
    * form, interpreted and bits-pass; the pipelines use the one-pass
    * native [[graft.functions.SrpBands]] expression instead. */
  def srpSignature(v: Column, dim: Int, bits: Int, seed: Long = 42L): Column = {
    val idx = sequence(lit(0), lit(dim - 1))
    (0 until bits).map { b =>
      val dotB = aggregate(
        zip_with(v, idx, (x, j) =>
          x * (pmod(xxhash64(lit(seed), lit(b), j), lit(2)) * 2 - 1).cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(dotB >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Rank scored candidates (q_id, score, vec_id) to per-query top-k via
    * the bounded TopKByScore aggregate: each map task ships at most k
    * candidates per query into the shuffle instead of every candidate
    * row into a sorted window partition. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("q_id"), col("score"), col("vec_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new TopKByScore(k).toColumn.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("vec_id"), col("col._1").as("score"))
  }

  /** Exact brute-force top-k via the bounded aggregate: same contract and
    * output as [[bruteForceKnn]] (the window-rank reference form). */
  def bruteForceKnnHeap(queries: DataFrame, corpus: DataFrame, k: Int,
                        roundScale: Int = 6): DataFrame =
    rankTopK(
      corpus.crossJoin(broadcast(queries))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("score", round(cosine(col("q_vec"), col("c_vec")), roundScale)),
      k)

  /** Embedding-cosine near-dup pairs at scale: `bands` INDEPENDENT SRP
    * signatures (distinct hyperplane seeds) OR'd minhash-style — a pair is
    * a candidate if it collides in ANY band, so near-identical-but-not-
    * identical vectors (which straddle a hyperplane of any single
    * signature with probability ≈ bits·θ/π) still get caught: recall is
    * 1-(1-(1-θ/π)^bits)^bands instead of the single-band (1-θ/π)^bits
    * cliff. Candidate generation carries ids only through the bounded
    * bucket-collect ([[graft.dedup.Dedup.boundedBucketPairs]] — hot
    * buckets sub-salted, never one giant reducer row); vectors are joined
    * back once per distinct surviving pair for exact-cosine verification.
    * Identical vectors always share every bucket, so exact duplicates
    * have recall 1. */
  /** SRP (bits, bands) sized for a corpus of `n` vectors at similarity
    * threshold `sim`. Fixed bits do NOT survive scale-up: expected
    * candidate pairs are Σ bucket² /2 ≈ n²/2^(bits+1) per band, so a
    * signature width tuned at 4k vectors (bits=10 → ~8/bucket) puts
    * ~400 random vectors in every bucket at 400k and the pair set grows
    * quadratically — at sf10 that was a >74 GiB spill. Bits therefore
    * grow with log2(n/targetBucket) (pair work per bucket stays O(cap²)
    * CONSTANT as n grows; total candidates stay ~n·targetBucket·bands/2,
    * linear in n), and bands compensate the per-band recall loss:
    * p_bit = 1 − acos(sim)/π, p_band = p_bit^bits, and bands is the
    * smallest b with 1−(1−p_band)^b ≥ recallTarget (capped at maxBands —
    * the planted-recall floors in Verify measure the realized recall
    * each round). minBits keeps small corpora on the historically-pinned
    * parameters, so sf0.01/sf0.1 outputs are unchanged. */
  def adaptiveSrpParams(n: Long, sim: Double, targetBucket: Int = 24,
                        minBits: Int = 10, maxBits: Int = 24,
                        recallTarget: Double = 0.97,
                        maxBands: Int = 8): (Int, Int) = {
    require(n > 0 && sim > 0.0 && sim < 1.0)
    val bits = math.max(minBits, math.min(maxBits,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt))
    val pBit = 1.0 - math.acos(sim) / math.Pi
    val pBand = math.pow(pBit, bits)
    val bands = math.min(maxBands, math.max(4,
      math.ceil(math.log1p(-recallTarget) / math.log1p(-pBand)).toInt))
    (bits, bands)
  }

  def cosinePairsLsh(vectors: DataFrame, idCol: String, vecCol: String,
                     dim: Int, bits: Int, minCosine: Double,
                     bands: Int = 4, bucketCap: Int = 1024,
                     roundScale: Int = 6): DataFrame = {
    // all `bands` signatures in one codegen'd pass over the vector
    // (SrpBands) — the HOF form would traverse it bits×bands times
    val sigs = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bands", graft.functions.SrpBands(col("v"), bits, bands, seed = 42L))
    cosinePairsFromBands(sigs, minCosine, bucketCap, roundScale)
  }

  /** [[cosinePairsLsh]] from PRECOMPUTED (id, v, bands) rows — for
    * callers that already hold SRP signatures (e.g. the incremental
    * vector index path, which computes them once per batch). */
  def cosinePairsFromBands(sigs: DataFrame, minCosine: Double,
                           bucketCap: Int = 1024,
                           roundScale: Int = 6): DataFrame = {
    val banded = sigs.select(col("id"), posexplode(col("bands")))
      .select(col("id"), col("pos").as("band"), col("col").as("sig"))
    val cand = graft.dedup.Dedup.boundedBucketPairs(
        banded, Seq(col("band"), col("sig")), col("id"), bucketCap)
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("score", round(cosine(col("va"), col("vb")), roundScale))
      .filter(col("score") >= minCosine)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  // IVF (inverted-file) ANN — the other standard scale path next to LSH:
  // a KMeans coarse quantizer assigns every corpus vector to one of
  // `nlist` cells (trained once, seeded, deterministic); each query
  // scores only the vectors in its `nprobe` nearest cells. Cost is
  // O(|Q|·nlist) for cell selection plus O(|Q|·|C|·nprobe/nlist) for
  // scoring. The centroid table is nlist rows — broadcast, never
  // shuffled. Split as fit (index build) + probe (per-query work);
  // ivfKnn composes them for one-shot use.

  /** Train the IVF coarse quantizer — the PERSISTENT half of the index.
    * In production this runs once per corpus snapshot and its outputs
    * (cell assignments + the nlist-row centroid table) are stored
    * artifacts, like the signature indexes; per-query work is
    * [[ivfProbe]] only. Returns (assigned corpus with its `cell`,
    * centroid table).
    *
    * Coarse quantization needs rough cells, not converged clusters:
    * cap iterations AND train on a bounded pseudo-random sample
    * (~256·nlist rows, the standard IVF train-set size). Fitting on the
    * full corpus would be 8 driver-coordinated full passes before the
    * first query. The sample is top-targetRows by id-hash — uniform,
    * deterministic, and taken with per-partition heaps
    * (TakeOrderedAndProject) in ONE scan; no dedicated counting pass
    * over the corpus. Smaller corpora pass through whole. */
  def ivfFit(corpus: DataFrame, nlist: Int,
             seed: Long = 42L): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val feat = corpus.select(col("vec_id"),
      array_to_vector(col("c_vec")).as("features"))
    val targetRows = 256 * nlist
    val trainFeat = feat.orderBy(xxhash64(col("vec_id"))).limit(targetRows)
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(8).fit(trainFeat)
    val cells = model.transform(feat)
      .select(col("vec_id"), col("prediction").as("cell"))
    val assigned = corpus.join(cells, "vec_id")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("cell", "centroid")
    (assigned, centroids)
  }

  def ivfKnn(queries: DataFrame, corpus: DataFrame, nlist: Int, nprobe: Int,
             k: Int, roundScale: Int = 6, seed: Long = 42L): DataFrame = {
    val (assigned, centroids) = ivfFit(corpus, nlist, seed)
    ivfProbe(queries, assigned, centroids, nprobe, k, roundScale)
  }

  /** Deterministic sampled-pivot coarse quantizer: centroids are the
    * CORPUS VECTORS of the `nlist` ids with lexicographically smallest
    * `md5(vec_id)` — a uniform pseudo-random pivot pick every engine with
    * md5 reproduces exactly (the same quantizer family as FAISS's
    * random-pivot coarse index; KMeans in [[ivfFit]] buys better cell
    * balance but is not SQL-reproducible). Cells number 0..nlist-1 in
    * pivot-id order; every corpus vector goes to its nearest pivot by
    * squared L2 rounded to 9 decimals (ties → lowest cell), via a
    * `min_by` hash aggregate — no per-vector sort window. Feeding the
    * result through the SAME [[ivfProbe]] used in production makes the
    * whole probe path (cell selection arithmetic, candidate scoring,
    * bounded top-k) oracle-checkable end-to-end; only the KMeans fit
    * stays engine-specific. */
  def pivotFit(corpus: DataFrame, nlist: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // pivot pick is a driver-side index-build artifact (nlist vectors,
    // same billing as a PQ codebook); the ASSIGNMENT is a map-side
    // native kernel against the literal centroids — rounded-9 L2 argmin
    // with first-minimum (= lowest-cell) ties, bit-identical to the
    // former crossJoin + min_by form but with NO corpus shuffle at all
    // (the crossJoin+groupBy paid one exchange of the whole corpus per
    // fit — the dominant cost of every pivot-quantizer row at scale).
    val pivots = Kmeans.pivotInit(corpus, nlist)
    val centroids = pivots.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
    (Kmeans.assign(corpus, pivots).drop("d2"), centroids)
  }

  /** Probe a fitted IVF index: score each query against the vectors in
    * its `nprobe` nearest cells (by L2 to the broadcast centroids). With
    * nprobe = nlist this degrades gracefully to exact brute force (the
    * property the unit test pins). */
  def ivfProbe(queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
               nprobe: Int, k: Int, roundScale: Int = 6): DataFrame =
    rankTopK(ivfScores(queries, assigned, centroids, nprobe, roundScale), k)

  /** The scored-candidate stage of [[ivfProbe]], exposed for the recall
    * sweep's cost axis (candidates per query at a given nprobe). */
  def ivfScores(queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
                nprobe: Int, roundScale: Int = 6): DataFrame =
    assigned.join(broadcast(nearestCells(queries, centroids, nprobe)
        .select(col("q_id"), col("q_vec"), col("cell"))), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("score", round(cosine(col("q_vec"), col("c_vec")), roundScale))
      .select(col("q_id"), col("score"), col("vec_id"))

  /** The coarse probe of every IVF index: each query's `nprobe` nearest
    * cells by [[d2]] to the broadcast centroids, ties to the lowest cell,
    * as (q_id, q_vec, cell, qr) with `qr` the query's residual against
    * that cell's centroid (pruned away by callers that do not read it).
    * |Q|·nlist distance rows — broadcast-sized, never the corpus. */
  private[similarity] def nearestCells(queries: DataFrame, centroids: DataFrame,
                                       nprobe: Int): DataFrame = {
    val wc = Window.partitionBy(col("q_id")).orderBy(col("cd2").asc, col("cell").asc)
    queries.crossJoin(broadcast(centroids))
      .withColumn("cd2", d2(col("q_vec"), col("centroid")))
      .withColumn("cr", row_number().over(wc))
      .filter(col("cr") <= nprobe)
      .withColumn("qr", zip_with(col("q_vec"), col("centroid"), (x, y) => x - y))
      .select(col("q_id"), col("q_vec"), col("cell"), col("qr"))
  }

  /** The tail of every quantized kNN: candidates (q_id, vec_id, …) scored
    * by an approximate distance `dist` → bounded per-query heap of the
    * `shortlist` nearest (TopKByScore on the NEGATED distance keeps
    * distance asc, vec_id asc) → exact-cosine re-rank of the shortlist to
    * top-k. The re-rank broadcasts shortlist·|Q| ids against the corpus —
    * the only place raw vectors are read. Output contract matches
    * [[bruteForceKnnHeap]]: (q_id, rank, vec_id, score). */
  private[similarity] def shortlistRerank(cand: DataFrame, dist: Column,
                                          queries: DataFrame, corpus: DataFrame,
                                          k: Int, shortlist: Int,
                                          roundScale: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    val short = cand.filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), negate(dist).as("score"), col("vec_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new TopKByScore(shortlist).toColumn.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t._2").as("vec_id"))
    val rescored = corpus.join(broadcast(short), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("q_vec"))), "q_id")
      .withColumn("score", round(cosine(col("q_vec"), col("c_vec")), roundScale))
      .select(col("q_id"), col("score"), col("vec_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("score"))
  }

  /** LSH-bucketed ANN over `tables` INDEPENDENT SRP hash tables (distinct
    * hyperplane seeds via SrpBands — all signatures computed in ONE
    * codegen'd pass over the vector). A query's candidates are the union
    * of its bucket in every table; with `multiProbe` (default) each query
    * also probes every bucket at Hamming distance 1 from its own —
    * tables·(bits+1) cheap probe rows per query instead of the
    * single-bucket recall cliff. Per-table miss probability multiplies
    * across tables (recall 1-(1-p)^L), which is the standard LSH knob:
    * raise `tables` for recall at fixed bucket size, raise `bits` for
    * smaller buckets at fixed recall.
    *
    * Scale shape: the corpus is EXPLODED to `tables` (table, bucket, vec)
    * rows but never shuffled — probes are broadcast and joined
    * bucket-local; a candidate surfacing in several tables is collapsed
    * by a (q_id, vec_id) dedup on 3-scalar rows BEFORE the bounded top-k
    * heap (duplicates would occupy multiple heap slots), so the dedup
    * shuffle carries candidate ids + score, never vectors. */
  def lshKnn(queries: DataFrame, corpus: DataFrame, dim: Int, bits: Int,
             k: Int, multiProbe: Boolean = true, tables: Int = 1,
             roundScale: Int = 6): DataFrame =
    rankTopK(lshScores(queries, corpus, bits, multiProbe, tables, roundScale), k)

  /** The scored-candidate stage of [[lshKnn]], exposed so the recall
    * sweep can measure the COST axis (deduped candidates per query) of a
    * (tables, bits) configuration alongside its recall — a user tunes
    * LSH on that curve, not on a single recall point. */
  def lshScores(queries: DataFrame, corpus: DataFrame, bits: Int,
                multiProbe: Boolean = true, tables: Int = 1,
                roundScale: Int = 6): DataFrame = {
    def sigs(c: Column): Column = graft.functions.SrpBands(c, bits, tables)
    val cb = corpus.select(col("vec_id"), col("c_vec"),
        posexplode(sigs(col("c_vec"))).as(Seq("table", "bucket")))
    val qb0 = queries.select(col("q_id"), col("q_vec"),
        posexplode(sigs(col("q_vec"))).as(Seq("table", "bucket0")))
    val probes = col("bucket0") +:
      (if (multiProbe) (0 until bits).map(i => col("bucket0").bitwiseXOR(lit(1L << i)))
       else Seq.empty[Column])
    val qb = qb0.withColumn("bucket", explode(array(probes: _*))).drop("bucket0")
    cb.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("score", round(cosine(col("q_vec"), col("c_vec")), roundScale))
      .select(col("q_id"), col("score"), col("vec_id"))
      .dropDuplicates("q_id", "vec_id")
  }
}
