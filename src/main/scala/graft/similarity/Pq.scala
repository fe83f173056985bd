package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product-quantization ANN — the memory-compression scale path next to
  * LSH (bucketing) and IVF (partition pruning): each corpus vector is
  * encoded once into `m` sub-space codes (here 8 codes of 4 bits → 8
  * SMALL INTS per vector instead of 64 floats, a 32× shrink), and a query
  * scores candidates with Asymmetric Distance Computation: one tiny
  * per-query distance table (m × ks entries of query-subvector →
  * codeword distance), then every vector's approximate distance is m
  * table lookups over its codes — no raw-vector read at all until the
  * final shortlist re-rank. At 100 TB that is the difference between an
  * index that fits executor memory and one that does not: the codes
  * column is what the scan reads, the full embedding column is touched
  * only for shortlist·|Q| rows.
  *
  * The codebook here is the deterministic pivot family (sub-vectors of
  * the `ks` corpus vectors with smallest md5(vec_id), the same
  * quantizer family as [[Vectors.pivotFit]]): reproducible in any engine
  * with md5, so encode → ADC → shortlist → exact re-rank is
  * oracle-checkable END TO END (DuckDB reproduces every code and every
  * rank). KMeans-trained codebooks buy tighter cells but lose the
  * oracle; the pivot family keeps the entire PQ pipeline hash-exact.
  *
  * Scale shape: the codebook is an index-build artifact (ks·dim doubles
  * — 1 KB at the defaults; FAISS stores the same thing in the index
  * header), inlined as a plan literal, so ENCODE IS A PURE MAP — no
  * shuffle, no join, one pass over the corpus. ADC is a broadcast join
  * of the 10-query distance tables against the codes relation (map-side,
  * codes never shuffle); only the bounded per-query top-`shortlist`
  * heap shuffles, at ≤ shortlist rows per query per task.
  */
object Pq {

  /** Deterministic pivot codebook: `(m)(k)(d)` nested array — sub-vector
    * `m` of the `k`-th pivot (pivots = `ks` smallest md5(vec_id), cells
    * numbered in pivot-id order). Driver-side collect is the index BUILD
    * (ks·dim doubles), not a query-path collect. */
  def pivotCodebook(corpus: DataFrame, m: Int, ks: Int): Seq[Seq[Seq[Double]]] = {
    val dim = corpus.select(size(col("c_vec"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val d = dim / m
    val pivots = corpus
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(ks)
      .orderBy(col("vec_id"))
      .select(col("c_vec")).collect().map(_.getSeq[Double](0))
    require(pivots.length == ks, s"corpus smaller than ks=$ks")
    (0 until m).map(mi => pivots.toSeq.map(p => p.slice(mi * d, (mi + 1) * d)))
  }

  /** Encode every corpus vector to its `m` codes in ONE projection — a
    * pure map over the scan, zero shuffle, via the native codegen'd
    * [[graft.functions.PqEncodeExpr]] kernel (bit-identical to
    * [[encodeHof]], pinned in PqSpec). Tie on rounded distance goes to
    * the lowest code. */
  def encode(corpus: DataFrame, codebook: Seq[Seq[Seq[Double]]]): DataFrame =
    corpus.select(col("vec_id"),
      graft.functions.PqKernels.encodeCol(col("c_vec"), codebook).as("codes"))

  /** The composable-HOF reference form of [[encode]] — m×ks interpreted
    * lambda pairs per vector; kept as the equivalence cross-check for
    * the native kernel (array_position finds the FIRST minimum, the
    * same lowest-code tie-break as the kernel's strict-< argmin). */
  def encodeHof(corpus: DataFrame, codebook: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebook.length
    val d = codebook.head.head.length
    val cb = typedLit(codebook)
    corpus.select(col("vec_id"),
      transform(sequence(lit(0), lit(m - 1)), mi => {
        val sub = slice(col("c_vec"), mi * d + 1, lit(d))
        val ds = transform(sequence(lit(0), lit(codebook.head.length - 1)),
          k => Vectors.d2(sub, element_at(element_at(cb, mi + 1), k + 1)))
        (array_position(ds, array_min(ds)) - 1).cast("int")
      }).as("codes"))
  }

  /** ADC distance of a codes row against a query's distance table — the
    * HOF reference form (m-ordered left fold, rounded to 9); the hot
    * path uses the native [[graft.functions.PqAdcExpr]] kernel, pinned
    * bit-identical in PqSpec. */
  def adcDistanceHof(codes: Column, dtab: Column, m: Int): Column =
    round(
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, mi) => acc +
          element_at(element_at(dtab, mi + 1),
            element_at(codes, mi + 1) + 1)), 9)

  /** The `(m)(k)` distance-table expression for one vector column:
    * rounded sub-space distances to every codeword. Shared by the
    * per-query tables of plain PQ and the per-(query, cell) residual
    * tables of [[ivfPqResidualKnn]]. */
  private def dtabExpr(vec: Column, codebook: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebook.length
    val d = codebook.head.head.length
    val cb = typedLit(codebook)
    transform(sequence(lit(0), lit(m - 1)), mi => {
      val sub = slice(vec, mi * d + 1, lit(d))
      transform(sequence(lit(0), lit(codebook.head.length - 1)),
        k => Vectors.d2(sub, element_at(element_at(cb, mi + 1), k + 1)))
    })
  }

  /** Per-query ADC distance tables: `(m)(k)` rounded sub-space distances
    * from the query's sub-vectors to every codeword. One row per query —
    * broadcast-sized by construction. */
  def distanceTables(queries: DataFrame, codebook: Seq[Seq[Seq[Double]]]): DataFrame =
    queries.select(col("q_id"), col("q_vec"),
      dtabExpr(col("q_vec"), codebook).as("dtab"))

  /** ADC distance of (codes, dtab) candidate rows: the `m` table lookups
    * folded in fixed sub-space order (left-to-right double fold —
    * bit-reproducible across engines, the same discipline as the d2
    * kernel). */
  private def adc: Column = graft.functions.PqKernels.adcCol(col("codes"), col("dtab"))

  /** PQ top-k: ADC over the full codes relation → bounded per-query
    * `shortlist` heap → exact-cosine re-rank of the shortlist to top-k.
    * Output contract matches [[Vectors.bruteForceKnnHeap]]:
    * (q_id, rank, vec_id, score). */
  def pqKnn(queries: DataFrame, corpus: DataFrame, codebook: Seq[Seq[Seq[Double]]],
            k: Int, shortlist: Int = 32, roundScale: Int = 6): DataFrame = {
    val codes = encode(corpus, codebook)
    val dtabs = distanceTables(queries, codebook)
    Vectors.shortlistRerank(
      codes.crossJoin(broadcast(dtabs.select(col("q_id"), col("dtab")))), adc,
      queries, corpus, k, shortlist, roundScale)
  }

  /** IVF-PQ: the composed billion-vector index — the coarse quantizer
    * prunes to `nprobe` cells (partition pruning: ~nprobe/nlist of the
    * codes relation is even read), then PQ-ADC ranks ONLY the probed
    * cells' codes, and the shortlist re-ranks exact. `assigned` and
    * `centroids` come from [[Vectors.pivotFit]] (or ivfFit when oracle
    * reproducibility is not required). Per-query cost at 100 TB:
    * nlist centroid distances + |C|·nprobe/nlist table lookups +
    * shortlist raw-vector reads — every term sub-linear in the corpus
    * except the pruned code scan, which reads 16-byte codes, not
    * 256-byte vectors. */
  def ivfPqKnn(queries: DataFrame, corpus: DataFrame,
               codebook: Seq[Seq[Seq[Double]]],
               assigned: DataFrame, centroids: DataFrame,
               nprobe: Int, k: Int, shortlist: Int = 32,
               roundScale: Int = 6): DataFrame = {
    val codes = encode(corpus, codebook)
      .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
    val probes = Vectors.nearestCells(queries, centroids, nprobe)
      .select(col("q_id"), col("cell"))
    val dtabs = distanceTables(queries, codebook)
    val cand = codes.join(broadcast(probes), Seq("cell"))
      .join(broadcast(dtabs.select(col("q_id"), col("dtab"))), Seq("q_id"))
    Vectors.shortlistRerank(cand, adc, queries, corpus, k, shortlist, roundScale)
  }

  /** Residual codebook: the pivot family trained on RESIDUALS — the
    * sub-vectors of `r = pivot − centroid(cell(pivot))` for the `ks`
    * smallest-md5 pivots. Residuals concentrate near the origin once the
    * coarse quantizer has soaked up the between-cell variance, so the
    * same `ks` codewords cover a much tighter distribution than raw
    * vectors — the reason FAISS's IVFPQ encodes residuals by default. */
  def residualCodebook(assigned: DataFrame, centroids: DataFrame,
                       m: Int, ks: Int): Seq[Seq[Seq[Double]]] = {
    val res = Sq.residuals(assigned, centroids)
      .orderBy(md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
      .limit(ks)
      .orderBy(col("vec_id"))
      .select(col("r")).collect().map(_.getSeq[Double](0))
    require(res.length == ks, s"corpus smaller than ks=$ks")
    val dim = res.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val d = dim / m
    (0 until m).map(mi => res.toSeq.map(p => p.slice(mi * d, (mi + 1) * d)))
  }

  /** Residual-encoded IVF-PQ — the composition a production IVFPQ index
    * actually ships (FAISS encodes residuals by default): codes quantize
    * `x − centroid(cell(x))` instead of `x`, and each query builds one
    * ADC table PER PROBED CELL from its own residual against that cell's
    * centroid. Same 16-byte codes, same probe pruning, same bounded
    * shortlist — but the codebook only has to cover the within-cell
    * spread, so at equal (m, ks) the quantization error (and hence the
    * shortlist's miss rate) drops sharply vs [[ivfPqKnn]].
    *
    * Scale shape unchanged from [[ivfPqKnn]] except the table build:
    * |Q|·nprobe tables instead of |Q| — still broadcast-sized (each is
    * m·ks doubles; 80 tables × 2 KB at the defaults). Encode remains a
    * pure map (centroids and codebook are plan literals / a broadcast
    * dim join), ADC never touches raw vectors, and the codes relation is
    * the only corpus-scale scan. */
  def ivfPqResidualKnn(queries: DataFrame, corpus: DataFrame,
                       codebook: Seq[Seq[Seq[Double]]],
                       assigned: DataFrame, centroids: DataFrame,
                       nprobe: Int, k: Int, shortlist: Int = 32,
                       roundScale: Int = 6): DataFrame = {
    val codes = Sq.residuals(assigned, centroids)
      .select(col("vec_id"), col("cell"),
        graft.functions.PqKernels.encodeCol(col("r"), codebook).as("codes"))
    // one ADC table per (query, probed cell), from the query's residual
    // against that cell's centroid — |Q|·nprobe rows, broadcast-sized
    val dtabs = Vectors.nearestCells(queries, centroids, nprobe)
      .select(col("q_id"), col("cell"), dtabExpr(col("qr"), codebook).as("dtab"))
    val cand = codes.join(broadcast(dtabs), Seq("cell"))
    Vectors.shortlistRerank(cand, adc, queries, corpus, k, shortlist, roundScale)
  }
}
