package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SqKernels

/** Scalar (per-dimension) 8-bit quantization — the SIMPLEST ANN memory
  * compression, and the one every vector store ships first: each
  * dimension is affinely mapped to 0..255 by the corpus-wide per-dim
  * (min, max) range, shrinking a 64-dim double vector to 64 bytes (8×)
  * with no codebook training at all. Next to PQ (sub-space codebooks)
  * this is the low-distortion/high-memory point on the quantization
  * curve; like the PQ family it scores candidates WITHOUT touching raw
  * vectors (reconstruct-from-code arithmetic over the codes column)
  * and re-ranks only the bounded shortlist exactly.
  *
  * The range is a pure selection (per-dim MIN/MAX — no arithmetic), so
  * unlike a trained codebook it is engine-reproducible for free, and
  * the whole pipeline — ranges, codes, reconstruction, approximate
  * distances, ranks — is oracle-exact: every float step is a fixed
  * parenthesization of single-rounded IEEE ops both engines replay.
  * Encode and distance run through the native [[SqKernels]] expressions
  * (codegen'd primitive loops); the composable-HOF forms are kept
  * package-private as the arithmetic REFERENCE the parity spec pins.
  *
  * Scale shape: `fitRange` is an index-build artifact (dim×2 doubles,
  * collected once like the PQ codebook); ENCODE IS A PURE MAP (the
  * ranges inline as kernel reference objects — no shuffle, no join);
  * scoring is a broadcast of the ≤|Q| queries against the codes
  * relation; only the bounded per-query shortlist heap shuffles.
  * [[sqKnn]] is the no-training point: its query cost is CORPUS-LINEAR
  * (every code row scored per query). [[ivfSqKnn]] is the scale path —
  * the same codes discipline behind an IVF coarse quantizer, so
  * per-query work is PROBE-BOUNDED (only the nprobe cells' codes are
  * scored), the FAISS IndexIVFScalarQuantizer composition.
  */
object Sq {

  /** Per-dim min/max of an array column — shared by the raw and
    * residual range fits. One aggregation pass; dim×2 doubles out. */
  private def rangeOf(df: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val aggs = (1 to dim).flatMap(d => Seq(
      min(element_at(col(vecCol), d)), max(element_at(col(vecCol), d))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    ((0 until dim).map(d => row.getDouble(2 * d)),
     (0 until dim).map(d => row.getDouble(2 * d + 1)))
  }

  /** Per-dimension (min, max) over the corpus — the index-build
    * artifact. Driver-side head() is the BUILD, not a query path. */
  def fitRange(corpus: DataFrame): (Seq[Double], Seq[Double]) =
    rangeOf(corpus, "c_vec")

  /** The residual of each assigned vector against its cell centroid —
    * (vec_id, cell, r) with `r = x − centroid(cell(x))` (exact IEEE
    * subtraction, so any engine doing the same subtraction reproduces
    * it bit-for-bit) — what the residual codes of IVF-SQ8 and of
    * [[Pq.ivfPqResidualKnn]] quantize. For IVF-SQ8, CALLERS MATERIALIZE
    * IT ONCE (localCheckpoint) and derive the range fit AND the codes
    * from the checkpoint — the coarse-assignment subtree (centroid
    * argmin + corpus join) is the expensive pass, and three lazy
    * consumers would re-run it three times. */
  def residuals(assigned: DataFrame, centroids: DataFrame): DataFrame =
    assigned.join(broadcast(centroids), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("c_vec"), col("centroid"), (x, y) => x - y).as("r"))

  /** Per-dimension (min, max) over a materialized [[residuals]] frame —
    * the index-build artifact for [[ivfSqKnn]]. Residuals concentrate
    * near the origin once the coarse quantizer has soaked up the
    * between-cell variance, so the same 256 levels cover a much tighter
    * spread than raw vectors — the FAISS IndexIVFScalarQuantizer
    * rationale, same reason IVFPQ encodes residuals. Still a pure
    * selection (min/max of exact subtractions): engine-reproducible. */
  def fitResidualRange(res: DataFrame): (Seq[Double], Seq[Double]) =
    rangeOf(res, "r")

  /** code[d] = min(255, floor(((v[d] − lo[d]) · 255) / (hi[d] − lo[d])))
    * — fixed parenthesization, constant dims pinned to 0. Pure map.
    * Composable-HOF REFERENCE form; production encode goes through the
    * bit-identical native kernel (parity pinned in PqSpec). */
  private[graft] def codesExprHof(vec: Column, lo: Seq[Double], hi: Seq[Double]): Column = {
    val loL = typedLit(lo); val hiL = typedLit(hi)
    transform(sequence(lit(1), lit(lo.length)), d => {
      val v = element_at(vec, d)
      val l = element_at(loL, d); val h = element_at(hiL, d)
      least(
        when(h === l, lit(0.0))
          .otherwise(floor(((v - l) * lit(255.0)) / (h - l))),
        lit(255.0)).cast("int")
    })
  }

  def encode(corpus: DataFrame, lo: Seq[Double], hi: Seq[Double]): DataFrame =
    corpus.select(col("vec_id"), SqKernels.encodeCol(col("c_vec"), lo, hi).as("codes"))

  /** Reconstruct-from-codes squared L2, HOF REFERENCE form: r[d] =
    * lo[d] + ((code[d] + 0.5) · (hi[d] − lo[d])) / 255 (the cell
    * midpoint), Σ (q[d] − r[d])² folded in dim order, rounded 9 — the
    * arithmetic the native [[SqKernels.distCol]] replays exactly. */
  private[graft] def distExprHof(q: Column, codes: Column,
                                 lo: Seq[Double], hi: Seq[Double]): Column = {
    val loL = typedLit(lo); val hiL = typedLit(hi)
    val recon = transform(sequence(lit(1), lit(lo.length)), d => {
      val l = element_at(loL, d); val h = element_at(hiL, d)
      l + ((element_at(codes, d).cast("double") + lit(0.5)) * (h - l)) / lit(255.0)
    })
    Vectors.d2(q, recon)
  }

  /** SQ8 top-k: approximate L2 against RECONSTRUCTED vectors (codes
    * only — raw corpus vectors untouched) → bounded per-query shortlist
    * heap → exact-cosine re-rank. Corpus-linear per query by contract
    * (no pruning structure at all) — the no-training baseline point;
    * [[ivfSqKnn]] is the probe-bounded sibling. */
  def sqKnn(queries: DataFrame, corpus: DataFrame,
            lo: Seq[Double], hi: Seq[Double], k: Int,
            shortlist: Int = 128, roundScale: Int = 6): DataFrame = {
    val codes = encode(corpus, lo, hi)
    val cand = codes.crossJoin(broadcast(queries.select(col("q_id"), col("q_vec"))))
    Vectors.shortlistRerank(cand, SqKernels.distCol(col("q_vec"), col("codes"), lo, hi),
      queries, corpus, k, shortlist, roundScale)
  }

  /** IVF-SQ8 top-k — the FAISS IndexIVFScalarQuantizer composition, and
    * the SCALE path for scalar quantization: coarse cells prune the
    * scan, SQ8 codes quantize the RESIDUAL r = x − centroid(cell(x)),
    * and each query scores only the codes of its `nprobe` nearest cells
    * against its own per-cell residual qr = q − centroid. Distance is
    * ||qr − reconstruct(code)||² — identical to ||q − (centroid +
    * reconstruct(code))||² by construction, but computed entirely in
    * residual space so the arithmetic matches the range the codes were
    * fitted on.
    *
    * `res` is the MATERIALIZED [[residuals]] frame — the caller
    * checkpoints it once and this function derives the codes from it
    * as a pure kernel map (ranges are codegen reference objects). The
    * probe set (|Q|·nprobe rows, each carrying one qr vector)
    * broadcasts; per-query scored rows = the probed cells' codes only —
    * probe-bounded, not corpus-linear; only the bounded shortlist heap
    * shuffles. With a deterministic coarse quantizer
    * ([[Vectors.pivotFit]]) every step — cells, residuals, range fit,
    * codes, reconstruction, distances, ranks — is oracle-exact. */
  def ivfSqKnn(queries: DataFrame, corpus: DataFrame,
               res: DataFrame, centroids: DataFrame,
               lo: Seq[Double], hi: Seq[Double],
               nprobe: Int, k: Int, shortlist: Int = 128,
               roundScale: Int = 6): DataFrame = {
    val codes = res.select(col("vec_id"), col("cell"),
      SqKernels.encodeCol(col("r"), lo, hi).as("codes"))
    val probes = Vectors.nearestCells(queries, centroids, nprobe)
      .select(col("q_id"), col("cell"), col("qr"))
    val cand = codes.join(broadcast(probes), Seq("cell"))
    Vectors.shortlistRerank(cand, SqKernels.distCol(col("qr"), col("codes"), lo, hi),
      queries, corpus, k, shortlist, roundScale)
  }
}
