package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** BM25 ranked retrieval over a document table — the lexical-retrieval
  * primitive of a training-data pipeline (mining task-relevant documents,
  * building retrieval-augmented eval sets, hard-negative mining for
  * embedding training). Okapi BM25 with the non-negative idf
  * ln(1 + (N − df + 0.5)/(df + 0.5)) (Robertson/Spärck Jones, as used by
  * Lucene) and standard k1/b.
  *
  * Scale shape: the posting build is one explode + (doc, term) hash-agg
  * restricted to the query terms — the isin filter runs BEFORE the
  * shuffle, so shuffled rows are matches-per-doc, not corpus tokens.
  * Document length rides THROUGH that aggregate as a grouping column
  * (it is functionally dependent on doc_id, so the key is unchanged):
  * no corpus-sized (doc_id → dl) frame is ever exchanged to answer a
  * top-k — the only corpus-scale work is the scan itself plus the
  * 1-row (N, avgdl) partial aggregate. df is a terms-sized aggregate
  * and (N, avgdl) a single row, both joined back by broadcast; the
  * final top-k is a TakeOrdered (never a global sort). Every
  * arithmetic step is rounded/decimal-disciplined so any engine
  * reproduces the ranking bit-for-bit.
  */
object Retrieval {

  /** Top-k documents by BM25 score for a bag of query terms. Returns
    * (doc_id, score, n_terms) — n_terms = distinct query terms matched —
    * ordered by (score desc, doc_id), `topK` rows. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               topK: Int = 20): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.wsTokens(col(textCol)).as("t"))
    // one-row corpus stats; integer sum is exact, the final division is
    // one IEEE op so avgdl is engine-identical
    val stats = toks.select(size(col("t")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // dl rides the (doc, term) aggregate as a grouping column — it is
    // functionally dependent on doc_id, so no extra shuffle and no
    // corpus-sized length join afterwards
    val tf = toks
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    scoreTopK(tf, df, stats, k1, b, topK)
  }

  /** Per-(doc, term) BM25 weight `w` (with its `idf`) over `tf` rows
    * (doc_id, dl, term, tf), `df` (term, df) and the one-row `stats`
    * (n_docs, avgdl) — the arithmetic every BM25 answer reads, from the
    * scan path above and from both [[PostingsIndex]] query paths. */
  private[text] def weights(tf: DataFrame, df: DataFrame, stats: DataFrame,
                            k1: Double, b: Double): DataFrame =
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", round(log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6))
      .withColumn("w", col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))

  /** A document's score: its weights rounded to 6 places and summed as
    * DECIMAL(18,6), so the sum is order-independent and engine-exact. */
  private[text] def score: Column =
    round(sum(round(col("w"), 6).cast(DecimalType(18, 6))).cast("double"), 6)

  /** The BM25 scoring tail shared by the scan path above and the
    * [[PostingsIndex]] query path: `tf` rows are (doc_id, dl, term, tf),
    * `df` is (term, df), `stats` one row (n_docs, avgdl). Both producers
    * feed EXACTLY the same [[weights]], so the indexed and scan answers
    * are bit-identical and share one oracle. */
  private[text] def scoreTopK(tf: DataFrame, df: DataFrame, stats: DataFrame,
                              k1: Double, b: Double, topK: Int): DataFrame =
    weights(tf, df, stats, k1, b)
      .groupBy(col("doc_id"))
      .agg(score.as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
}
