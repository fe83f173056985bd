package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import TextFunctions.wsTokens

/** Multinomial Naive Bayes over whitespace tokens — the cheap trainable
  * classifier (fastText-linear-style) curation pipelines run for
  * language / quality / domain gates, fit and scored entirely in-plan.
  *
  * Fit is pure aggregation over the labeled split: per-(label, token)
  * occurrence counts, per-label token totals, vocabulary size, document
  * priors. Scoring explodes the unlabeled split's tokens, expands by the
  * (broadcast, handful-sized) label set, joins the count table once on
  * (label, token) — the only data-sized shuffle — and folds
  * Laplace-smoothed per-token log-likelihoods with the engine-parity
  * discipline: each term rounded to 6 and summed as DECIMAL(18,6), so
  * the fold is order-independent and any SQL engine replays it
  * bit-for-bit. argmax is a per-document window over |labels| rows.
  *
  * Scale shape: nothing is pairwise and no state is driver-side — the
  * model IS two aggregate tables (counts: vocab×labels rows; totals /
  * priors: |labels| rows), the broadcast sides are label-sized or
  * single-row, and the score side is one shuffle join against counts.
  * (Mirrors the classifier-gate stage of CCNet/RefinedWeb-style
  * pipelines; the reference has no trained classifier — this is part of
  * the training-data-pipeline surface, like DSIR in [[Dsir]].)
  */
object NaiveBayes {

  /** Fit on `train` (labelCol, textCol), score `test` (idCol, textCol):
    * returns (idCol, pred_<labelCol>, score) — the argmax label per test
    * document and its rounded joint log-likelihood. */
  def fitScore(train: DataFrame, test: DataFrame, labelCol: String,
               idCol: String, textCol: String): DataFrame = {
    val trainToks = train.select(col(labelCol).as("label"),
      explode(wsTokens(col(textCol))).as("tok"))
    // the MODEL is the (label, token) count table — vocab×labels rows,
    // bounded — and it is MATERIALIZED (eager checkpoint): totals and
    // vocabulary derive from it, and without the barrier the optimizer
    // column-prunes the vocabulary's distinct PAST the aggregate and
    // re-explodes the training corpus (a second full pass, observed in
    // the executed plan); with it the corpus tokenizes exactly once and
    // every consumer reads the materialized model (a fitted model IS an
    // index artifact)
    val counts = trainToks.groupBy(col("label"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val tokTotals = counts.groupBy(col("label")).agg(sum(col("c")).as("n_l"))
    val vocab = counts.select(col("tok")).distinct()
      .agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col(labelCol)).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("n_total"))))
      .select(col(labelCol).as("label"),
        round(log(col("n_docs").cast("double") / col("n_total")), 6)
          .as("log_prior"))
    val testToks = test.select(col(idCol), explode(wsTokens(col(textCol))).as("tok"))
    val scored = testToks
      .crossJoin(broadcast(priors.select(col("label")))) // |labels| rows
      .join(counts, Seq("label", "tok"), "left")
      .join(broadcast(tokTotals), "label")
      .crossJoin(broadcast(vocab)) // 1 row
      .withColumn("logp", round(log(
        (coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_l") + col("v")).cast("double")), 6))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("logp").cast(DecimalType(18, 6))).as("ll"))
      .join(broadcast(priors), "label")
      .withColumn("score", round(col("ll").cast("double") + col("log_prior"), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col(idCol), col("label").as(s"pred_$labelCol"), col("score"))
  }
}
