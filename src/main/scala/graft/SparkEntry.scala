package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.qsets._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (plus the training-data-pipeline extensions), each with an
  * equivalent DuckDB oracle SQL where SQL-expressible.
  *
  * Conventions for oracle parity:
  *  - every query ends with a deterministic ORDER BY over unique keys;
  *  - money/quantity sums go through DECIMAL(18,2) (exact, order-independent)
  *    and surface as DOUBLE on both sides;
  *  - integer sums are cast back to BIGINT on the DuckDB side (DuckDB widens
  *    SUM(BIGINT) to HUGEINT);
  *  - timestamps are surfaced as UTC-formatted strings, never raw.
  */
object SparkEntry {

  private val sets: Seq[QuerySet] = Seq(
    CoreRelational,
    RelationalExtended,
    PivotAnalytics,
    RecordsShaped,
    ProjectQueries,
    SourcesSinks,
    MoleculeQueries,
    SkewSafe,
    TemporalQueries,
    TextQueries,
    CurationQueries,
    DedupQueries,
    SimilarityQueries,
    MultimodalQueries,
    SketchQueries,
    StreamingQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a2_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sets.map(_.queries).reduce(_ ++ _)

  /** Builds every [[Tables.artifact]] over `dir` for this run; the sets
    * above declare theirs when they initialize, which `sets` forces. */
  def seedArtifacts(spark: SparkSession, dir: String): Unit =
    Tables.seedArtifacts(spark, dir)

  def oracleSql: Map[String, String] =
    sets.map(_.oracleSql).reduce(_ ++ _)
}
