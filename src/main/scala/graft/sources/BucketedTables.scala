package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed, sorted table layout — the co-located-join story at 100 TB.
  *
  * The reference leans on PostgreSQL btree indexes to make its hot joins
  * cheap (`record_db_models.py:257-264`); the Spark-native equivalent for
  * a fact table that is repeatedly joined on one key is bucketing: both
  * sides pre-hashed into the same number of buckets on their join key
  * means the join consumes the on-disk layout directly — NO exchange, the
  * single most expensive operator at cluster scale. `sortBy` inside each
  * bucket additionally lets sort-merge consume files without a full sort.
  * Bucket counts must match across co-joined tables; pick a count sized
  * so one bucket ≈ one task's worth of data at the target scale.
  */
object BucketedTables {

  /** Write `df` as a bucketed+sorted external parquet table registered in
    * the session catalog (bucketing metadata lives in the catalog, which
    * is why this is `saveAsTable` and not a bare path write). */
  def writeBucketed(df: DataFrame, name: String, path: String,
                    key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(name)
  }
}
