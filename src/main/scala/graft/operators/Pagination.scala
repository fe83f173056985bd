package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyset (cursor) pagination — SURVEY §2 O1-O5.
  *
  * The reference paginates every query socket with
  * `WHERE id < cursor ORDER BY id DESC LIMIT n`
  * (`qcfractal/components/record_socket.py:324-335` and every other
  * `query` socket). On Spark this compiles to a pushed-down parquet filter
  * plus `TakeOrderedAndProject` — no full sort, no global shuffle: each
  * task keeps a size-n heap and the driver merges, so a page costs
  * O(scan + n) regardless of table size.
  */
object Pagination {

  /** One keyset page (O1). `cursor=None` means first page. */
  def keysetPage(df: DataFrame, idCol: String, cursor: Option[Long],
                 limit: Int, descending: Boolean = true): DataFrame = {
    val id = col(idCol)
    val filtered = cursor match {
      case Some(c) if descending => df.filter(id < c)
      case Some(c)               => df.filter(id > c)
      case None                  => df
    }
    val ordered =
      if (descending) filtered.orderBy(id.desc) else filtered.orderBy(id.asc)
    ordered.limit(limit)
  }

  /** Server-side limit clamp (O3): min(maxLimit, requested). */
  def clampLimit(maxLimit: Int, requested: Option[Int]): Int =
    requested.fold(maxLimit)(math.min(maxLimit, _))

  /** O2 — client batch iterator (`qcportal/qcportal/base_models.py:
    * 85-162`): lazily walk keyset pages, threading the cursor from each
    * page's min id and honoring an optional total limit. Each `next()` is
    * one bounded Spark job (a page), so the driver never holds more than
    * a page — the reference's QueryIteratorBase contract. */
  def batchIterator(df: DataFrame, idCol: String, pageSize: Int,
                    totalLimit: Option[Int] = None)
      : Iterator[Seq[org.apache.spark.sql.Row]] =
    new Iterator[Seq[org.apache.spark.sql.Row]] {
      private var cursor: Option[Long] = None
      private var served = 0
      private var nextPage: Option[Seq[org.apache.spark.sql.Row]] = None
      private var exhausted = false

      private def fetch(): Unit = if (nextPage.isEmpty && !exhausted) {
        val want = totalLimit.fold(pageSize)(t => math.min(pageSize, t - served))
        if (want <= 0) { exhausted = true }
        else {
          val page = keysetPage(df, idCol, cursor, want).collect().toSeq
          if (page.isEmpty) exhausted = true
          else {
            cursor = Some(page.map(_.getAs[Long](idCol)).min)
            served += page.length
            nextPage = Some(page)
          }
        }
      }

      def hasNext: Boolean = { fetch(); nextPage.nonEmpty }
      def next(): Seq[org.apache.spark.sql.Row] = {
        fetch()
        val p = nextPage.getOrElse(throw new NoSuchElementException)
        nextPage = None
        p
      }
    }

  /** Input-order restoration (S1/O5): fetch rows for `ids` preserving the
    * request order, missing ids dropped (the reference yields None — a
    * left join from the ids frame keeps that behavior if needed).
    * `array_position` against the literal list gives the sort key without
    * a driver-side loop. */
  def fetchInOrder(df: DataFrame, idCol: String, ids: Seq[Long]): DataFrame = {
    val idArray = array(ids.map(lit): _*)
    df.filter(col(idCol).isin(ids: _*))
      .withColumn("__pos", array_position(idArray, col(idCol)))
      .orderBy(col("__pos"))
      .drop("__pos")
  }


}
