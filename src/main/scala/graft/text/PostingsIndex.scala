package graft.text

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.SignatureIndex

/** Persistent inverted (postings) index with incremental batch commits —
  * the 100 TB form of lexical retrieval. [[Retrieval.bm25TopK]] re-scans
  * the corpus per query; a production pipeline tokenizes each arriving
  * batch ONCE into term-bucketed postings and answers every later query
  * from the index, reading only the buckets its terms hash to.
  *
  * Layout: `indexDir/batch=<id>/tb=<bucket>/` parquet with rows
  * (term, doc_id, tf, dl) — `tb = pmod(xxhash64(term), 64)` is a
  * DIRECTORY partition column, so a query's scan prunes to ≤ |terms|
  * of 64 buckets before any file is opened (partition pruning, visible
  * as PartitionFilters in the plan), and the residual `term IN (...)`
  * predicate pushes into parquet row groups within them. Corpus-level
  * stats (n_docs, Σdl) commit per batch as two tiny rows in the
  * `_stats` subtree (the [[SignatureIndex]] sidecar convention), so
  * N/avgdl never re-scan anything.
  *
  * Invariants: a document lives in exactly one batch, so per-term df
  * from the pruned postings is exact and global stats are the sum of
  * the per-batch rows. Commits are `batch=<id>` overwrites → retry
  * idempotent; `_graft_params` pins (tokenizer, bucket count) — a batch
  * tokenized differently would silently split postings, so it fails
  * loudly instead. A batch is VISIBLE only once its `_graft_commit`
  * marker lands (created after both the postings and the stats writes,
  * the same marker [[SignatureIndex.compact]] leaves in consolidated
  * partitions): the stats here are load-bearing for scores (n_docs and
  * avgdl feed idf and length normalization), so a crash between the two
  * writes must leave the batch fully invisible, never postings-without-
  * stats silently skewing every later query until the retry. Both read
  * paths ([[prunedPostings]], [[corpusStats]]) filter to marked batches.
  * [[SignatureIndex.compact]] folds settled batches (partition columns
  * preserved via its `partitionCols` parameter).
  *
  * Reference: qcfractal has no retrieval index; this is the persistent
  * sibling of the SURVEY §2.11 curation surface's tx_bm25_topk, shaped
  * like dd_incremental's signature index (SURVEY §8).
  */
object PostingsIndex {

  /** Term-hash bucket fan-out. 64 keeps directory counts trivial while
    * a typical ≤ 10-term query prunes ~85% of the index; at a real
    * deployment this scales with vocabulary (it is pinned in
    * `_graft_params`, so the choice is per-index immutable). */
  val TermBuckets = 64

  private[text] val postingsSchema = StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("tf", LongType, nullable = false),
    StructField("dl", LongType, nullable = false),
    StructField("positions", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("tb", IntegerType, nullable = false),
    StructField("batch", LongType, nullable = false)))

  /** Stats rows are (stat, n): 'n_docs' and 'sum_dl' per batch. The
    * generic (key, n) shape is what [[SignatureIndex.compact]] folds
    * with sum(n) — both stats are sums, so consolidation is exact. */
  private[text] val statsSchema = StructType(Seq(
    StructField("stat", StringType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("batch", LongType, nullable = false)))

  private def params = s"tok=ws,tb=$TermBuckets,pos=0based"

  /** Tokenize one arriving batch of documents into the index. One
    * corpus-scale pass through the NATIVE [[graft.functions.TokenPostings]]
    * kernel: each document's distinct terms with tf and sorted 0-based
    * POSITIONS (the Lucene-style positional index) come out of one byte
    * scan per document, so the ingest is explode + partitioned write —
    * the previous shape (posexplode every token occurrence → corpus-wide
    * (doc, dl, term) hash aggregate → sort_array(collect_list(pos)))
    * paid a full exchange of the token stream per ingest batch to
    * regroup rows that were already adjacent in the document (kernel
    * parity pinned in TokenWindowSpec; same rows, same bytes). BM25
    * queries never read the positions column (parquet column pruning),
    * phrase queries read only it. Nothing existing is read — a retry
    * just overwrites its own partition. */
  def addBatch(docs: DataFrame, idCol: String, textCol: String,
               indexDir: String, batchId: Long): Unit = {
    val spark = docs.sparkSession
    SignatureIndex.checkParams(spark, indexDir, params)
    // per-batch corpus stats ride the postings write: observed on the
    // per-document projection BEFORE the explode, so a doc with no terms
    // still counts (dl = the whitespace FIELD count, bit-identical to
    // size(wsTokens) — every doc contributes to N and avgdl, exactly
    // like the scan path's stats)
    val stats = new Observation()
    docs.select(col(idCol).as("doc_id"),
        graft.functions.TokenWindows.fieldCountCol(col(textCol)).cast("long").as("dl"),
        graft.functions.TokenPostings(col(textCol)).as("ps"))
      .observe(stats, count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .select(col("doc_id"), col("dl"), explode(col("ps")).as("p"))
      .select(col("p.term").as("term"), col("doc_id"), col("p.tf").as("tf"),
        col("dl"), col("p.positions").as("positions"),
        pmod(xxhash64(col("p.term")), lit(TermBuckets)).cast("int").as("tb"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$indexDir/batch=$batchId")
    // one file of two rows, n_docs then sum_dl (null for an empty batch)
    val m = stats.get
    spark.createDataFrame(
        java.util.List.of(Row("n_docs", m("n_docs")), Row("sum_dl", m("sum_dl"))),
        StructType(Seq(StructField("stat", StringType, nullable = false),
          StructField("n", LongType))))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/_stats/batch=$batchId")
    // both writes durable → the batch becomes visible (see scaladoc);
    // a retry's overwrite deleted any stale marker with the directory
    val marker = new Path(s"$indexDir/batch=$batchId", "_graft_commit")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
  }

  /** Batch ids whose `_graft_commit` marker landed — the only batches
    * any read path may see. One directory listing; consolidated
    * partitions qualify via the marker [[SignatureIndex.compact]]
    * writes. */
  private def committedBatches(spark: SparkSession, indexDir: String): Seq[Long] =
    SignatureIndex.batches(spark, indexDir).collect { case (b, p) if committed(spark, p) => b }

  private def committed(spark: SparkSession, batchDir: Path): Boolean = {
    val marker = new Path(batchDir, "_graft_commit")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)
  }

  /** BM25 top-k from the index alone — bit-identical to
    * [[Retrieval.bm25TopK]] over the union of all ingested batches
    * (same [[Retrieval.scoreTopK]] tail), but the corpus is never
    * re-read: the postings scan prunes to the query terms' buckets and
    * the stats read is rows-per-batch tiny. */
  def query(spark: SparkSession, indexDir: String, terms: Seq[String],
            k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    val tf = prunedPostings(spark, indexDir, terms)
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    Retrieval.scoreTopK(tf, df, corpusStats(spark, indexDir), k1, b, topK)
  }

  /** Batched retrieval — the production shape: many queries answered in
    * ONE pass over the union of their terms' postings. The per-(doc,
    * term) BM25 weight is computed once (it is query-independent), the
    * tiny (q_id, term) table broadcast-joins onto it, and per-query
    * top-k rides the bounded [[graft.similarity.TopKByScore]] heap
    * aggregate — each map task ships ≤ k candidates per query, never
    * every scored row into a sorted window. Returns (q_id, rank,
    * doc_id, score). */
  def multiQuery(spark: SparkSession, indexDir: String,
                 queries: Seq[(Long, Seq[String])], k1: Double = 1.2,
                 b: Double = 0.75, topK: Int = 10): DataFrame = {
    import spark.implicits._
    val terms = queries.flatMap(_._2).distinct
    val tf = prunedPostings(spark, indexDir, terms)
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Retrieval.weights(tf, df, corpusStats(spark, indexDir), k1, b)
      .select(col("doc_id"), col("term"), col("w"))
    val qt = queries.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("q_id", "term")
    w.join(broadcast(qt), "term")
      .groupBy(col("q_id"), col("doc_id"))
      .agg(Retrieval.score.as("score"))
      .select(col("q_id"), col("score"), col("doc_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new graft.similarity.TopKByScore(topK).toColumn.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"), col("col._1").as("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Exact phrase query from the positional postings alone — the
    * indexed sibling of the tx_phrase_search corpus scan. Each phrase
    * term's position list shifts left by its offset; intersecting the
    * shifted lists per doc yields the phrase start positions (positions
    * are distinct within a posting, so array_intersect is exact). All
    * joins are matches-sized doc_id equi-joins; the corpus is never
    * read. Returns (doc_id, n_hits, first_pos) — first_pos 1-based,
    * the scan row's contract. */
  def phraseQuery(spark: SparkSession, indexDir: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val post = prunedPostings(spark, indexDir, phrase.distinct)
      .select(col("doc_id"), col("term"), col("positions"))
      .localCheckpoint(eager = false) // one read shared by all |phrase| consumers
    val start = post.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("positions").as("starts"))
    val folded = phrase.zipWithIndex.tail.foldLeft(start) { case (acc, (term, j)) =>
      acc.join(post.filter(col("term") === term)
          .select(col("doc_id"),
            transform(col("positions"), p => p - j).as(s"__p$j")),
        Seq("doc_id"))
        .select(col("doc_id"),
          array_intersect(col("starts"), col(s"__p$j")).as("starts"))
    }
    folded.filter(size(col("starts")) > 0)
      .select(col("doc_id"), size(col("starts")).cast("long").as("n_hits"),
        (array_min(col("starts")) + 1).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** The terms' postings with both pruning layers applied: partition
    * pruning on the tb buckets (literal ids via the engine's own
    * xxhash64 over a |terms|-row local relation — no data read) and the
    * residual term IN (...) pushed into parquet within them. */
  private def prunedPostings(spark: SparkSession, indexDir: String,
                             terms: Seq[String]): DataFrame = {
    SignatureIndex.checkParams(spark, indexDir, params)
    import spark.implicits._
    val tbs = terms.toDS().select(
        pmod(xxhash64(col("value")), lit(TermBuckets)).cast("int"))
      .as[Int].collect().distinct.toIndexedSeq.sorted
    val committed = committedBatches(spark, indexDir)
    spark.read.schema(postingsSchema).parquet(indexDir)
      .filter(col("batch").isin(committed.map(Long.box): _*))
      .filter(col("tb").isin(tbs.map(Int.box): _*))
      .filter(col("term").isin(terms: _*))
  }

  /** One-row (n_docs, avgdl) from the per-batch stats sidecar —
    * committed batches only, the same visibility set as the postings
    * (a half-committed batch must skew neither side). */
  private def corpusStats(spark: SparkSession, indexDir: String): DataFrame = {
    val committed = committedBatches(spark, indexDir).toSet
    SignatureIndex.readBatches(spark, s"$indexDir/_stats", statsSchema, committed)
      .agg(sum(when(col("stat") === "n_docs", col("n"))).as("n_docs"),
        (sum(when(col("stat") === "sum_dl", col("n"))).cast("double") /
          sum(when(col("stat") === "n_docs", col("n")))).as("avgdl"))
  }

  /** Fold settled batch partitions into one consolidated partition,
    * preserving the `tb` bucket layout (and thus query-time pruning).
    *
    * Unmarked settled batches are SWEPT first: the generic compact folds
    * every batch directory it finds, and a batch that crashed between
    * its data writes and its `_graft_commit` marker — invisible to every
    * query — would otherwise be folded into the consolidated partition
    * (which carries compact's own marker) and silently become visible,
    * possibly with postings and no stats. Deleting it is safe: an
    * unmarked batch is by definition not yet acknowledged, and a later
    * retry of that batchId rewrites the partition from scratch anyway.
    * The LIVE batch (max non-negative id) is exempt, mirroring the
    * generic compact's single-writer contract. */
  def compactIndex(spark: SparkSession, indexDir: String): Int = {
    val ids = SignatureIndex.batches(spark, indexDir)
    val live = ids.map(_._1).filter(_ >= 0).maxOption.getOrElse(Long.MinValue)
    val hfs = new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ids.filter { case (b, p) => b != live && !committed(spark, p) }.foreach { case (b, p) =>
      hfs.delete(p, true)
      hfs.delete(new Path(s"$indexDir/_stats/batch=$b"), true)
    }
    SignatureIndex.compact(spark, indexDir, postingsSchema, statsSchema,
      Seq("stat"), partitionCols = Seq("tb"))
  }
}
