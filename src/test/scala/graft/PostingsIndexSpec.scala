package graft

import org.apache.spark.sql.functions._

import graft.text.{PostingsIndex, Retrieval}

/** Pins for the persistent postings index (tx_bm25_incremental) and the
  * RRF fusion row: indexed ≡ scan answers, retry idempotence, the
  * tokenizer-params guard, bucket-pruned query plans, and compaction
  * preserving both the answer and the tb directory layout. */
class PostingsIndexSpec extends SparkSuite {

  private val terms = Seq("spark", "vector", "stream", "window", "hash")

  private def freshIdx(tag: String): String = {
    val dir = s"/tmp/graft_test/postings_$tag"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  private def docs = Tables.load(spark, sfDir, "documents")

  private def ingest3(idx: String): Unit =
    for (b <- 0L to 2L)
      PostingsIndex.addBatch(docs.filter(pmod(col("doc_id"), lit(3)) === b),
        "doc_id", "text", idx, batchId = b)

  test("indexed BM25 over split batches equals the corpus-scan answer") {
    val idx = freshIdx("equiv")
    ingest3(idx)
    val fromIndex = PostingsIndex.query(spark, idx, terms).collect().toSeq
    val fromScan = Retrieval.bm25TopK(docs, "doc_id", "text", terms)
      .collect().toSeq
    assert(fromIndex == fromScan)
    assert(fromIndex.nonEmpty)
  }

  test("addBatch retry is idempotent: re-committing a batch changes nothing") {
    val idx = freshIdx("retry")
    ingest3(idx)
    val before = PostingsIndex.query(spark, idx, terms).collect().toSeq
    // a foreachBatch retry re-runs the SAME batch id with the same data
    PostingsIndex.addBatch(docs.filter(pmod(col("doc_id"), lit(3)) === 1),
      "doc_id", "text", idx, batchId = 1L)
    val after = PostingsIndex.query(spark, idx, terms).collect().toSeq
    assert(after == before)
  }

  test("params sidecar rejects a differently-tokenized batch") {
    val idx = freshIdx("guard")
    ingest3(idx)
    // simulate an index built under other params: clobber the sidecar
    val p = new org.apache.hadoop.fs.Path(idx, "_graft_params")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(p, true)
    out.write("tok=bpe,tb=64".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalArgumentException] {
      PostingsIndex.addBatch(docs.limit(1), "doc_id", "text", idx, batchId = 9L)
    }
    assert(e.getMessage.contains("tok=bpe"))
  }

  test("a batch without its commit marker is invisible to queries AND stats") {
    val idx = freshIdx("marker")
    ingest3(idx)
    val before = PostingsIndex.query(spark, idx, terms).collect().toSeq
    // simulate a crash between the batch's data writes and its commit
    // marker: the half-committed batch must vanish from BOTH the
    // postings and the stats sides (a one-sided read would silently
    // skew idf/avgdl for every query until the retry)
    val hfs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$idx/batch=1/_graft_commit"), false)
    val degraded = PostingsIndex.query(spark, idx, terms).collect().toSeq
    val idx02 = freshIdx("marker_ref")
    for (b <- Seq(0L, 2L))
      PostingsIndex.addBatch(docs.filter(pmod(col("doc_id"), lit(3)) === b),
        "doc_id", "text", idx02, batchId = b)
    assert(degraded == PostingsIndex.query(spark, idx02, terms).collect().toSeq,
      "an unmarked batch must read exactly as if it were never ingested")
    // the retry completes the commit and restores full visibility
    PostingsIndex.addBatch(docs.filter(pmod(col("doc_id"), lit(3)) === 1),
      "doc_id", "text", idx, batchId = 1L)
    assert(PostingsIndex.query(spark, idx, terms).collect().toSeq == before)
  }

  test("stats of an uncommitted batch are not read; none committed reads empty") {
    val idx = freshIdx("stats")
    ingest3(idx)
    val before = PostingsIndex.query(spark, idx, terms).collect().toSeq
    // a batch whose stats landed but whose commit marker did not: stats
    // that would swamp N and avgdl if the query read them
    import spark.implicits._
    Seq(("n_docs", 1000000L), ("sum_dl", 1000000000L)).toDF("stat", "n")
      .write.mode("overwrite").parquet(s"$idx/_stats/batch=7")
    assert(PostingsIndex.query(spark, idx, terms).collect().toSeq == before)
    // with no committed batch the stats read as the empty frame
    val bare = freshIdx("stats_bare")
    PostingsIndex.addBatch(docs.limit(10), "doc_id", "text", bare, batchId = 0L)
    val hfs = new org.apache.hadoop.fs.Path(bare)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$bare/batch=0/_graft_commit"), false)
    assert(PostingsIndex.query(spark, bare, terms).collect().isEmpty)
  }

  test("observed stats rows equal the former aggregate's, empty-text doc and empty batch included") {
    import spark.implicits._
    // the (count, sum) aggregate addBatch ran before its stats were
    // observed on the postings write
    def former(batch: org.apache.spark.sql.DataFrame) =
      batch.select(graft.functions.TokenWindows.fieldCountCol(col("text"))
          .cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .select(explode(map(lit("n_docs"), col("n_docs"), lit("sum_dl"), col("sum_dl")))
          .as(Seq("stat", "n")))
    val withEmpty = docs.select(col("doc_id"), col("text")).limit(20)
      .union(Seq((990001L, ""), (990002L, " \t ")).toDF("doc_id", "text"))
    val empty = docs.select(col("doc_id"), col("text")).filter(lit(false))
    for ((tag, batch) <- Seq("with_empty_text" -> withEmpty, "empty" -> empty)) {
      val idx = freshIdx(s"stats_$tag")
      PostingsIndex.addBatch(batch, "doc_id", "text", idx, batchId = 0L)
      val ref = s"$idx-former"
      former(batch).write.mode("overwrite").parquet(ref)
      val got = spark.read.parquet(s"$idx/_stats/batch=0")
      val want = spark.read.parquet(ref)
      assert(got.schema == want.schema, tag)
      assert(got.collect().toSeq == want.collect().toSeq, tag)
      assert(new java.io.File(s"$idx/batch=0/_graft_commit").exists, tag)
    }
  }

  test("query scan prunes to the terms' tb partitions") {
    val idx = freshIdx("prune")
    ingest3(idx)
    val plan = PostingsIndex.query(spark, idx, Seq("spark"))
      .queryExecution.executedPlan.toString
    // partition pruning on the bucket column, not a post-scan filter
    assert(plan.contains("PartitionFilters: ["))
    assert(plan.split("PartitionFilters").exists(s =>
      s.take(200).contains("tb")))
    // and the term predicate pushes into parquet within the buckets
    assert(plan.contains("PushedFilters") && plan.contains("term"))
  }

  test("compaction folds settled batches, keeps tb layout and the answer") {
    val idx = freshIdx("compact")
    ingest3(idx)
    val before = PostingsIndex.query(spark, idx, terms).collect().toSeq
    assert(PostingsIndex.compactIndex(spark, idx) == 2) // batches 0,1 fold
    val root = new org.apache.hadoop.fs.Path(idx)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = hfs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).sorted.toSeq
    assert(batches == Seq("batch=-2", "batch=2"))
    // the consolidated partition keeps the tb=<bucket> directory layout
    val consolidated = hfs.listStatus(new org.apache.hadoop.fs.Path(root, "batch=-2"))
      .map(_.getPath.getName).filter(_.startsWith("tb=")).toSeq
    assert(consolidated.nonEmpty)
    val after = PostingsIndex.query(spark, idx, terms).collect().toSeq
    assert(after == before)
  }

  test("compaction sweeps an unmarked (crashed) batch instead of folding it visible") {
    val idx = freshIdx("sweep")
    ingest3(idx)
    // crash simulation: batch 0 committed data but never its marker —
    // invisible to queries; the generic fold must not resurrect it
    // inside the consolidated partition (which carries compact's own
    // marker)
    val hfs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$idx/batch=0/_graft_commit"), false)
    val before = PostingsIndex.query(spark, idx, terms).collect().toSeq
    PostingsIndex.compactIndex(spark, idx)
    val after = PostingsIndex.query(spark, idx, terms).collect().toSeq
    assert(after == before,
      "an unmarked batch must stay invisible across compaction")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$idx/batch=0")),
      "the crashed batch directory should be swept")
    // the batch can still be re-ingested afterwards (retry semantics)
    PostingsIndex.addBatch(docs.filter(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text", idx, batchId = 0L)
    val full = PostingsIndex.query(spark, idx, terms).collect().toSeq
    val ref = Retrieval.bm25TopK(docs, "doc_id", "text", terms).collect().toSeq
    assert(full == ref)
  }

  test("the compacted driver row still partition-prunes on tb") {
    val df = SparkEntry.queries("tx_bm25_compacted")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["))
    assert(plan.split("PartitionFilters").exists(s => s.take(200).contains("tb")),
      "consolidated layout must keep directory-level bucket pruning")
  }

  test("BM25 query plan prunes the positions column (ReadSchema excludes it)") {
    val idx = freshIdx("colprune")
    ingest3(idx)
    val plan = PostingsIndex.query(spark, idx, terms)
      .queryExecution.executedPlan.toString
    val readSchemas = plan.split("ReadSchema: ").drop(1).map(_.takeWhile(_ != '\n'))
    assert(readSchemas.nonEmpty)
    // the postings scan reads (term, doc_id, tf, dl) — never positions
    assert(!readSchemas.exists(_.contains("positions")))
  }

  test("indexed phrase query equals the corpus-scan phrase search") {
    val idx = freshIdx("phrase")
    ingest3(idx)
    val fromIndex = PostingsIndex.phraseQuery(spark, idx, Seq("batch", "table"))
      .collect().toSeq
    val fromScan = SparkEntry.queries("tx_phrase_search")(spark, sfDir)
      .collect().toSeq
    assert(fromIndex == fromScan)
    assert(fromIndex.nonEmpty)
  }

  test("multiQuery agrees with the single-query path per q_id") {
    val idx = freshIdx("multi")
    ingest3(idx)
    val multi = PostingsIndex.multiQuery(spark, idx, Seq(
        7L -> Seq("spark", "vector", "stream", "window", "hash")), topK = 20)
      .select(col("doc_id"), col("score")).collect().toSeq
    val single = PostingsIndex.query(spark, idx, terms, topK = 20)
      .select(col("doc_id"), col("score")).collect().toSeq
    assert(multi == single)
  }

  test("RRF fusion arithmetic: both-list docs sum both reciprocal ranks") {
    val rows = SparkEntry.queries("sim_hybrid_rrf")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lex = r.getAs[Long]("lex_rank")
      val sem = r.getAs[Long]("sem_rank")
      val want = (if (lex > 0) 1.0 / (60 + lex) else 0.0) +
        (if (sem > 0) 1.0 / (60 + sem) else 0.0)
      assert(math.abs(r.getAs[Double]("rrf_score") - want) < 1e-9)
    }
    // fused output is rank-descending with the doc_id tiebreak
    val scores = rows.map(_.getAs[Double]("rrf_score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("sampled-cutoff ppl buckets agree with the exact terciles on the bulk") {
    val exact = SparkEntry.queries("tx_ppl_buckets")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    val approx = SparkEntry.queries("tx_ppl_buckets_approx")(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    // inner cutoff join may only drop docs of unsampled sources — none here
    assert(approx.keySet == exact.keySet)
    assert(approx.values.toSet.subsetOf(Set("head", "middle", "tail")))
    val agree = exact.keysIterator.count(k => exact(k) == approx(k)).toDouble / exact.size
    assert(agree >= 0.5, s"bucket agreement $agree")
  }

  test("ppl buckets: per-source terciles are balanced and score-ordered") {
    val rows = SparkEntry.queries("tx_ppl_buckets")(spark, sfDir).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (_, rs) =>
      val sizes = rs.groupBy(_.getAs[String]("bucket")).view.mapValues(_.length)
      // NTILE(3): group sizes differ by at most one
      assert(sizes.values.max - sizes.values.min <= 1)
      // head scores dominate tail scores within every source
      val head = rs.filter(_.getAs[String]("bucket") == "head")
        .map(_.getAs[Double]("lm_score"))
      val tail = rs.filter(_.getAs[String]("bucket") == "tail")
        .map(_.getAs[Double]("lm_score"))
      assert(head.min >= tail.max)
    }
  }
}
