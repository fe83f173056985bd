package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{BucketedIncrementalDedup, IncrementalDedup}

/** The bucketed-table signature index: must answer exactly like the
  * directory-partitioned index, join without shuffling the index side,
  * stay idempotent under foreachBatch retries, and compact without data
  * loss at any crash point of the two-phase protocol. */
class BucketedIndexSpec extends SparkSuite {
  import spark.implicits._

  /** 40 docs whose TEXT is keyed by `contentKey` — batches sharing a
    * contentKey fully duplicate each other; distinct keys are disjoint. */
  private def docsBatch(idOffset: Long, contentKey: Long = 0L): DataFrame =
    (0 until 40).map(i =>
      (idOffset + i, s"alpha document number ${contentKey * 1000 + i} with shared boilerplate text"))
      .toDF("doc_id", "text")

  private def addBucketed(base: String, batchId: Long, idOffset: Long,
                          contentKey: Long = 0L): Set[Long] =
    BucketedIncrementalDedup.addBatch(docsBatch(idOffset, contentKey),
        "doc_id", "text",
        base, batchId, shingleN = 2, k = 16, bands = 8, minJaccard = 0.9)
      .select("doc_id").as[Long].collect().toSet

  private def addDir(indexDir: String, batchId: Long, idOffset: Long): Set[Long] =
    IncrementalDedup.addBatch(docsBatch(idOffset), "doc_id", "text", indexDir,
        batchId, shingleN = 2, k = 16, bands = 8, minJaccard = 0.9)
      .select("doc_id").as[Long].collect().toSet

  private def dropTables(base: String): Unit =
    Seq("_bands", "_sh", "_stats").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $base$s"))

  test("bucketed index answers exactly like the directory index; retry idempotent") {
    val base = s"bidx_eq_${System.nanoTime()}"
    val dir = java.nio.file.Files.createTempDirectory("bidx").toString + "/index"
    try {
      val b = Seq(1L, 2L, 3L).map(i => addBucketed(base, i, (i - 1) * 100))
      val d = Seq(1L, 2L, 3L).map(i => addDir(dir, i, (i - 1) * 100))
      assert(b === d, "bucketed and directory indexes must agree batch-for-batch")
      assert(b(0).size === 40 && b(1).isEmpty && b(2).isEmpty)
      // foreachBatch retry: rerunning the live batch reads around its own
      // partition and overwrites it — same answer, no duplicate rows
      val retry = addBucketed(base, 3L, 200)
      assert(retry === b(2))
      val bandRows = spark.table(s"${base}_bands")
        .groupBy(col("batch")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(bandRows.keySet === Set(1L), "only batch 1 survived anything")
    } finally dropTables(base)
  }

  test("candidate join reads the index bucket-aligned: no exchange on the index side") {
    val base = s"bidx_plan_${System.nanoTime()}"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      addBucketed(base, 1L, 0)
      addBucketed(base, 2L, 100)
      // force the sort-merge path (at test scale AQE would broadcast the
      // tiny index; at the design scale the index side is the big one)
      spark.conf.set(key, "-1")
      val probe = spark.range(0, 50)
        .select(pmod(col("id") * 31, lit(997)).as("band"), col("id").as("pid"))
      val j = probe.join(
        spark.table(s"${base}_bands").filter(col("batch") =!= 3L), "band")
      j.collect()
      // AQE's toString appends the pre-execution "Initial Plan" section —
      // assert over the executed Final Plan only
      val p = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      def c(n: String) = p.sliding(n.length).count(_ == n)
      assert(p.contains("Bucketed: true") && p.contains("SelectedBucketsCount"),
        "index scan must be bucket-aware")
      assert(c("Exchange hashpartitioning") === 1,
        s"only the probe side may shuffle, plan:\n$p")
      assert(p.contains("SortMergeJoin"))
    } finally {
      spark.conf.set(key, prev)
      dropTables(base)
    }
  }

  test("shared probe keeps a stop-listed bucketed index exchange-free up to its joins") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.dedup.SignatureIndex
    val base = s"bidx_hot_${System.nanoTime()}"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    // the probe's only action is its eager checkpoint; keep that plan
    @volatile var probed: Option[SparkPlan] = None
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (qe.executedPlan.toString.contains(s"${base}_sh")) probed = Some(qe.executedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    try {
      addBucketed(base, 1L, 0)
      addBucketed(base, 2L, 100, contentKey = 2L)
      // the design-scale stand-in: the index side is too big to broadcast
      spark.conf.set(key, "-1")
      spark.listenerManager.register(listener)
      def others(t: String) = spark.table(t).filter(col("batch") =!= 3L)
      val hot = SignatureIndex.stopList(others(s"${base}_stats"), Seq("band"), 1, "test")
      assert(hot.count() > 0, "the index must stop-list at least one band")
      val dropped = IncrementalDedup.probe(
        IncrementalDedup.signatures(docsBatch(200), "doc_id", "text", shingleN = 2, k = 16,
          bands = 8).localCheckpoint(eager = true),
        others(s"${base}_bands").select(col("band"), col("id").as("idx_id")),
        others(s"${base}_sh").select(col("id").as("idx_id"), col("sh").as("idx_sh")),
        hot, minJaccard = 0.9)
      assert(dropped.count() === 40, "batch 3 copies batch 1 through the probe")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (probed.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val plan = probed.getOrElse(fail("the probe's checkpoint plan was not observed"))

      def kids(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      def holdsBatch(p: SparkPlan): Boolean =
        p.isInstanceOf[InMemoryTableScanExec] || kids(p).exists(holdsBatch)
      // every index scan, with whether a shuffle sits between it and the
      // nearest join against the batch (whose side holds the persisted
      // representatives); the anti-joins with the stop-list do not count
      def scans(p: SparkPlan, shuffled: Boolean): Seq[(FileSourceScanExec, Boolean)] =
        p match {
          case s: FileSourceScanExec => Seq(s -> shuffled)
          case _: ShuffleExchangeLike => kids(p).flatMap(scans(_, shuffled = true))
          case j: BaseJoinExec if kids(j).exists(holdsBatch) =>
            kids(p).flatMap(scans(_, shuffled = false))
          case _ => kids(p).flatMap(scans(_, shuffled))
        }
      val idx = scans(plan, shuffled = false).filter { case (s, _) =>
        s.tableIdentifier.exists(t => t.table == s"${base}_bands" || t.table == s"${base}_sh")
      }
      assert(idx.map(_._1.tableIdentifier.get.table).toSet ===
        Set(s"${base}_bands", s"${base}_sh"), s"both index scans expected, plan:\n$plan")
      idx.foreach { case (s, shuffled) =>
        assert(s.bucketedScan, s"${s.tableIdentifier.get} must scan bucket-aware")
        assert(!shuffled, s"${s.tableIdentifier.get} is re-shuffled into its join, plan:\n$plan")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(key, prev)
      dropTables(base)
    }
  }

  test("compact folds settled partitions, stays invariant, and resumes from the marker") {
    val base = s"bidx_cmp_${System.nanoTime()}"
    try {
      // unique content per batch: every batch survives, so every batch
      // leaves a partition (an all-dropped batch writes none — dynamic
      // overwrite only touches partitions present in the data)
      Seq(1L, 2L, 3L).foreach(i => addBucketed(base, i, (i - 1) * 100, contentKey = i))
      assert(BucketedIncrementalDedup.compact(spark, base) === 2)
      def parts(t: String) = spark.sql(s"SHOW PARTITIONS $t").collect()
        .map(_.getString(0)).toSet
      assert(parts(s"${base}_bands") === Set("batch=-3", "batch=3"))
      assert(parts(s"${base}_sh") === Set("batch=-3", "batch=3"))
      assert(parts(s"${base}_stats") === Set("batch=-3", "batch=3"))
      assert(BucketedIncrementalDedup.compact(spark, base) === 0, "no-op when compact")
      // the consolidated index still answers like the original: batch 4
      // fully duplicates batch 1's content (indexed via batch=-3)
      assert(addBucketed(base, 4L, 300, contentKey = 1L).isEmpty,
        "batch 4 duplicates batch 1 through the consolidated partition")

      // crash mid-write: a partial batch=gen exists, marker absent — the
      // rerun must regenerate from the intact originals and converge
      assert(addBucketed(base, 5L, 400, contentKey = 5L).size === 40)
      // simulate the partial gen under EXPLICIT dynamic mode (compact no
      // longer leaks it into the session — a plain overwrite insertInto
      // here would truncate every partition under the static default)
      val om = "spark.sql.sources.partitionOverwriteMode"
      val savedOm = spark.conf.getOption(om)
      spark.conf.set(om, "dynamic")
      try spark.range(1).select(lit(999999L).as("band"), lit(999999L).as("id"),
          lit(-5L).as("batch"))
        .write.mode("overwrite").insertInto(s"${base}_bands") // partial gen
      finally savedOm.fold(spark.conf.unset(om))(spark.conf.set(om, _))
      // 3 folded, not 2: the static-partition commit registers batch=4 as
      // an EMPTY partition (the all-dropped batch) — a processed-batch
      // marker the dynamic path never wrote; it folds away like any other
      assert(BucketedIncrementalDedup.compact(spark, base) === 3)
      assert(parts(s"${base}_bands") === Set("batch=-5", "batch=5"))
      assert(spark.table(s"${base}_bands")
        .filter(col("band") === 999999L).isEmpty,
        "partial gen leftovers must be overwritten, not folded in")

      // crash mid-drop: marker present, drops unfinished — the rerun
      // finishes only the drops (simulated by restoring the marker)
      assert(addBucketed(base, 6L, 500, contentKey = 6L).size === 40)
      assert(BucketedIncrementalDedup.compact(spark, base) === 2)
      spark.sql(s"ALTER TABLE ${base}_bands SET TBLPROPERTIES(" +
        "'graft.compact.pending'='-6:-5,5')")
      assert(BucketedIncrementalDedup.compact(spark, base) === 2,
        "marker present: rerun must finish drops, not rewrite")
      assert(parts(s"${base}_bands") === Set("batch=-6", "batch=6"))
      assert(addBucketed(base, 7L, 600, contentKey = 1L).isEmpty,
        "batch 1 content still deduped through the -3 to -5 to -6 chain")
    } finally dropTables(base)
  }

  test("checkParams stays sound across a same-session DROP+recreate") {
    val base = s"bidx_prm_${System.nanoTime()}"
    def recordedParams: Option[String] = spark.sql(s"SHOW TBLPROPERTIES ${base}_bands")
      .collect().find(_.getString(0) == "graft.params").map(_.getString(1))
    try {
      addBucketed(base, 1L, 0) // params A; session cache now holds (base, A)
      assert(recordedParams.contains("shingleN=2,k=16,bands=8,buckets=8"))
      // DROP + recreate with the SAME params: the (base, A) cache hit in
      // checkParams must not leave the fresh table property-less — the
      // creation branch records it regardless of the cache
      dropTables(base)
      addBucketed(base, 1L, 0)
      assert(recordedParams.contains("shingleN=2,k=16,bands=8,buckets=8"),
        "fresh table must carry graft.params even on a cache-hit recreate")
      // so a later batch with different params fails loudly instead of
      // silently re-recording its own params
      val ex = intercept[IllegalArgumentException] {
        BucketedIncrementalDedup.addBatch(docsBatch(100), "doc_id", "text",
          base, 2L, shingleN = 2, k = 8, bands = 4, minJaccard = 0.9)
      }
      assert(ex.getMessage.contains("was built with"))
      // reverse direction: recreate with DIFFERENT params while the cache
      // still holds the old validation — creation purges (base, *), so the
      // stale entry cannot validate a mismatched batch
      dropTables(base)
      BucketedIncrementalDedup.addBatch(docsBatch(0), "doc_id", "text",
        base, 1L, shingleN = 2, k = 8, bands = 4, minJaccard = 0.9)
      val ex2 = intercept[IllegalArgumentException] { addBucketed(base, 2L, 100) }
      assert(ex2.getMessage.contains("was built with"),
        "stale cached validation must not survive a recreate")
    } finally dropTables(base)
  }

  test("cdc fp index: anti-join reads bucket-aligned, no exchange on the index side") {
    import graft.dedup.CdcIndex
    val base = s"cdcidx_plan_${System.nanoTime()}"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val text = (1 to 200).map(i => s"tok${(i * 17) % 151}").mkString(" ")
    try {
      CdcIndex.addBatch(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", base, 1L).collect()
      // force the sort-merge path (at test scale AQE would broadcast the
      // tiny index; at the design scale the index side is the big one)
      spark.conf.set(key, "-1")
      val probe = Seq((10L, text), (11L, "zzz " + text)).toDF("doc_id", "text")
      val j = probe
        .select(col("doc_id"),
          explode(graft.text.TextFunctions.cdcChunkFingerprints(
            graft.text.TextFunctions.wsTokens(col("text")))).as("fp"))
        .join(spark.table(base).filter(col("batch") =!= 2L).select(col("fp")),
          Seq("fp"), "left_anti")
      j.collect()
      val p = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      def c(n: String) = p.sliding(n.length).count(_ == n)
      assert(p.contains("Bucketed: true"), "index scan must be bucket-aware")
      assert(c("Exchange hashpartitioning") === 1,
        s"only the probe side may shuffle, plan:\n$p")
      assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"),
        s"expected a sort-merge left-anti, plan:\n$p")
    } finally {
      spark.conf.set(key, prev)
      spark.sql(s"DROP TABLE IF EXISTS $base")
    }
  }
}
