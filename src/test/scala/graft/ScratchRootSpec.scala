package graft

import java.io.File

/** Every export, index and stream sink a row writes lies under its run's
  * scratch root, `/tmp/graft_export/<applicationId>`, the one directory
  * that is removed when the run ends; rows that keep catalog tables leave
  * nothing under `spark.sql.warehouse.dir`; a stopped run leaves neither
  * its root nor its cached table schemas behind. */
class ScratchRootSpec extends SparkSuite {

  private def tree(f: File): Set[String] =
    Option(f.listFiles).toSeq.flatten.flatMap(c =>
      if (c.isDirectory) tree(c) + c.getPath else Set(c.getPath)).toSet

  test("rows write their scratch files under the run root only") {
    val exports = new File("/tmp/graft_export")
    val runRoot = new File(exports,
      spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")).getPath
    val before = tree(exports)
    for (q <- Seq("s2_typed_payload", "tx_bm25_compacted", "st5_stream_dedup",
                  "st13_stream_hll_index", "s7_external_read"))
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, q)
    val created = tree(exports) -- before
    assert(created.exists(_.startsWith(runRoot + "/")), s"nothing under $runRoot")
    // a run on another Spark application writes under its own root
    val otherRun = (exports.getPath + "/(local|app)_[0-9_]+(/.*)?").r
    val stray = created.filterNot(p => p == runRoot ||
      p.startsWith(runRoot + "/") || otherRun.matches(p))
    assert(stray.isEmpty, s"outside $runRoot: ${stray.toSeq.sorted.take(5)}")
  }

  test("catalog-table rows leave nothing under the warehouse directory") {
    val wh = new File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    // entries of this dataset, created or rewritten while the rows ran
    def entries(): Set[(String, Long)] =
      Option(wh.listFiles).toSeq.flatten
        .filter(_.getName.contains(sfDir.replaceAll("[^A-Za-z0-9]", "_")))
        .map(f => f.getName -> f.lastModified).toSet
    val before = entries()
    Thread.sleep(1000) // a rewrite must show in lastModified's resolution
    for (q <- Seq("dd_bucketed_incremental", "dd_cdc_incremental", "j14_bucketed_join"))
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, q)
    val left = entries() -- before
    assert(left.isEmpty, s"left under $wh: ${left.map(_._1).toSeq.sorted}")
  }

  // last: it stops this suite's session; later suites get a new one
  test("a stopped application leaves no scratch root and no cached schema") {
    val app = spark.sparkContext.applicationId
    val root = new File(Tables.scratch(spark, sfDir, "release")).getParentFile
    assert(Tables.load(spark, sfDir, "orders").count() > 0)
    assert(Tables.cachedSchemas(app) > 0)
    root.mkdirs()
    spark.stop()
    assert(Tables.cachedSchemas(app) === 0)
    assert(!root.exists, s"$root")
    assert(!SparkSuite.session.sparkContext.isStopped)
  }
}
