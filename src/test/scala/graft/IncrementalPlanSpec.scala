package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.IncrementalDedup

/** `IncrementalDedup.addBatch` picks its plan from the batch size: at
  * most `bucketCap` signature rows run on the driver, more run as Spark
  * jobs. Both plans must leave the same survivors, index partitions and
  * `_stats` rows after every step of one multi-batch history. The
  * distributed side is forced with a `bucketCap` below each batch's row
  * count but above every LSH bucket's size, so neither side ever salts a
  * bucket. */
class IncrementalPlanSpec extends SparkSuite {
  import spark.implicits._

  private val shingleN = 2
  private val k = 16
  private val bands = 8
  private val bandCap = 3

  private val rnd = new scala.util.Random(29)
  private val vocab = (0 until 400).map(i => s"w$i")
  private def words(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
  private def edit(t: String): String = {
    val w = t.split(" ")
    w(w.length / 2) = "edited"
    w.mkString(" ")
  }
  // unrelated families, and "hot" docs that share a 20-word prefix: well
  // below the Jaccard threshold of each other, but sharing many bands
  private val family = IndexedSeq.fill(12)(words(30).mkString(" "))
  private val prefix = words(20)
  private def hot(): String = (prefix ++ words(12)).mkString(" ")

  /** batch id -> docs; ids are unique across batches */
  private val batches: Seq[(Long, Seq[(Long, String)])] = {
    def b(id: Long, texts: Seq[String]) =
      id -> texts.zipWithIndex.map { case (t, i) => (id * 1000 + i, t) }
    Seq(
      // exact copy and near-dup inside the batch, short docs, hot docs
      b(0, Seq(family(0), family(1), family(2), family(3), family(4), family(5),
        family(0), edit(family(1)), "short", "") ++ Seq.fill(8)(hot())),
      // exact copy and near-dup of indexed docs, new families
      b(1, Seq(family(2), edit(family(3)), family(6), family(7), "tiny") ++
        Seq.fill(8)(hot())),
      b(2, Seq(edit(family(6)), family(8), family(9), family(8)) ++ Seq.fill(6)(hot())),
      // after compaction: matches in the consolidated partition
      b(3, Seq(family(0), edit(family(9)), family(10), family(11), edit(family(11))) ++
        Seq.fill(6)(hot())),
      // run with a stop-list cap of 0: every indexed band is hot, so the
      // exact copy matches nothing and survives
      b(4, family(10) +: Seq.fill(4)(words(30).mkString(" "))))
  }

  private def df(docs: Seq[(Long, String)]): DataFrame = docs.toDF("doc_id", "text")

  /** Largest LSH bucket of a batch and its signature row count. */
  private def bucketStats(docs: Seq[(Long, String)]): (Long, Long) = {
    val sigs = df(docs)
      .filter(graft.functions.TokenCount(col("text")) >= shingleN)
      .select(graft.functions.HashedShingles(col("text"), shingleN).as("sh"))
      .distinct()
    val maxBucket = sigs
      .select(explode(graft.functions.MinHashBands(col("sh"), k, bands)).as("band"))
      .groupBy("band").count().agg(max("count")).collect()(0).getLong(0)
    (maxBucket, docs.count(_._2.split(" ").count(_.nonEmpty) >= shingleN).toLong)
  }

  private def rows(path: String, schema: String): Seq[Row] =
    spark.read.schema(schema).parquet(path).collect().toSeq
      .sortBy(_.toString)

  /** Every partition of the index and of its stats, as sorted rows. */
  private def snapshot(index: String): Map[String, Seq[Row]] = {
    val root = new org.apache.hadoop.fs.Path(index)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(dir: String) = hfs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    parts(index).map(p =>
      p -> rows(s"$index/$p", "id LONG, sh ARRAY<LONG>, bands ARRAY<LONG>")).toMap ++
      parts(s"$index/_stats").map(p =>
        s"_stats/$p" -> rows(s"$index/_stats/$p", "band LONG, n LONG")).toMap
  }

  /** Run the history on a fresh index; after each step the survivors
    * (if any) and the index snapshot. */
  private def history(distributed: Boolean): Seq[(String, Option[Set[Long]], Map[String, Seq[Row]])] = {
    val index = Files.createTempDirectory("incplan").toString + "/index"
    def add(id: Long, docs: Seq[(Long, String)], stopCap: Int = bandCap) = {
      val cap =
        if (!distributed) 1024
        else {
          val (maxBucket, nRows) = bucketStats(docs)
          assert(maxBucket < nRows - 1, s"batch $id: a bucket of $maxBucket leaves no room for a cap")
          (nRows - 1).toInt
        }
      val surv = IncrementalDedup.addBatch(df(docs), "doc_id", "text", index, id,
          shingleN = shingleN, k = k, bands = bands, minJaccard = 0.8,
          bucketCap = cap, bandCap = stopCap)
        .select("doc_id").as[Long].collect().toSet
      (s"add $id", Some(surv), snapshot(index))
    }
    def compact() = {
      IncrementalDedup.compactIndex(spark, index)
      ("compact", None, snapshot(index))
    }
    val Seq(b0, b1, b2, b3, b4) = batches
    Seq(add(b0._1, b0._2), add(b1._1, b1._2), add(b2._1, b2._2),
      add(b2._1, b2._2), // retry of the live batch
      compact(), add(b3._1, b3._2), add(b4._1, b4._2, stopCap = 0))
  }

  test("driver and distributed plans leave identical survivors, index and stats") {
    val local = history(distributed = false)
    val dist = history(distributed = true)
    local.zip(dist).foreach { case ((step, sl, il), (_, sd, id)) =>
      assert(sl === sd, s"$step: survivors differ")
      assert(il.keySet === id.keySet, s"$step: index partitions differ")
      il.keys.foreach(p => assert(il(p) === id(p), s"$step: $p rows differ"))
    }

    // the history exercises what it claims to
    val surv = local.collect { case (s, Some(v), _) => s -> v }.toMap
    assert(!surv("add 0").contains(6L), "exact copy inside the batch")
    assert(!surv("add 0").contains(7L), "near-dup inside the batch")
    assert(Set(8L, 9L).subsetOf(surv("add 0")), "short docs pass through")
    assert(!surv("add 1").contains(1000L), "exact copy of an indexed doc")
    assert(!surv("add 1").contains(1001L), "near-dup of an indexed doc")
    assert(surv("add 1").contains(1004L), "short doc passes through")
    assert(!surv("add 2").contains(2000L), "near-dup of the previous batch")
    assert(!surv("add 2").contains(2003L), "exact copy inside the batch")
    assert(local(3)._2 === local(2)._2 && local(3)._3 === local(2)._3,
      "a retried batch id replaces its own partition")
    assert(local(4)._3.keySet.contains("batch=-2"), "compaction folded batches 0-1")
    assert(!surv("add 3").contains(3000L) && !surv("add 3").contains(3001L),
      "matches in the consolidated partition")
    assert(!surv("add 3").contains(3004L), "near-dup inside the batch")
    assert(surv("add 4").contains(4000L), "a copy whose bands are all stop-listed survives")
    // a band over the stop-list cap was in the index the later batches probed
    val stats = local(4)._3.collect { case (p, r) if p.startsWith("_stats/") => r }.flatten
    assert(stats.groupBy(_.getLong(0)).values.exists(_.map(_.getLong(1)).sum > bandCap),
      "some band must be stop-listed")
  }
}
