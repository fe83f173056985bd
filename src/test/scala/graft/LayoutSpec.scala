package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Z-order layout: key arithmetic vs a reference interleave, and the
  * PHYSICAL payoff — real parquet files written Z-ordered must be
  * prunable by footer min/max stats on a box predicate where a
  * single-key layout is not. */
class LayoutSpec extends SparkSuite {
  import spark.implicits._

  test("zOrderKey ≡ reference bit interleave") {
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
      }
    val pairs = for (a <- Seq(0L, 1L, 2L, 7L, 123L, 65535L, 1999999L);
                     b <- Seq(0L, 1L, 5L, 255L, 1048575L)) yield (a, b)
    val got = pairs.toDF("a", "b")
      .withColumn("z", Layout.zOrderKey(col("a"), col("b")))
      .select("a", "b", "z").as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == ref(a, b, 21), s"($a,$b)") }
  }

  test("zOrderKey is monotone on each axis within a fixed other axis' bit prefix") {
    // the property data-skipping relies on: rows close in (a, b) are
    // close in z — check z(a,b) < z(a',b) when a < a' share-free case
    assert(Layout.zOrderKey(lit(0L), lit(0L)) != null) // plan-constructible
    val z = (a: Long, b: Long) => {
      val r = spark.range(1).select(Layout.zOrderKey(lit(a), lit(b)).as("z")).head
      r.getLong(0)
    }
    assert(z(1, 0) > z(0, 0) && z(0, 1) > z(0, 0) && z(1, 1) > z(1, 0))
  }

  test("physical z-ordered parquet prunes files on a box predicate; natural order cannot") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val tmp = java.nio.file.Files.createTempDirectory("zorder").toString
    val files = 8

    Layout.writeZOrdered(li, col("l_partkey"), col("l_suppkey"), files, s"$tmp/z")
    li.repartitionByRange(files, col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      .write.mode("overwrite").parquet(s"$tmp/nat")

    // box: lowest quarter of both keys (what the footer stats must prune)
    val mx = li.agg(max("l_partkey"), max("l_suppkey")).head
    val (pHi, sHi) = (mx.getLong(0) / 4, mx.getLong(1) / 4)

    def filesNeeded(path: String): (Long, Long) = {
      val byFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("l_partkey").as("p"), min("l_suppkey").as("s"))
      val total = byFile.count()
      val needed = byFile.filter(col("p") <= pHi && col("s") <= sHi).count()
      (total, needed)
    }

    val (nTotal, nNeeded) = filesNeeded(s"$tmp/nat")
    val (zTotal, zNeeded) = filesNeeded(s"$tmp/z")
    assert(nTotal == files && zTotal == files)
    // natural order scatters partkeys: every file overlaps the box
    assert(nNeeded == files, s"natural layout expected unprunable, got $nNeeded")
    // z-order confines the box to a fraction of the files
    assert(zNeeded <= files / 2,
      s"z-ordered layout should prune at least half the files, scanned $zNeeded")
    // both layouts hold the same rows
    assert(spark.read.parquet(s"$tmp/z").count() == li.count())
  }

  test("hilbertKey ≡ reference xy→d transform") {
    def ref(x0: Long, y0: Long, bits: Int): Long = {
      var x = x0; var y = y0; var d = 0L
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val pts = for (a <- Seq(0L, 1L, 5L, 255L, 65535L, 1999999L);
                   b <- Seq(0L, 2L, 7L, 1023L, 1048575L)) yield (a, b)
    val got = pts.toDF("a", "b")
      .withColumn("h", Layout.hilbertKey(col("a"), col("b")))
      .select("a", "b", "h").as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, h) => assert(h == ref(a, b, 21), s"($a,$b)") }
  }

  test("hilbert locality: consecutive indices are Manhattan-adjacent cells (Z-order is not)") {
    // full 8×8 grid at bits=3: walk cells in curve order
    val cells = (for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y)).toDF("x", "y")
    def walk(keyed: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      keyed.orderBy("k").select("x", "y").as[(Long, Long)].collect().toSeq
    val h = walk(cells.withColumn("k", Layout.hilbertKey(col("x"), col("y"), bits = 3)))
    val z = walk(cells.withColumn("k", Layout.zOrderKey(col("x"), col("y"), bits = 3)))
    def jumps(p: Seq[(Long, Long)]): Int = p.sliding(2).count {
      case Seq((x1, y1), (x2, y2)) => math.abs(x1 - x2) + math.abs(y1 - y2) != 1
      case _ => false
    }
    assert(jumps(h) == 0, "every Hilbert step moves to an adjacent cell")
    assert(jumps(z) > 0, "the Z curve jumps at quadrant seams — the contrast")
  }

  test("sequentialBins ≡ single-window cumulative-sum reference, shards straddled") {
    import org.apache.spark.sql.expressions.Window
    // sizes chosen so bins straddle the range-partition shard boundaries
    val files = (1 to 500).map(i => (i.toLong, ((i * 37) % 90 + 10).toLong))
      .toDF("id", "sz")
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = files.withColumn("cb", sum(col("sz")).over(w) - col("sz"))
      .withColumn("bin", expr("cb div 1000L"))
      .select("id", "cb", "bin").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    for ((sharding, s) <- oneAndManyShards) {
      val f = rebind(files, s)
      assertShards(sharding, f, Seq(col("id")))
      val got = Layout.sequentialBins(f, Seq(col("id")), col("sz"), targetBytes = 1000L)
        .select("id", "cum_before", "bin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(got.toSeq == expect.toSeq, sharding)
      // bins are contiguous in file order and every bin except possibly the
      // last crosses the target boundary (no undersized interior bin)
      val byBin = got.groupBy(_._3).toSeq.sortBy(_._1)
      assert(byBin.map(_._1) == (0L until byBin.length.toLong), sharding)
    }
  }

  test("compactParquet: many small files → sized files, rows and order preserved") {
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    docs.repartition(40).write.mode("overwrite").parquet(s"$tmp/small")
    val smallBytes = {
      val p = new org.apache.hadoop.fs.Path(s"$tmp/small")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }
    val target = smallBytes / 4 // aim for ~4-5 output files
    val (before, after) = Layout.compactParquet(spark, s"$tmp/small",
      s"$tmp/big", Seq(col("doc_id")), target)
    assert(before == 40)
    assert(after >= 4 && after <= 6, s"expected ~5 files, got $after")
    val back = spark.read.parquet(s"$tmp/big")
    assert(back.count() == docs.count())
    assert(back.select("doc_id").as[Long].collect().sorted.toSeq ==
      docs.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("compactParquet preserves Hilbert clustering: box predicate still prunes after compaction") {
    // the pin VERDICT asked for: compaction re-sorts by the caller's
    // orderCols, so a Hilbert-keyed table compacted ON ITS KEY must keep
    // its footer-level skip behavior — a clustering-destroying compaction
    // (hash shuffle) would scatter low-corner cells into EVERY output
    // file (min x = min y = 0 everywhere → zero files prunable).
    val tmp = java.nio.file.Files.createTempDirectory("hcompact").toString
    // 32×32 grid keyed by the Hilbert index (bits=5): every aligned run
    // of 64 consecutive indices is exactly one 8×8 block, so the 8×8
    // corner box (x≤7 ∧ y≤7 = indices 0..63) stays confined to the
    // file(s) holding the first run under ANY clustering-preserving split
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
      .withColumn("h", Layout.hilbertKey(col("x"), col("y"), bits = 5))
    grid.repartitionByRange(16, col("h")).sortWithinPartitions(col("h"))
      .write.mode("overwrite").parquet(s"$tmp/small")

    // conservative footer overlap test for the box x≤7 ∧ y≤7: a file can
    // match only if min(x) ≤ 7 AND min(y) ≤ 7 (mins only — the box is
    // anchored at the origin)
    def scanned(path: String): (Long, Long) = {
      val byFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("x").as("mx"), min("y").as("my"))
      (byFile.count(), byFile.filter(col("mx") <= 7 && col("my") <= 7).count())
    }
    val (nSmall, needSmall) = scanned(s"$tmp/small")
    assert(nSmall == 16)
    // range-partition sampling can put the 64-index run astride a file
    // boundary, so allow a straddle — but never more than a sliver
    assert(needSmall <= 3, s"pre-compaction box leaked into $needSmall/16 files")

    val smallBytes = {
      val p = new org.apache.hadoop.fs.Path(s"$tmp/small")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }
    val (before, after) = Layout.compactParquet(spark, s"$tmp/small",
      s"$tmp/big", Seq(col("h")), smallBytes / 4)
    assert(before == 16)
    assert(after >= 4 && after <= 5, s"expected ~4 compacted files, got $after")

    val (nBig, needBig) = scanned(s"$tmp/big")
    assert(nBig == after)
    // clustering preserved: the box stays confined to a corner file (+ at
    // most one straddle); destroyed clustering would need ALL files
    assert(needBig <= 2, s"compaction destroyed Hilbert locality: box needs $needBig/$nBig files")
    assert(needBig < nBig)
    assert(spark.read.parquet(s"$tmp/big").count() == 1024L)
  }

  /** skipStats' three counts for the box a ≤ 3, b ≤ 3, recounted on the
    * driver: rows in `order`, bucket = (rank − 1)·buckets div n. */
  private def recount(df: DataFrame, order: Seq[Column],
                      buckets: Int): (Long, Long, Long) = {
    val rows = df.orderBy(order: _*).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byBucket = rows.indices.groupBy(_.toLong * buckets / rows.length)
      .values.map(_.map(rows))
    (byBucket.size.toLong,
      byBucket.count(b => b.map(_._1).min <= 3 && b.map(_._2).min <= 3).toLong,
      rows.count { case (a, b) => a <= 3 && b <= 3 }.toLong)
  }

  test("skipStats bucket arithmetic ≡ per-bucket recount on a planted grid") {
    // 16×16 grid, natural order = row-major → z-order beats it on a 4×4 box
    val grid = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a * 16 + b, a, b))
      .toDF("id", "a", "b")
      .withColumn("zkey", Layout.zOrderKey(col("a"), col("b")))
    val natural = Seq(col("id"))
    val zorder = Seq(col("zkey"), col("id"))
    def stats(df: DataFrame, order: Seq[Column], buckets: Int): (Long, Long, Long) = {
      val r = Layout.skipStats(df, "l", order, col("a"), 3L, col("b"), 3L, buckets).head
      (r.getLong(r.fieldIndex("buckets_total")), r.getLong(r.fieldIndex("buckets_scanned")),
        r.getLong(r.fieldIndex("rows_in_box")))
    }
    // in the many-shard session the grid spans several range shards; 10
    // buckets do not line up with their boundaries, so a wrong shard
    // offset moves rows across bucket boundaries
    for ((sharding, s) <- oneAndManyShards) {
      val g = rebind(grid, s)
      assertShards(sharding, g, natural)
      assertShards(sharding, g, zorder)
      for (order <- Seq(natural, zorder); buckets <- Seq(16, 10))
        assert(stats(g, order, buckets) === recount(g, order, buckets),
          s"$sharding, $buckets buckets, order ${order.mkString(",")}")
      // z-order: the 4×4 corner is exactly the first z-run of 16 rows →
      // 1 bucket; natural row-major: rows with a≤3 span the first 4
      // buckets, each containing b values 0..15 → min (0,0) passes in each
      assert(stats(g, zorder, 16) === ((16L, 1L, 16L)), sharding)
      assert(stats(g, natural, 16) === ((16L, 4L, 16L)), sharding)
    }
  }
}
