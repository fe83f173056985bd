package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TokenWindows
import graft.text.TextFunctions

/** Bit-equality pins for the native [[graft.functions.TokenWindowHashes]]
  * kernel against the composable HOF form it replaces — every gram
  * pipeline's oracle rides on the two producing IDENTICAL hash arrays,
  * including the wsTokens edge cases (space-only trim, limit −1 split). */
class TokenWindowSpec extends SparkSuite {

  import spark.implicits._

  /** The HOF reference form the call sites used before the native swap.
    * Guarded on token count: with fewer than n tokens the raw form's
    * sequence(1, ≤0) DESCENDS through 0 and slice(t, 0, n) throws —
    * which is why every call site filtered `size(t) >= n` first. The
    * native form returns an empty array there instead. */
  private def hofWindows(text: Column, n: Int, sep: String): Column = {
    val t = TextFunctions.wsTokens(text)
    when(size(t) < n, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), size(t) - (n - 1)),
        i => xxhash64(array_join(slice(t, i, lit(n)), sep))))
  }

  private val edgeCases = Seq(
    "plain space separated tokens here",
    "multi   space    runs",
    "\tleading tab yields empty first token",
    "trailing tab yields empty last token\t",
    "newline\nand\ttabmixed\fseparators\rhere",
    "   leading and trailing spaces   ",
    "single",
    "two tokens",
    "", // empty: split yields [""], size 1
    "     ", // all spaces: trim → "", split yields [""]
    "\t\t", // all tabs: survive trim, split yields ["", ""]
    "unicode tökens ünd ßtrings müssen auch stimmen",
    "a b a b a b a b", // max field density
    "x\u001Fy contains the separator byte inside a token")

  test("native window hashes ≡ HOF form on edge cases (n = 1, 2, 3, 8)") {
    val df = edgeCases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    for (n <- Seq(1, 2, 3, 8); sep <- Seq("\u001F", " ")) {
      val got = df.select(col("id"),
          TokenWindows(col("text"), n, sep.head.toByte).as("native"),
          hofWindows(col("text"), n, sep).as("hof"))
        .collect()
      got.foreach { r =>
        val nat = r.getSeq[Long](1)
        val hof = r.getSeq[Long](2)
        assert(nat == hof, s"id=${r.getLong(0)} n=$n sep=${sep.head.toInt}")
      }
    }
  }

  test("native window hashes ≡ HOF form on the sf0.001 documents corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    for (n <- Seq(3, 8)) {
      val mismatches = docs
        .filter(size(TextFunctions.wsTokens(col("text"))) >= n)
        .select(col("doc_id"),
          TokenWindows(col("text"), n).as("native"),
          hofWindows(col("text"), n, "\u001F").as("hof"))
        .filter(not(col("native") <=> col("hof")))
        .count()
      assert(mismatches === 0L, s"n=$n")
    }
  }

  test("ws_field_count ≡ size(wsTokens) including empty-token edge cases") {
    val df = (edgeCases ++ WsMix.corpus(41L)).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val bad = df.select(
        TokenWindows.fieldCountCol(col("text")).as("native"),
        size(TextFunctions.wsTokens(col("text"))).as("ref"))
      .filter(col("native") =!= col("ref"))
      .count()
    assert(bad === 0L)
  }

  test("native window STRINGS ≡ HOF array_join(slice) form") {
    val df = (edgeCases ++ Seq("one two three four five"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 2, 3)) {
      val t = TextFunctions.wsTokens(col("text"))
      val hof = when(size(t) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(t) - (n - 1)),
          i => array_join(slice(t, i, lit(n)), "")))
      val bad = df.select(
          graft.functions.TokenWindows.stringsCol(col("text"), n).as("native"),
          hof.as("ref"))
        .filter(not(col("native") <=> col("ref"))).count()
      assert(bad === 0L, s"n=$n")
    }
  }

  test("native bigram hashes ≡ xxhash64(w1) / xxhash64(w1, w2) HOF form") {
    val df = (edgeCases ++ Seq("a b", "x")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val t = TextFunctions.wsTokens(col("text"))
    val hof = when(size(t) < 2,
        array().cast("array<struct<h1:bigint,h12:bigint>>"))
      .otherwise(transform(sequence(lit(1), size(t) - 1),
        i => struct(xxhash64(element_at(t, i)).as("h1"),
          xxhash64(element_at(t, i), element_at(t, i + lit(1))).as("h12"))))
    val bad = df.select(
        graft.functions.TokenWindows.bigramHashesCol(col("text")).as("native"),
        hof.as("ref"))
      .filter(not(col("native") <=> col("ref"))).count()
    assert(bad === 0L)
  }

  test("md5_prefix_long ≡ conv(substring(md5(s), skip+1, take), 16, 10)") {
    import graft.functions.Md5Prefix
    val vals = (edgeCases ++ Seq("42", "9999999", "0", "x:y:z")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = vals.toDF("id", "s")
    for ((skip, take) <- Seq((0, 2), (2, 13), (0, 3), (0, 15), (17, 15), (0, 1))) {
      val bad = df.select(
          Md5Prefix(col("s"), skip, take).as("native"),
          conv(substring(md5(col("s")), skip + 1, take), 16, 10)
            .cast("long").as("ref"))
        .filter(col("native") =!= col("ref")).count()
      assert(bad === 0L, s"skip=$skip take=$take")
    }
    // the dynamic-take form (Bloom's data-sized hex width)
    val badDyn = df.withColumn("c", (col("id") % 14 + 1).cast("int"))
      .select(
        Md5Prefix(col("s"), 0, col("c")).as("native"),
        conv(md5(col("s")).substr(lit(1), col("c")), 16, 10)
          .cast("long").as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(badDyn === 0L)
  }

  test("windows shorter than n hash nothing; explode drops the doc") {
    val df = Seq((1L, "only two"), (2L, "one two three four")).toDF("id", "text")
      .select(col("id"), explode(TokenWindows(col("text"), 3)).as("h"))
    assert(df.select("id").distinct().collect().map(_.getLong(0)).toSet === Set(2L))
  }

  test("tagged multi-width hashes ≡ per-width kernel, widths concatenated") {
    val df = (edgeCases ++ Seq("one two three four five"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val ref = concat(
      transform(TokenWindows(col("text"), 1), h => struct(lit(1).as("n"), h.as("h"))),
      transform(TokenWindows(col("text"), 2), h => struct(lit(2).as("n"), h.as("h"))),
      transform(TokenWindows(col("text"), 3), h => struct(lit(3).as("n"), h.as("h"))))
    val bad = df.select(
        TokenWindows.taggedCol(col("text"), Seq(1, 2, 3)).as("native"),
        ref.as("ref"))
      .filter(not(col("native") <=> col("ref"))).count()
    assert(bad === 0L)
  }

  test("md5-bucket windows ≡ Md5Prefix(window string) % mod (DSIR chain)") {
    import graft.functions.Md5Prefix
    val df = (edgeCases ++ Seq("one two three four five"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((n, mod) <- Seq((2, 512), (3, 64), (1, 7))) {
      val ref = transform(TokenWindows.stringsCol(col("text"), n),
        g => Md5Prefix(g, 0, 15) % mod)
      val bad = df.select(
          TokenWindows.md5BucketsCol(col("text"), n, 0, 15, mod).as("native"),
          ref.as("ref"))
        .filter(not(col("native") <=> col("ref"))).count()
      assert(bad === 0L, s"n=$n mod=$mod")
    }
  }

  test("token_postings ≡ posexplode → groupBy → collect_list ingest chain") {
    val df = (edgeCases ++ Seq("a b a b a", "dup dup dup"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // reference: the exact composable chain PostingsIndex.addBatch ran
    val ref = df
      .select(col("id"), TextFunctions.wsTokens(col("text")).as("t"))
      .select(col("id"), posexplode(col("t")).as(Seq("pos", "term")))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    val got = df
      .select(col("id"),
        explode(graft.functions.TokenPostings(col("text"))).as("p"))
      .select(col("id"), col("p.term").as("term"), col("p.tf").as("tf"),
        col("p.positions").as("positions"))
    assert(got.exceptAll(ref).count() === 0L)
    assert(ref.exceptAll(got).count() === 0L)
    // dl sibling: field count matches size(wsTokens) (pinned above); the
    // postings' total tf per doc must equal it too
    val badTf = got.groupBy(col("id")).agg(sum(col("tf")).as("s"))
      .join(df.select(col("id"),
        TokenWindows.fieldCountCol(col("text")).cast("long").as("fc")), "id")
      .filter(col("s") =!= col("fc")).count()
    assert(badTf === 0L)
  }
}
