package graft

import org.apache.spark.sql.functions._

import graft.dedup.Decontaminate
import graft.operators.Sampling

/** Curation operators: decontamination flagging, deterministic
  * sampling, quota mixing. */
class CurationSpec extends SparkSuite {
  import spark.implicits._

  test("decontamination flags exactly the docs sharing an n-gram") {
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // embeds a 5-gram of the benchmark → flagged
      (10L, "intro text the quick brown fox jumps and more"),
      // shares only a 4-gram ("quick brown fox jumps" without "the") → clean
      (11L, "a quick brown fox jumps away"),
      // no overlap at all → clean
      (12L, "completely unrelated content with many words here"),
      // shorter than 5 tokens → structurally clean
      (13L, "tiny doc")
    ).toDF("doc_id", "text")
    val flagged = Decontaminate.flagContaminated(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet === Set(10L))
    assert(flagged(10L) === 1L) // exactly one contaminated distinct gram
  }

  test("cdc chunking ≡ a plain-Scala replay of the md5-mod cut rule") {
    import graft.text.TextFunctions
    val text = (1 to 150).map(i => s"tok${(i * 31) % 83}").mkString(" ")
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(toks: Array[String]): Seq[String] = {
      val n = toks.length
      val bs = (3 to n).filter(i =>
        Integer.parseInt(md5hex(toks.slice(i - 3, i).mkString("\u001F")).take(2), 16) % 8 == 0)
      val starts = 1 +: bs.filter(_ < n).map(_ + 1)
      val ends = if (bs.isEmpty || bs.last != n) bs :+ n else bs
      starts.zip(ends).map { case (s, e) => md5hex(toks.slice(s - 1, e).mkString("\u001F")) }
    }
    val got = Seq(Tuple1(text)).toDF("text")
      .select(TextFunctions.cdcChunkFingerprints(
        TextFunctions.wsTokens(col("text"))).as("fps"))
      .as[Seq[String]].head
    assert(got == ref(text.split(" ")))
    // degenerate docs: whitespace-only text tokenizes to [""] — one
    // md5('') chunk, exactly what the DuckDB oracle emits (the empty
    // string is a token value, NOT the no-open-chunk sentinel)
    val degenerate = Seq(Tuple1("   "), Tuple1("")).toDF("text")
      .select(TextFunctions.cdcChunkFingerprints(
        TextFunctions.wsTokens(col("text"))).as("fps"))
      .as[Seq[String]].collect()
    degenerate.foreach { fps =>
      assert(fps == Seq(md5hex("")), s"degenerate doc must yield one md5('') chunk, got $fps")
    }
  }

  test("native cdc kernel ≡ HOF reference fold on a seeded random sweep") {
    import graft.text.TextFunctions
    // the production CdcChunkFp expression and the composable HOF form
    // must agree across the real input domain: wsTokens always yields
    // >= 1 token (whitespace-only text tokenizes to [""]), so lengths
    // sweep 1..40 straddling the window, with empty-string tokens and
    // repeated tokens (boundary-hash collisions on purpose). The HOF's
    // sequence(1, size) is descending on a zero-length array — an input
    // no tokenizer produces; the native kernel returns [] there
    // (asserted below), which is the sane extension.
    val rnd = new scala.util.Random(42)
    val docs = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(40)
      val toks = (0 until n).map { _ =>
        rnd.nextInt(6) match {
          case 0 => ""
          case k => s"w${rnd.nextInt(k * 7 + 1)}"
        }
      }
      (i.toLong, toks)
    }.toDF("id", "toks")
    val both = docs.select(col("id"),
        TextFunctions.cdcChunkFingerprints(col("toks")).as("native"),
        TextFunctions.cdcChunkFingerprintsHof(col("toks")).as("hof"))
      .as[(Long, Seq[String], Seq[String])].collect()
    both.foreach { case (id, n, h) =>
      assert(n == h, s"doc $id: native $n != hof $h")
    }
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("toks")
      .select(TextFunctions.cdcChunkFingerprints(col("toks")).as("fps"))
      .as[Seq[String]].head
    assert(empty.isEmpty, "a zero-length token array yields zero chunks")
  }

  test("cdc chunking re-synchronizes after an insertion; fixed chunking cannot") {
    import graft.text.TextFunctions
    val base = (1 to 200).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, "inserted " + base)).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.wsTokens(col("text")).as("toks"))
    val cdc = df.select(col("doc_id"),
        TextFunctions.cdcChunkFingerprints(col("toks")).as("fps"))
      .as[(Long, Seq[String])].collect().toMap
    val kept = (cdc(1L).toSet & cdc(2L).toSet).size.toDouble / cdc(1L).size
    assert(kept >= 0.8, s"CDC should keep most chunks across an insertion, kept $kept")
    // fixed-size chunks all shift: near-zero fingerprint survival
    val fixed = df.select(col("doc_id"),
        transform(TextFunctions.chunkTokens(col("toks"), 8, 0), c => md5(c)).as("fps"))
      .as[(Long, Seq[String])].collect().toMap
    val keptFixed = (fixed(1L).toSet & fixed(2L).toSet).size.toDouble / fixed(1L).size
    assert(keptFixed <= 0.1, s"fixed chunking should lose alignment, kept $keptFixed")
  }

  test("cdc index: copies score zero novel, shifted copies near-zero, retry idempotent") {
    import graft.dedup.CdcIndex
    val idx = s"cdcidx_spec_${System.nanoTime()}"
    val base = (1 to 120).map(i => s"w${(i * 13) % 101}").mkString(" ")
    val other = (1 to 120).map(i => s"x${(i * 7) % 89}").mkString(" ")
    val b1 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    // batch 2: an exact copy, a SHIFTED copy (one token prepended), a novel doc
    val b2 = Seq((10L, base), (11L, "zzz " + base),
      (12L, (1 to 120).map(i => s"q${i}").mkString(" "))).toDF("doc_id", "text")
    try {
      CdcIndex.addBatch(b1, "doc_id", "text", idx, 1L).collect()
      val r2 = CdcIndex.addBatch(b2, "doc_id", "text", idx, 2L)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(r2(10L)._2 == 0, "an exact copy has zero novel chunks")
      assert(r2(11L)._2 <= 2,
        s"a shifted copy re-synchronizes: at most the head chunks are novel, got ${r2(11L)}")
      assert(r2(12L)._2 == r2(12L)._1, "a genuinely novel doc is all-novel")
      // retry of batch 2 overwrites its own partition → identical result
      val retry = CdcIndex.addBatch(b2, "doc_id", "text", idx, 2L)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(retry == r2, "a batch retry must be idempotent")
    } finally spark.sql(s"DROP TABLE IF EXISTS $idx")
  }

  test("decontamination counts distinct grams once per doc") {
    val bench = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    // the contaminated gram appears twice in the doc — n_hits must be 1
    val corpus = Seq((10L, "a b c d e x a b c d e")).toDF("doc_id", "text")
    val flagged = Decontaminate.flagContaminated(corpus, bench, "doc_id", "text", n = 5)
      .collect()
    assert(flagged.length === 1)
    // grams of the corpus doc intersecting bench's single gram set:
    // "a b c d e" (twice, counted once) — plus no others from bench
    assert(flagged(0).getLong(1) === 1L)
  }

  test("token boundaries stay unambiguous in grams") {
    // ["ab","c"] vs ["a","bc"]: same concatenation, different token split —
    // must NOT match
    val bench = Seq((1L, "x ab c y z")).toDF("doc_id", "text")
    val corpus = Seq((10L, "x a bc y z")).toDF("doc_id", "text")
    val flagged = Decontaminate.flagContaminated(corpus, bench, "doc_id", "text", n = 5)
    assert(flagged.isEmpty)
  }

  test("bloom decontamination path is output-identical to the exact path") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val exact = Decontaminate.flagContaminated(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a deliberately sloppy filter (30% fpp) must still verify away every
    // false positive — the exact join is the correctness boundary
    val bloom = Decontaminate.flagContaminatedBloom(
      corpus, bench, "doc_id", "text", n = 3, fpp = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom === exact)
    assert(exact.nonEmpty) // the fixture actually exercises the path
  }

  test("bloom decontamination probes with the native predicate before the join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val plan = Decontaminate.flagContaminatedBloom(
      corpus, bench, "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected a BloomFilterMightContain probe in the plan:\n$plan")
  }

  test("bloom build is sized from the measured count, not the runtime-filter clamps") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    // the SQL builds (bloom_filter_agg, and stat.bloomFilter which
    // delegates to it) silently clamp to these confs; the operator's
    // treeAggregate build must NOT — pin that by making the clamp absurd
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "64")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val df = Decontaminate.flagContaminatedBloom(
        corpus, bench, "doc_id", "text", n = 3, fpp = 0.01)
      val filterBytes = df.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.flatMap(_.collect {
        case m: BloomFilterMightContain =>
          m.bloomFilterExpression.asInstanceOf[Literal].value.asInstanceOf[Array[Byte]]
      })
      assert(filterBytes.nonEmpty, "expected a BloomFilterMightContain literal in the plan")
      // a 64-bit-clamped filter serializes to ~tens of bytes; the real
      // one (hundreds of grams at 1% fpp) needs kilobits
      assert(filterBytes.head.length > 200,
        s"bloom filter looks clamped: ${filterBytes.head.length} bytes")
    } finally {
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
    }
  }

  test("bloom decontamination with an empty benchmark flags nothing") {
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val corpus = Seq((10L, "some training document text here")).toDF("doc_id", "text")
    val out = Decontaminate.flagContaminatedBloom(corpus, bench, "doc_id", "text", n = 3)
    assert(out.columns.toSeq === Seq("doc_id", "n_hits"))
    assert(out.isEmpty)
  }

  test("hash sample is deterministic and content-keyed") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = docs.filter(Sampling.hashSample(col("text"), "4"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // repartitioned input yields the identical subset
    val b = docs.repartition(7).filter(Sampling.hashSample(col("text"), "4"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
    assert(a.nonEmpty && a.size < docs.count()) // a real, proper subset
  }

  test("quota mix caps every domain at its quota, first-N by order") {
    val docs = Seq.tabulate(30)(i => (i.toLong, if (i % 3 == 0) "web" else "wiki"))
      .toDF("doc_id", "source")
    val mixed = Sampling.quotaMix(docs, col("source"), col("doc_id"),
      Map("web" -> 3), defaultQuota = 5)
    val bySource = mixed.groupBy("source").agg(
        count(lit(1)).as("n"), max(col("doc_id")).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bySource("web") === ((3L, 6L)))   // ids 0,3,6 — first 3 by id
    assert(bySource("wiki") === ((5L, 7L)))  // ids 1,2,4,5,7
  }

  test("shard packing: contiguous in order, balanced within one max-item overshoot") {
    // the streaming-concat bound sequentialBins guarantees: a shard's
    // token total never exceeds target + (max item - 1), because a row
    // is assigned by where its cumulative START falls — the property
    // samp_shard_export's balance claim rests on
    val rng = new scala.util.Random(7L)
    val rows = (0L until 500L).map(i => (i, 1L + rng.nextInt(100).toLong))
    val df = rows.toDF("doc_id", "n_tok")
      .withColumn("ek", md5(concat(lit("ep1:"), col("doc_id").cast("string"))))
    val total = rows.map(_._2).sum
    val k = 8L
    val target = (total + k - 1) / k
    val binned = graft.operators.Layout.sequentialBins(df,
        Seq(col("ek"), col("doc_id")), col("n_tok"), target)
      .select(col("ek"), col("n_tok"), col("bin")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val maxItem = rows.map(_._2).max
    val perShard = binned.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    assert(binned.map(_._3).max < k)
    perShard.foreach { case (b, t) =>
      assert(t <= target + maxItem - 1, s"shard $b overshoots: $t > $target+$maxItem")
    }
    // contiguity: sorting by the epoch key yields non-decreasing shards
    val byOrder = binned.sortBy(_._1).map(_._3)
    assert(byOrder.zip(byOrder.tail).forall { case (a, b) => a <= b })
  }

  test("naive bayes fit/score replays by hand: smoothing, priors, argmax") {
    import graft.text.NaiveBayes
    val train = Seq(
      (1L, "a", "cat cat dog"),
      (2L, "a", "cat fish"),
      (3L, "b", "dog dog")
    ).toDF("doc_id", "lang", "text")
    // counts: a→{cat:3, dog:1, fish:1} n_a=5; b→{dog:2} n_b=2; V=3
    // priors: ln(2/3), ln(1/3)
    val test_ = Seq(
      (10L, "cat dog"),  // a: r6(ln 4/8)+r6(ln 2/8)+r6(ln 2/3) = -2.484906
                         // b: r6(ln 1/5)+r6(ln 3/5)+r6(ln 1/3) = -3.218876
      (11L, "bird bird") // unseen token: Laplace floor only — the smaller
                         // denominator (n_b+V=5 < n_a+V=8) wins despite
                         // the smaller prior: b at -4.317488 vs a at -4.564349
    ).toDF("doc_id", "text")
    val got = NaiveBayes.fitScore(train, test_, "lang", "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set(
      (10L, "a", -2.484906),
      (11L, "b", -4.317488)))
  }

  test("bounded quota mix equals the window form, including null domains") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"))
      .union(Seq((90001L, null.asInstanceOf[String]),
        (90002L, null.asInstanceOf[String])).toDF("doc_id", "source"))
    val quota = Map("web" -> 5, "wiki" -> 2)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val window = ids(Sampling.quotaMix(docs, col("source"), col("doc_id"),
      quota, defaultQuota = 3))
    val bounded = ids(Sampling.quotaMixBounded(docs, col("source"), col("doc_id"),
      quota, defaultQuota = 3))
    assert(bounded === window)
    assert(bounded.contains(90001L), "null domain is its own group (quota 3)")
  }

  test("curation ops tolerate degenerate inputs: nulls, empties, blanks") {
    val ugly = Seq(
      (1L, null.asInstanceOf[String], null.asInstanceOf[String]),
      (2L, "", "web"),
      (3L, "   ", null.asInstanceOf[String]),
      (4L, "regular document text here", "web")
    ).toDF("doc_id", "text", "source")
    // decontamination: null/blank docs have no grams on either side
    val flagged = Decontaminate.flagContaminated(
      ugly, ugly.limit(2), "doc_id", "text", n = 3)
    assert(flagged.count() === 0)
    // hash sample: md5(null) is null → filtered out deterministically,
    // never an NPE or a row with an undecidable verdict
    val sampled = ugly.filter(Sampling.hashSample(col("text"), "8"))
      .select("doc_id").as[Long].collect()
    assert(!sampled.contains(1L))
    // quota mix: null domain is its own group under the default quota
    val mixed = Sampling.quotaMix(ugly, col("source"), col("doc_id"),
      Map("web" -> 1), defaultQuota = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(mixed === Set(1L, 2L, 3L), "web capped at 1 (first id), nulls kept")
    // histogram: null values land in a null bucket, not a crash
    val hist = Sampling.linearHistogram(
      Seq(Some(5L), None, Some(40L)).toDF("v"), col("v"), 32)
    assert(hist.count() === 3)
  }

  test("cluster-safe split: no dup cluster straddles splits; bounds validated") {
    import org.apache.spark.sql.functions.{col, md5, min}
    // 50 docs, every text duplicated across two ids -> 25 clusters of 2
    val docs = (0L until 50L).map(i => (i, s"text ${i % 25}")).toDF("doc_id", "text")
    val clusters = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("cluster_id"))
    val split = docs.withColumn("h", md5(col("text"))).join(clusters, "h")
      .select(col("doc_id"), col("cluster_id"),
        Sampling.clusterSafeSplit(col("cluster_id").cast("string"),
          Seq(("train", "cc"), ("val", "e6")), "test").as("split"))
    // leakage check: every cluster maps to exactly one split
    val leaks = split.groupBy(col("cluster_id"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(leaks === 0L)
    // all three splits occur across 25 clusters (md5 spread)
    assert(split.select(col("split")).distinct().count() === 3L)
    // misordered bounds and bad hex are rejected at the API boundary
    intercept[IllegalArgumentException] {
      Sampling.clusterSafeSplit(col("cluster_id"), Seq(("a", "e6"), ("b", "cc")), "c")
    }
    intercept[IllegalArgumentException] {
      Sampling.clusterSafeSplit(col("cluster_id"), Seq(("a", "ZZ")), "c")
    }
  }

  test("token budget: maximal prefix of the global order, shard-invariant") {
    import org.apache.spark.sql.expressions.Window
    // 100 docs with distinct token counts; priority = tokens desc, id asc.
    // Driver-side reference: greedy prefix over the sorted order; the
    // globalRank reference is a single-window row_number().
    val docs = (0L until 100L).map(i => (i, 10L + (i * 37L) % 90L))
      .toDF("doc_id", "n_tok")
    val order = Seq(col("n_tok").desc, col("doc_id").asc)
    def ref(budget: Long): Set[Long] = {
      var acc = 0L
      docs.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (id, t) => (-t, id) }
        .takeWhile { case (_, t) => { acc += t; acc <= budget } }
        .map(_._1).toSet
    }
    val rankRef = docs.withColumn("rank", row_number().over(Window.orderBy(order: _*)))
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    for ((sharding, s) <- oneAndManyShards) {
      val d = rebind(docs, s)
      assertShards(sharding, d, order)
      for (budget <- Seq(0L, 500L, 2345L, 100000L)) {
        val got = Sampling.tokenBudget(d, order, col("n_tok"), budget)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        assert(got === ref(budget), s"budget=$budget $sharding")
      }
      val ranks = Sampling.globalRank(d, order)
        .select("doc_id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(ranks === rankRef, sharding)
    }
  }

  test("linear histogram buckets by exact integer division") {
    val vals = Seq(0L, 31L, 32L, 63L, 64L, 100L).toDF("v")
    val h = Sampling.linearHistogram(vals, col("v"), 32)
      .orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(h.toSeq === Seq((0L, 2L, 0L, 31L), (1L, 2L, 32L, 63L), (2L, 1L, 64L, 64L), (3L, 1L, 100L, 100L)))
  }

  test("native text_quality_stats equals the composable regex/HOF form, edge cases included") {
    import org.apache.spark.sql.functions._
    val stops = Seq("the", "a", "of")
    val edge = Seq(
      "", " ", "   ", "\tstarts with tab", "\n\nnewlines", "the a of",
      "ends with space ", " the middle of a doc ", "ALL CAPS AND 123 #$%",
      "multi\t\tinternal   runs\n", "a", "of\t", "é café déjà-vu",
      "punct-only!!! ??? ;;;", "1 2 3 4 5", "\fform feeds")
    val rand = new scala.util.Random(7L)
    val words = Seq("the", "a", "of", "word", "graft", "spark", "x1", "!!", "Mixed")
    val fuzz = (0 until 200).map { _ =>
      (0 until rand.nextInt(30)).map(_ =>
        if (rand.nextInt(8) == 0) "\t" else words(rand.nextInt(words.length)))
        .mkString(" ")
    }
    val df = (edge ++ fuzz ++ WsMix.corpus(43L)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val stopsArr = array(stops.map(lit): _*)
    val toks = split(trim(col("text")), "\\s+")
    val got = df.select(col("id"),
        graft.functions.TextQualityStats(col("text"), stops).as("s"),
        size(toks).cast("long").as("e_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("e_nonws"),
        size(filter(toks, t => array_contains(stopsArr, t))).cast("long").as("e_stops"),
        regexp_count(col("text"), lit("[^a-z0-9\\s]")).cast("long").as("e_punct"))
      .collect()
    got.foreach { r =>
      val s = r.getStruct(1)
      assert(s.getLong(0) === r.getLong(2), s"n_tokens for id ${r.getLong(0)}")
      assert(s.getLong(1) === r.getLong(3), s"nonws_chars for id ${r.getLong(0)}")
      assert(s.getLong(2) === r.getLong(4), s"stop_hits for id ${r.getLong(0)}")
      assert(s.getLong(3) === r.getLong(5), s"punct_cnt for id ${r.getLong(0)}")
    }
  }

  test("scrub_spans gram hashing is boundary-unambiguous, like its oracle") {
    import org.apache.spark.sql.functions._
    // benchmark doc 0 (0 % 97 == 0) carries ["ab","c","x"]; corpus doc 1
    // carries ["a","bc","x"] — identical bare concatenation "abcx", but
    // distinct token splits. With the  separator (= the oracle's
    // chr(31)) the grams differ, so NOTHING may be scrubbed; an empty
    // separator would falsely hash-match and remove all three tokens.
    val dir = java.nio.file.Files.createTempDirectory("scrub_planted").toString
    Seq((0L, "ab c x"), (1L, "a bc x"), (97L * 2, "q w e"), (3L, "q w e r"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.qsets.CurationQueries.queries("dd_scrub_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_removed") === 0L, "planted ambiguity must not scrub")
    assert(out(1L).getAs[String]("cleaned") === "a bc x")
    // the exact-match control: corpus doc 3 shares gram ("q","w","e") with
    // benchmark doc 194 and loses the covered span but keeps "r"
    assert(out(3L).getAs[Long]("n_removed") === 3L)
    assert(out(3L).getAs[String]("cleaned") === "r")
  }

  test("native token_counts equals the split/regexp_count form, edge cases included") {
    import org.apache.spark.sql.functions._
    val edge = Seq(
      "", " ", "   ", "\tstarts with tab", "\n\nnewlines", "ends with space ",
      " leading space", "a", "A", "ABC", "abc123def", "a1b2c3", "123",
      "mixed CASE and lower", "é café déjà-vu", "日本語テキスト here",
      "punct-only!!! ??? ;;;", "runs  of\t\twhitespace\n\n", "a.b,c;d",
      "UPPER lower 42 #$% \f", "\u00e9\u65e5x9", "tab\tend\t", "dots... dashes---")
    val rand = new scala.util.Random(23L)
    val alpha = "abz019AZ!.\t \n日é"
    val fuzz = (0 until 300).map { _ =>
      (0 until rand.nextInt(50)).map(_ => alpha(rand.nextInt(alpha.length))).mkString
    }
    val df = (edge ++ fuzz ++ WsMix.corpus(47L)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"), col("text"),
        graft.functions.TokenCounts(col("text")).as("tc"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("e_ws"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]")).cast("long").as("e_bpe"))
      .collect()
    got.foreach { r =>
      val tc = r.getStruct(2)
      val id = r.getLong(0)
      assert(tc.getLong(0) === r.getLong(3), s"n_ws for id $id [${r.getString(1)}]")
      assert(tc.getLong(1) === r.getLong(4), s"n_bpe for id $id [${r.getString(1)}]")
    }
  }

  test("native repetition_stats equals the split/distinct/sort-HOF form") {
    import org.apache.spark.sql.functions._
    import graft.text.TextFunctions._
    val edge = Seq(
      "", " ", ". ", ". . ", "a. a. a", "a. a. a. ", "one sentence",
      "dup. dup. dup. unique", "a b a b a", "a a a a a", " lead. lead. ",
      "\ttab. tab.\t", "x. x.  x. x", "end with dot.", ". starts", "..",
      ".. . ..", "é. é. 日本. 日本", "a.b. a.b. c", "s1. s2. s1. s2. s3",
      "tok tok tok. tok tok. tok", "  ", "\n. \n. \n")
    val rand = new scala.util.Random(29L)
    val words = Seq("alpha", "beta", "gamma", "x", ".", "a.", "日本")
    val fuzz = (0 until 300).map { _ =>
      (0 until rand.nextInt(40)).map(_ =>
        if (rand.nextInt(7) == 0) ". " else words(rand.nextInt(words.length)) + " ")
        .mkString.dropRight(rand.nextInt(2))
    }
    val df = (edge ++ fuzz ++ WsMix.corpus(53L)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val sents = split(col("text"), "\\. ")
    val toks = wsTokens(col("text"))
    val got = df.select(col("id"), col("text"),
        graft.functions.RepetitionStats(col("text")).as("rs"),
        size(sents).cast("long").as("e_sents"),
        size(array_distinct(sents)).cast("long").as("e_distinct"),
        size(toks).cast("long").as("e_toks"),
        // the composable top-token count: max run in the sorted array
        (topTokenRatio(toks) * size(toks)).cast("long").as("e_max"))
      .collect()
    got.foreach { r =>
      val rs = r.getStruct(2)
      val id = r.getLong(0)
      assert(rs.getLong(0) === r.getLong(3), s"n_sents for id $id [${r.getString(1)}]")
      assert(rs.getLong(1) === r.getLong(4), s"n_distinct_sents for id $id [${r.getString(1)}]")
      assert(rs.getLong(2) === r.getLong(5), s"n_toks for id $id [${r.getString(1)}]")
      assert(rs.getLong(3) === r.getLong(6), s"max_tok_count for id $id [${r.getString(1)}]")
    }
    // and the full ratio projection matches the oracle-facing arithmetic
    val ratios = df.select(col("id"),
        graft.functions.RepetitionStats(col("text")).as("rs"))
      .select(col("id"),
        (col("rs.n_sents") - col("rs.n_distinct_sents")).cast("double")
          ./(col("rs.n_sents")).as("g_dup"),
        col("rs.max_tok_count").cast("double")./(col("rs.n_toks")).as("g_top"))
      .join(df.select(col("id"),
        dupSentenceRatio(col("text")).as("e_dup"),
        topTokenRatio(wsTokens(col("text"))).as("e_top")), "id")
      .collect()
    ratios.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(3)) === 0,
        s"dup ratio for id ${r.getLong(0)}")
      assert(java.lang.Double.compare(r.getDouble(2), r.getDouble(4)) === 0,
        s"top ratio for id ${r.getLong(0)}")
    }
  }

  test("native pii_redact equals the regex form: counts, redacted text, residual") {
    import org.apache.spark.sql.functions._
    import graft.text.TextFunctions._
    val edge = Seq(
      "", "no pii here", "a@b.cc", "a@b.c", "a@b", "@x.yy", "a@.yy", "a@b.",
      "x@y@z.com", "ab@cd.ee@ff.gg", ".a@b.cc", "-_%+.a@b-c.d9.ab9cd tail",
      "a@b.cc7654321", "A@B.CC", "user.name+tag@sub.domain.co uk",
      "123456 1234567 12345678", "e@ma.il5555555@x.yy", "<EMAIL>@t.co",
      "a@b.cde.f", "a@b..cc", "a@b.c.d.ee", "dot end a@b.cc.", "a@b.ccc...",
      "call 555123999 or 55512 now", "9999999@9999999.com x",
      "trailing a@b.cc", "a@b.cc a@b.cc a@b.cc", "é@café.fr déjà 1234567890")
    val rand = new scala.util.Random(13L)
    val alpha = "ab1@. -_%+Z9@..@"
    val fuzz = (0 until 400).map { _ =>
      (0 until rand.nextInt(60)).map(_ => alpha(rand.nextInt(alpha.length))).mkString
    }
    val df = (edge ++ fuzz).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val expectedClean = redactLongNumbers(redactEmails(col("text")))
    val got = df.select(col("id"), col("text"),
        graft.functions.PiiRedact(col("text")).as("p"),
        emailCount(col("text")).as("e_found"),
        expectedClean.as("e_clean"),
        emailCount(expectedClean).as("e_residual"))
      .collect()
    got.foreach { r =>
      val p = r.getStruct(2)
      val id = r.getLong(0)
      assert(p.getLong(0) === r.getLong(3), s"emails_found for id $id [${r.getString(1)}]")
      assert(p.getString(2) === r.getString(4), s"clean for id $id [${r.getString(1)}]")
      assert(p.getLong(1) === r.getLong(5), s"residual for id $id [${r.getString(1)}]")
    }
  }

  test("dedup funnel: stages chain, exact eats the copies, containment the halves") {
    import org.apache.spark.sql.functions.col
    val rows = graft.qsets.DedupQueries.queries("dd_funnel")(spark, sfDir)
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 300).select(col("doc_id")).collect().map(_.getLong(0))
    val nBase = docs.length.toLong
    val nCopies = docs.count(_ < 100).toLong
    val nHalves = docs.count(_ < 50).toLong
    val (_, in1, out1, rm1) = rows(1)
    val (_, in2, out2, rm2) = rows(2)
    val (_, in3, out3, rm3) = rows(3)
    assert(in1 === nBase + nCopies + nHalves && out1 === in1 && rm1 === 0L)
    // stage inputs chain from the previous stage's output
    assert(in2 === out1 && in3 === out2)
    // every +1000000 copy exact-dups its original (synthetic texts are
    // unique among themselves, so removal is exactly the copy count)
    assert(rm2 === nCopies, s"exact stage removed $rm2, expected $nCopies")
    // every half-doc is contained in its surviving original at c = 1.0;
    // natural containment pairs may remove a few more
    assert(rm3 >= nHalves, s"containment stage removed $rm3 < $nHalves")
    assert(out3 === in1 - rm2 - rm3)
  }

  test("approx diversity profile tracks the exact sibling within 5%") {
    // the 100 TB headline row vs its exact anchor: same totals exactly,
    // every per-(source, n) distinct estimate within the pinned bound
    val exact = graft.qsets.CurationQueries.queries("tx_distinct_ngrams")(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    val approx = graft.qsets.CurationQueries.queries("tx_distinct_ngrams_approx")(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, (total, nd)) =>
      val (aTotal, aNd) = approx(k)
      assert(aTotal === total, s"cell $k: totals must be exact")
      assert(math.abs(aNd - nd) <= math.max(2.0, nd * 0.05),
        s"cell $k: approx $aNd vs exact $nd")
    }
  }
}
