package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{Hashing, SimHash64}
import graft.operators.JoinOps
import graft.similarity.Vectors
import graft.text.TextFunctions

/** Operator-level unit specs: properties the oracle can't express
  * (hash stability, simhash locality, minhash recall, LSH behavior). */
class OperatorSpec extends SparkSuite {

  import spark.implicits._

  test("canonical hashes are stable across runs (hash-pinning)") {
    val got = Seq(("h2o", 2.5)).toDF("name", "mass")
      .select(
        Hashing.canonicalHash256(col("name"), col("mass")).as("h256"),
        Hashing.md5Hash(col("name"), col("mass")).as("hmd5"))
      .collect()(0)
    // pinned literal digests of "h2o" + 0x1f + "2.5" — any change to the
    // canonicalization (separator, field order, float formatting) breaks
    // dedup keys, so these must never drift
    assert(got.getString(0) === "8daaa396fc2af60550fd1ba80c327d299ff9d27b1fe83b10a184729d8136a8f0")
    assert(got.getString(1) === "c68c1d56534fbf07636500ecf26a7e10")
  }

  test("simhash: identical text → identical hash; small edit → small hamming") {
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val edited = base.replace("lazy", "sleepy")
    val df = Seq((1L, base), (2L, base), (3L, edited)).toDF("id", "text")
      .select(col("id"), SimHash64(col("text")).as("h"))
    val hs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) === hs(2L))
    val hamming = java.lang.Long.bitCount(hs(1L) ^ hs(3L))
    assert(hamming > 0 && hamming <= 16, s"hamming was $hamming")
  }

  test("simhash codegen and interpreted paths agree") {
    val df = Seq(Tuple1("spark native expression check")).toDF("t")
    val viaExpr = df.select(SimHash64(col("t"))).collect()(0).getLong(0)
    val direct = SimHash64.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("spark native expression check"))
    assert(viaExpr === direct)
  }

  test("minhash pairs find planted duplicates with exact jaccard 1.0") {
    val docs = (0 until 20).map(i =>
        (i.toLong, s"token$i alpha beta gamma delta epsilon zeta eta theta iota"))
    val planted = docs ++ docs.map { case (id, t) => (id + 100L, t) }
    val pairs = Dedup.minhashPairs(planted.toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 2, k = 16, bands = 8, minJaccard = 0.9).collect()
    val exact = pairs.filter(_.getAs[Double]("jaccard") == 1.0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 20).forall(i => exact.contains((i.toLong, i + 100L))))
  }

  test("minhash pairs: a carried bands column is bit-identical to recomputing") {
    val docs = (0 until 30).map(i =>
      (i.toLong, s"token${i % 10} alpha beta gamma delta epsilon zeta eta theta iota"))
    val sh = docs.toDF("id", "text")
      .select(col("id"),
        graft.functions.HashedShingles(col("text"), 2).as("sh"))
    val withBands = sh.withColumn("bands",
      graft.functions.MinHashBands(col("sh"), 16, 8))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val recomputed = norm(Dedup.minhashPairsFromShingles(sh,
      k = 16, bands = 8, minJaccard = 0.5))
    val reused = norm(Dedup.minhashPairsFromShingles(withBands,
      k = 16, bands = 8, minJaccard = 0.5))
    assert(recomputed.nonEmpty, "planted 10-way dup groups must pair")
    assert(reused === recomputed,
      "bands reuse must not change a single pair or jaccard value")
    // 30 rows fit the default bucketCap, so the pairs above came from the
    // driver plan; a cap of 29 (below the row count, above the 10 distinct
    // contents any bucket can hold) forces the distributed plan, which
    // must give the same pairs and jaccard values
    for (in <- Seq(sh, withBands))
      assert(norm(Dedup.minhashPairsFromShingles(in, k = 16, bands = 8,
        minJaccard = 0.5, bucketCap = 29)) === recomputed)
  }

  test("portable md5 minhash finds planted duplicates, agrees with xxhash verify") {
    val docs = (0 until 20).map(i =>
        (i.toLong, s"token$i alpha beta gamma delta epsilon zeta eta theta iota"))
    val planted = docs ++ docs.map { case (id, t) => (id + 100L, t) }
    val pairs = Dedup.minhashPairsPortable(planted.toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 2, k = 8, bands = 4, minJaccard = 0.9).collect()
    val exact = pairs.filter(_.getAs[Double]("jaccard") == 1.0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 20).forall(i => exact.contains((i.toLong, i + 100L))))
    // verified jaccard is hash-family-independent: any pair BOTH pipelines
    // emit must carry the same exact-Jaccard value
    val prod = Dedup.minhashPairs(planted.toDF("doc_id", "text"), "doc_id", "text",
        shingleN = 2, k = 16, bands = 8, minJaccard = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    pairs.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      prod.get(key).foreach(j => assert(j === r.getAs[Double]("jaccard")))
    }
  }

  test("portable md5 simhash finds planted duplicates at hamming 0, 60-bit domain") {
    val docs = (0 until 20).map(i =>
        (i.toLong, s"token$i alpha beta gamma delta epsilon zeta eta theta iota"))
    val planted = docs ++ docs.map { case (id, t) => (id + 100L, t) }
    val pairs = Dedup.simhashPairsPortable(planted.toDF("doc_id", "text"),
      "doc_id", "text", bands = 4, maxHamming = 4L).collect()
    val zero = pairs.filter(_.getAs[Long]("hamming") == 0L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 20).forall(i => zero.contains((i.toLong, i + 100L))))
    // near-dup (1 of 200 tokens changed) stays within the default
    // hamming threshold: the vote construction is locality-sensitive,
    // not an opaque digest. Deterministic (md5): this fixture fingerprints
    // to hamming 2 with three clean bands, so the pair is a candidate.
    val base = (0 until 200).map(i => s"tok$i").mkString(" ")
    val near = Seq((0L, base), (1L, "CHANGED " + base.split(" ", 2)(1)))
    val nearPairs = Dedup.simhashPairsPortable(near.toDF("doc_id", "text"),
      "doc_id", "text", bands = 4, maxHamming = 4L).collect()
    assert(nearPairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L &&
      r.getAs[Long]("hamming") > 0L && r.getAs[Long]("hamming") <= 4L))
  }

  test("sorted intersect count ≡ size(array_intersect) on sorted-distinct arrays") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map { i =>
      def arr() = Array.fill(rnd.nextInt(60))(rnd.nextInt(40).toLong)
        .distinct.sorted.toSeq
      (i.toLong, arr(), arr())
    }
    val df = rows.toDF("id", "a", "b")
      .select(
        graft.functions.SortedIntersectCount(col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
    df.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // empty sides
    val e = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
      .select(graft.functions.SortedIntersectCount(col("a"), col("b")))
      .collect()(0).getLong(0)
    assert(e === 0L)
  }

  test("components: chains merge to min label, singletons keep their own") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("survivors: one representative per near-dup cluster") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (7L, "y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.survivors(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 7L))
    // the driverEdgeBound passthrough: forcing the distributed components
    // path (the dd_survivors_dist gate row) answers identically
    val keptDist = Dedup.survivors(docs, "doc_id", pairs, driverEdgeBound = 0L)
      .collect().map(_.getLong(0)).toSet
    assert(keptDist === kept)
  }

  test("components matches driver-side union-find on seeded random graphs") {
    // the iterative min-label propagation is the one operator where a
    // convergence bug shows up only on awkward topologies — sweep seeded
    // random graphs (long chains, stars, disconnected singleton pairs)
    // against an independent union-find
    for (seed <- 0 until 6) {
      val rng = new scala.util.Random(400L + seed)
      val nNodes = 60
      // ~0.7 edges/node keeps many multi-hop chains below the transitive
      // closure, plus a deliberate long path to stress iteration count
      val edges = ((1 to 40).map(_ => (rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong)) ++
        (0 until 10).map(i => (100L + i, 101L + i))) // an 11-node chain
        .filter { case (a, b) => a != b }
      // both physical strategies must produce identical labels: the
      // driver union-find fast path (default bound) and the distributed
      // propagation loop (bound forced to 0)
      val got = Dedup.components(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotDist = Dedup.components(edges.toDF("id_a", "id_b"),
          driverEdgeBound = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === gotDist, s"fast/distributed path mismatch at seed=$seed")
      // independent union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = nodes.map { n =>
        // canonical label = min node id in the component
        val root = find(n)
        n -> nodes.filter(find(_) == root).min
      }.toMap
      assert(got === want, s"components mismatch at seed=$seed")
    }
  }

  test("iterative closure reaches all descendants and terminates") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L)).toDF("parent", "child")
    val roots = Seq(Tuple1(1L)).toDF("root_id")
    val got = JoinOps.closure(edges, roots, "root_id", "parent", "child")
      .collect().map(r => r.getLong(1)).toSet
    assert(got === Set(2L, 3L, 4L, 5L))
  }

  test("closure terminates on cycles in diameter hops, root reachable via cycle included") {
    // 1→2→3→1 cycle plus a branch; the visited-set subtraction must
    // empty the frontier after the cycle closes, not oscillate to maxIter
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 9L)).toDF("parent", "child")
    val roots = Seq(Tuple1(1L)).toDF("root_id")
    val rows = JoinOps.closure(edges, roots, "root_id", "parent", "child",
      maxIter = 10).collect().map(r => (r.getLong(0), r.getLong(1)))
    // each pair exactly once (no result-wide distinct needed), and the
    // root appears as its own descendant because the cycle returns to it
    assert(rows.length === rows.toSet.size)
    assert(rows.map(_._2).toSet === Set(1L, 2L, 3L, 9L))
  }

  test("closure matches driver-side BFS on seeded random graphs with cycles") {
    for (seed <- 0 until 5) {
      val rng = new scala.util.Random(700L + seed)
      val n = 30
      val edges = (1 to 45).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val rootIds = Seq(0L, 7L, 13L)
      val got = JoinOps.closure(edges.toDF("parent", "child"),
          rootIds.map(Tuple1(_)).toDF("root_id"), "root_id", "parent", "child")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length === got.toSet.size, s"closure emitted duplicates at seed=$seed")
      val adj = edges.groupBy(_._1).map { case (p, es) => p -> es.map(_._2).toSet }
      val want = rootIds.flatMap { root =>
        val visited = scala.collection.mutable.Set[Long]()
        var frontier = Set(root)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- visited
          visited ++= next
          frontier = next
        }
        visited.map(root -> _)
      }.toSet
      assert(got.toSet === want, s"closure mismatch at seed=$seed")
    }
  }

  test("brute-force knn: self excluded, scores sorted, k respected") {
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val corpus = df.select(col("vec_id"), Vectors.toDouble(col("embedding")).as("c_vec"))
    val queries = df.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), Vectors.toDouble(col("embedding")).as("q_vec"))
    val knn = Vectors.bruteForceKnn(queries, corpus, k = 4).collect()
    assert(knn.length === 12)
    knn.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val scores = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(scores.toSeq === scores.sorted.reverse.toSeq)
      assert(!rows.map(_.getLong(2)).contains(q))
    }
  }

  test("approx distinct (HLL++) tracks exact vocab within relative error") {
    import graft.text.TextFunctions
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("source"), explode(TextFunctions.wsTokens(col("text"))).as("tok"))
    val exact = toks.groupBy("source").agg(countDistinct(col("tok")).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the 100 TB form of tx_vocab: fixed-size mergeable sketch at rsd 2%
    val approx = toks.groupBy("source")
      .agg(approx_count_distinct(col("tok"), 0.02).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) <= math.max(2.0, v * 0.06),
        s"source $k: approx ${approx(k)} vs exact $v")
    }
  }

  test("join-based fetchInOrder and tupleIn agree with their literal forms") {
    import graft.operators.{FilterOps, Pagination}
    val orders = Tables.load(spark, sfDir, "orders")
    val ids = Seq(42L, 7L, 999L, 123L, 5L)
    val viaLit = Pagination.fetchInOrder(orders, "o_orderkey", ids)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    // expected: the request order, with ids the table lacks dropped
    val present = orders.filter(col("o_orderkey").isin(ids: _*))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(present.nonEmpty)
    assert(viaLit === ids.filter(present))

    val li = Tables.load(spark, sfDir, "lineitem")
    val tuples = Seq(("A", "F"), ("N", "O"))
    val litCount = li.filter(FilterOps.tupleIn(
      Seq(col("l_returnflag"), col("l_linestatus")),
      tuples.map(t => Seq(t._1, t._2)))).count()
    val joinCount = FilterOps.tupleInJoin(li,
      Seq("l_returnflag", "l_linestatus"),
      tuples.toDF("l_returnflag", "l_linestatus")).count()
    assert(joinCount === litCount && litCount > 0)
  }

  test("python-json hash parity is pinned against json.dumps(sort_keys=True)") {
    val df = Seq(Tuple1(Map(
      "program" -> "psi4", "driver" -> "energy",
      "method" -> "b3lyp", "basis" -> "def2-svp"))).toDF("spec")
    val h = df.select(Hashing.pyJsonHash256(col("spec"))).collect()(0).getString(0)
    // sha256 of '{"basis": "def2-svp", "driver": "energy", "method": "b3lyp", "program": "psi4"}'
    assert(h === "b959e1827f37b9dcb2483c697d59df27dfef7edafb1048d7f73a052436d89b31")
  }

  test("cosine lsh pairs: planted duplicate vectors found at score 1.0") {
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 5 + j))))
    val planted = vecs ++ vecs.map { case (id, v) => (id + 100L, v) }
    val pairs = Vectors.cosinePairsLsh(
        planted.toDF("vec_id", "v"), "vec_id", "v",
        dim = 8, bits = 6, minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactDups = pairs.filter(p => p._3 >= 1.0).map(p => (p._1, p._2)).toSet
    assert((0 until 40).forall(i => exactDups.contains((i.toLong, i + 100L))))
  }

  test("cosine lsh pairs on float32 vectors equal those on their double widening") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 5 + j).toFloat)))
    val df = (vecs ++ vecs.map { case (id, v) => (id + 100L, v) }).toDF("vec_id", "embedding")
    def pairs(v: org.apache.spark.sql.Column) =
      Vectors.cosinePairsLsh(df.select(col("vec_id"), v.as("v")), "vec_id", "v",
          dim = 8, bits = 6, minCosine = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val asFloat = pairs(col("embedding"))
    assert(asFloat.exists(_._3 < 1.0))
    assert(asFloat === pairs(Vectors.toDouble(col("embedding"))))
  }

  test("heap top-k aggregate equals the window-rank form exactly") {
    val vecs = (0 until 80).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val corpus = df.select(col("vec_id"), Vectors.toDouble(col("embedding")).as("c_vec"))
    val queries = df.filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), Vectors.toDouble(col("embedding")).as("q_vec"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val window = rows(Vectors.bruteForceKnn(queries, corpus, k = 5))
    val heap = rows(Vectors.bruteForceKnnHeap(queries, corpus, k = 5))
    assert(heap === window)
  }

  test("ivf with nprobe = nlist equals exact brute force") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 3 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val corpus = df.select(col("vec_id"), Vectors.toDouble(col("embedding")).as("c_vec"))
    val queries = df.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), Vectors.toDouble(col("embedding")).as("q_vec"))
    def keyOf(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val brute = Vectors.bruteForceKnn(queries, corpus, k = 4).collect().map(keyOf).toSet
    val ivfAll = Vectors.ivfKnn(queries, corpus, nlist = 4, nprobe = 4, k = 4)
      .collect().map(keyOf).toSet
    assert(ivfAll === brute)
    // partial probing still returns at most k well-formed rows per query
    val ivf1 = Vectors.ivfKnn(queries, corpus, nlist = 4, nprobe = 1, k = 4).collect()
    assert(ivf1.groupBy(_.getLong(0)).values.forall(_.length <= 4))
    assert(ivf1.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("lsh multi-probe recall dominates single-probe") {
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 3 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val corpus = df.select(col("vec_id"), Vectors.toDouble(col("embedding")).as("c_vec"))
    val queries = df.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), Vectors.toDouble(col("embedding")).as("q_vec"))
    val brute = Vectors.bruteForceKnn(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def hits(multi: Boolean): Set[(Long, Long)] =
      Vectors.lshKnn(queries, corpus, dim = 8, bits = 4, k = 5, multiProbe = multi)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = hits(multi = false)
    val multi = hits(multi = true)
    assert(single.subsetOf(multi) || multi.size >= single.size)
    assert((multi intersect brute).size >= (single intersect brute).size)
    assert(multi.nonEmpty)
  }

  test("cache write-back: newer-cached wins, stale replaced, size breaks version ties") {
    import graft.records.CacheOps
    val ts = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val older = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val newer = java.sql.Timestamp.valueOf("2024-01-01 13:00:00")
    val cache = Seq(
      (1L, newer, "local-edit"),   // cached strictly newer -> cached kept
      (2L, older, "stale"),        // cached older -> update wins
      (3L, ts, "short"),           // same ts, update larger -> update wins
      (4L, ts, "much-longer-row")) // same ts, cached larger -> cached kept
      .toDF("id", "ver", "rec")
    val updates = Seq(
      (1L, ts, "server-row"),
      (2L, ts, "server-row"),
      (3L, ts, "server-longer"),
      (4L, ts, "tiny"),
      (5L, ts, "brand-new"))       // missing key -> inserted
      .toDF("id", "ver", "rec")
    val got = CacheOps.writeBack(cache, updates, "id", "ver", "rec")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got === Map(1L -> "local-edit", 2L -> "server-row",
      3L -> "server-longer", 4L -> "much-longer-row", 5L -> "brand-new"))
    val left = CacheOps.evict(
        CacheOps.writeBack(cache, updates, "id", "ver", "rec"),
        Seq(2L, 5L).toDF("id"), "id")
      .collect().map(_.getLong(0)).toSet
    assert(left === Set(1L, 3L, 4L))
  }

  test("text functions: counts and fingerprint invariance") {
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "fox brown quick the"),          // same tokens, different order
      (3L, "entirely different words here")).toDF("id", "text")
    val fp = df.select(col("id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
    val counts = df.select(TextFunctions.wsTokenCount(col("text"))).collect()
    assert(counts.forall(_.getLong(0) === 4L))
  }
}
