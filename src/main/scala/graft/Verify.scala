package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The approximate queries (minhash/simhash/LSH/IVF families) have
  * no SQL oracle — their candidate sets depend on engine-specific hashes —
  * so alongside the rows-only dump this also MEASURES their quality
  * against ground truth the data plants (exact +1000000-id copies; the
  * brute-force knn result) and records it as `recall.json` in the output
  * dir plus a tracked `verify_recall.json` at the repo root (same
  * persistence pattern as bench_full.json). Quality drift in the
  * approximate families is thereby caught by the per-round artifact, not
  * only by unit-test floors. */
object Verify {

  /** Planted-copy recall over a pair list: fraction of ids with a planted
    * +offset copy whose copy lands in the same connected component of the
    * pair graph. Direct-pair checking would under-count: exact-dup
    * families collapse to a representative before banding, so (b, b')
    * may be linked only through the rep. The components are the driver
    * union-find of [[graft.dedup.Dedup.clusters]] — fine here, the pair
    * lists are bounded query outputs (thousands), not corpus-scale data. */
  private def plantedPairRecall(pairs: Array[(Long, Long)], baseIds: Array[Long],
                                offset: Long): Double = {
    if (baseIds.isEmpty) return 1.0
    val cluster = graft.dedup.Dedup.clusters(pairs.toSeq).toMap
    val found = baseIds.count(d =>
      cluster.get(d).exists(c => cluster.get(d + offset).contains(c)))
    found.toDouble / baseIds.length
  }
  /** The oracle map as one JSON object — what the driver's DuckDB gate
    * loads. Shared with `OracleTypeSpec`, which sweeps the same bytes
    * through DuckDB type inference at test time. JSON string escape
    * covers backslash, quote, and ALL control chars (<0x20) — a tab or
    * CR in builder-authored SQL would otherwise make the driver's
    * json.load fail and silently zero the round's correctness. */
  def oracleJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // queries are independent — submit them from a small thread pool so
    // short jobs fill the scheduler while long ones (streaming, LSH) run;
    // each writes to its own directory, so there is no shared state
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump — local iteration aid;
    // the driver never sets it. SPARK_GRAFT_RECALL_MODE=only is the
    // SCALE-REHEARSAL recall pass: run just the queries the recall
    // measurement consumes (point estimates, no sweep curves — the
    // sweeps re-score the corpus per point, which at 100× data is a
    // second bench) and write the tracked artifact under
    // SPARK_GRAFT_RECALL_OUT (e.g. verify_recall_sf10.json) so the
    // per-family recalls at the rehearsal scale sit next to
    // bench_sf10.json instead of living in ad-hoc round notes.
    val recallOnly = sys.env.get("SPARK_GRAFT_RECALL_MODE").contains("only")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .orElse(if (recallOnly) Some(recallQueries) else None)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    if (recallOnly) measureRecall(spark, sfDir, outDir, withCurves = false)
    else if (only.isEmpty) measureRecall(spark, sfDir, outDir)
    spark.stop()
  }

  /** The queries [[measureRecall]] reads back — the working set of the
    * recall-only scale pass. */
  private val recallQueries: Set[String] = Set(
    "dd_minhash", "dd_minhash_pipeline", "dd_simhash", "dd_survivors",
    "dd_incremental", "dd_bucketed_incremental", "dd_embcos_lsh",
    "dd_embcos_incremental", "dd_minhash_capped",
    "sim_knn_brute", "sim_knn_lsh", "sim_knn_ivf", "sim_knn_pq",
    "sim_knn_ivfpq", "sim_knn_ivfpq_r", "sim_knn_ivfsq8",
    "tx_distinct_ngrams", "tx_distinct_ngrams_approx",
    "tx_ppl_buckets", "tx_ppl_buckets_approx")

  /** Measured quality of the approximate (no-oracle) queries, recorded as
    * a per-round artifact. Reads back the parquet this run just wrote —
    * the measurement covers the exact bytes the driver checks. */
  private def measureRecall(spark: SparkSession, sfDir: String, outDir: String,
                            withCurves: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    val OFF = 1000000L
    def out(name: String) = spark.read.parquet(s"$outDir/$name")
    def pairs(name: String): Array[(Long, Long)] =
      out(name).select(col("id_a"), col("id_b")).limit(2000000).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    def ids(table: String, idCol: String): Array[Long] =
      Tables.load(spark, sfDir, table).select(col(idCol)).collect()
        .map(_.getLong(0))
    // copy-drop rate for survivor-shaped outputs: planted copies (id >=
    // OFF) must lose to their lower-id originals, so any surviving copy is
    // a missed duplicate
    def copyDrop(name: String, nBase: Long): Double = {
      if (nBase == 0) return 1.0
      val df = out(name)
      val surviving = df.filter(col(df.columns.head) >= OFF).count()
      1.0 - surviving.toDouble / nBase
    }
    // ANN recall@k: overlap with the brute-force (q_id, vec_id) truth set
    // (read and collected once, shared by both ANN checks)
    lazy val knnTruth = out("sim_knn_brute").select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAtK(name: String): Double = {
      if (knnTruth.isEmpty) return 1.0
      val got = out(name).select(col("q_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      knnTruth.intersect(got).size.toDouble / knnTruth.size
    }
    val docIds = ids("documents", "doc_id")
    val vecIds = ids("embeddings", "vec_id")
    // HLL++ diversity profile vs the exact-DISTINCT sibling: recorded as
    // 1 − max relative error across the (source, n) cells, so the same
    // floor machinery gates it (floor 0.95 = every cell within 5%;
    // rsd is configured at 1%)
    def approxDistinctAccuracy(): Double = {
      val exact = out("tx_distinct_ngrams")
        .select(col("source"), col("n"), col("n_distinct")).collect()
        .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
      val approx = out("tx_distinct_ngrams_approx")
        .select(col("source"), col("n"), col("n_distinct_approx")).collect()
        .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
      if (exact.isEmpty || exact.keySet != approx.keySet) return 0.0
      val maxRelErr = exact.map { case (k, e) =>
        math.abs(approx(k) - e).toDouble / math.max(e, 1L) }.max
      1.0 - maxRelErr
    }
    // sampled-cutoff terciles vs the exact NTILE split: fraction of docs
    // assigned the same bucket — the approximation-quality number the
    // sampled variant trades the per-source sort for (boundary docs
    // flip; the bulk must not)
    def pplBucketAgreement(): Double = {
      val exact = out("tx_ppl_buckets")
        .select(col("doc_id"), col("bucket")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val approx = out("tx_ppl_buckets_approx")
        .select(col("doc_id"), col("bucket")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val common = exact.keySet.intersect(approx.keySet)
      if (common.isEmpty) return 0.0
      common.count(k => exact(k) == approx(k)).toDouble / common.size
    }
    // dd_minhash_capped: the planted boilerplate family (doc_id < 500,
    // doc_id % 10 < 3 — must mirror the query's predicate) is one
    // homogeneous near-dup cluster processed under ACTIVE bucket capping;
    // exactly one member should survive. Extra survivors = fragmentation
    // under the cap, the quantity this row exists to measure.
    def cappedDedupRate(): Double = {
      val boiler = docIds.filter(d => d < 500 && d % 10 < 3)
      if (boiler.length <= 1) return 1.0
      val surv = out("dd_minhash_capped").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      val surviving = boiler.count(surv.contains)
      1.0 - (surviving - 1).toDouble / (boiler.length - 1)
    }
    // measurement → documented floor (unit suites pin the same floors);
    // planted exact copies must ALWAYS be recovered (floor 1.0), the
    // probabilistic families carry their tested floors
    val checks: Seq[(String, () => Double, Double)] = Seq(
      ("dd_minhash", () => plantedPairRecall(pairs("dd_minhash"), docIds, OFF), 1.0),
      ("dd_minhash_pipeline",
        () => plantedPairRecall(pairs("dd_minhash_pipeline"), docIds, OFF), 1.0),
      ("dd_simhash", () => plantedPairRecall(pairs("dd_simhash"), docIds, OFF), 1.0),
      ("dd_survivors", () => copyDrop("dd_survivors", docIds.length.toLong), 1.0),
      ("dd_incremental", () => copyDrop("dd_incremental", docIds.length.toLong), 1.0),
      ("dd_bucketed_incremental",
        () => copyDrop("dd_bucketed_incremental", docIds.length.toLong), 1.0),
      ("dd_embcos_lsh", () => plantedPairRecall(pairs("dd_embcos_lsh"), vecIds, OFF), 0.95),
      ("dd_embcos_incremental",
        () => copyDrop("dd_embcos_incremental", vecIds.length.toLong), 0.95),
      ("dd_minhash_capped", () => cappedDedupRate(), 0.95),
      // operating points promoted along the recorded recall-cost curves
      // (round 14): LSH 8 tables ≈ 0.84 recall at ~300 candidates/query,
      // IVF nprobe 8 ≈ 0.90 at ~294 — floors track the shipped points
      ("sim_knn_lsh", () => recallAtK("sim_knn_lsh"), 0.80),
      ("sim_knn_ivf", () => recallAtK("sim_knn_ivf"), 0.85),
      // PQ and IVF-PQ are oracle-anchored (hash-exact), but their RECALL
      // vs brute is a quality property of the quantizers, measured like
      // the others (IVF-PQ compounds both stages' losses — the floor
      // reflects the cell-pruning stage dominating)
      ("sim_knn_pq", () => recallAtK("sim_knn_pq"), 0.85),
      // raw-pivot ablation sibling of the headline residual row below:
      // same (m, ks, nprobe, shortlist), untrained cells — the recall
      // delta between the two rows IS the measured value of training
      // the coarse quantizer + encoding residuals
      ("sim_knn_ivfpq", () => recallAtK("sim_knn_ivfpq"), 0.60),
      // the HEADLINE composed billion-vector index (trained cells +
      // residual codes — what a production IVFPQ deployment runs);
      // floor at 0.75 tracks its measured 0.80, above the plain-IVF
      // floor, so a regression in either the trained fit or the
      // residual encode trips the gate rather than hiding under a
      // loose ablation-level floor
      ("sim_knn_ivfpq_r", () => recallAtK("sim_knn_ivfpq_r"), 0.75),
      // IVF-SQ8: same untrained md5-pivot cells as sim_knn_ivfpq (cell
      // pruning dominates the loss), much lower code distortion than PQ
      // — floored at the ablation level; the measured value should sit
      // at-or-above sim_knn_ivfpq's
      ("sim_knn_ivfsq8", () => recallAtK("sim_knn_ivfsq8"), 0.60),
      ("tx_distinct_ngrams_approx", () => approxDistinctAccuracy(), 0.95),
      // measured 0.77 at sf0.01 with 4-10-doc per-source samples; the
      // floor guards against a broken draw/cutoff, not sampling noise
      ("tx_ppl_buckets_approx", () => pplBucketAgreement(), 0.65))
    val results = checks.map { case (name, f, floor) =>
      val (value, err) =
        try (f(), None)
        catch { case e: Throwable => (-1.0, Some(e.getMessage)) }
      val ok = err.isEmpty && value >= floor
      if (!ok) System.err.println(
        s"[verify] RECALL BELOW FLOOR: $name = $value (floor $floor)${err.fold("")(" err=" + _)}")
      String.format(java.util.Locale.ROOT,
        "  \"%s\": {\"recall\": %.4f, \"floor\": %.2f, \"pass\": %s}",
        name, Double.box(value), Double.box(floor), Boolean.box(ok))
    }
    // Recall-vs-cost tradeoff curves: a real user tunes the ANN families
    // on a curve, not a point — sweep `tables` (and one bits variant) for
    // LSH and `nprobe` for IVF, recording recall@5 against the brute
    // truth plus the MEASURED mean deduped candidates per query (the
    // cost axis: what fraction of the corpus each query actually scores).
    def curveRecall(df: org.apache.spark.sql.DataFrame): Double = {
      if (knnTruth.isEmpty) return 1.0
      val got = df.select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      knnTruth.intersect(got).size.toDouble / knnTruth.size
    }
    def fmtPoint(fields: (String, String)*): String =
      fields.map { case (k, v) => "\"" + k + "\": " + v }
        .mkString("      {", ", ", "}")
    val lshCurve = (if (withCurves) Seq((2, 6), (4, 6), (6, 6), (8, 6), (6, 8)) else Nil)
      .map { case (t, b) =>
      val (knn, cand) = graft.qsets.SimilarityQueries.lshSweepPoint(spark, sfDir, t, b)
      fmtPoint("tables" -> t.toString, "bits" -> b.toString,
        "recall" -> String.format(java.util.Locale.ROOT, "%.4f", Double.box(curveRecall(knn))),
        "avg_candidates" -> String.format(java.util.Locale.ROOT, "%.1f", Double.box(cand)))
    }
    val ivfCurve = (if (withCurves) Seq(2, 4, 6, 8, 12) else Nil).map { np =>
      val (knn, cand) = graft.qsets.SimilarityQueries.ivfSweepPoint(spark, sfDir, np)
      fmtPoint("nprobe" -> np.toString, "nlist" -> "16",
        "recall" -> String.format(java.util.Locale.ROOT, "%.4f", Double.box(curveRecall(knn))),
        "avg_candidates" -> String.format(java.util.Locale.ROOT, "%.1f", Double.box(cand)))
    }
    // PQ: recall vs shortlist (the re-ranked candidate count IS the cost
    // axis — ADC scores the whole corpus from codes regardless)
    val pqCurve = (if (withCurves) Seq(32, 64, 128, 256) else Nil).map { sl =>
      val knn = graft.qsets.SimilarityQueries.pqSweepPoint(spark, sfDir, sl)
      fmtPoint("shortlist" -> sl.toString, "m" -> "16", "ks" -> "32",
        "recall" -> String.format(java.util.Locale.ROOT, "%.4f", Double.box(curveRecall(knn))))
    }
    // IVF-PQ: raw-pivot vs trained-residual at the same nprobe — the
    // curve isolates what training the cells + encoding residuals buys
    // at each fixed probe cost
    val ivfpqCurve = (if (withCurves) Seq(4, 8, 12) else Nil).map { np =>
      val (raw, res) = graft.qsets.SimilarityQueries.ivfpqSweepPoint(spark, sfDir, np)
      fmtPoint("nprobe" -> np.toString, "nlist" -> "16",
        "recall_raw" -> String.format(java.util.Locale.ROOT, "%.4f", Double.box(curveRecall(raw))),
        "recall_residual" -> String.format(java.util.Locale.ROOT, "%.4f", Double.box(curveRecall(res))))
    }
    val curveJson =
      "  \"curves\": {\n    \"sim_knn_lsh\": [\n" + lshCurve.mkString(",\n") +
        "\n    ],\n    \"sim_knn_ivf\": [\n" + ivfCurve.mkString(",\n") +
        "\n    ],\n    \"sim_knn_pq\": [\n" + pqCurve.mkString(",\n") +
        "\n    ],\n    \"sim_knn_ivfpq\": [\n" + ivfpqCurve.mkString(",\n") + "\n    ]\n  }"
    val json = ((if (withCurves) results :+ curveJson else results))
      .mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(s"$outDir/recall.json"), json)
    // tracked copy at the repo root, same rationale as bench_full.json:
    // the driver records only a bounded stdout tail, but the repo file is
    // part of the round's audit trail. The scale pass redirects it
    // (SPARK_GRAFT_RECALL_OUT=verify_recall_sf10.json) so sf0.1 and sf10
    // recalls are separate tracked artifacts.
    // a recall-only run is a SCALE-REHEARSAL pass: without an explicit
    // SPARK_GRAFT_RECALL_OUT it must never clobber the tracked sf0.01
    // gate artifact with rehearsal-scale values, so the default root
    // name is scale-distinct in that mode
    val rootName = sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT",
      if (withCurves) "verify_recall.json" else "verify_recall_rehearsal.json")
    try Files.writeString(Paths.get(rootName), json)
    catch { case e: Throwable =>
      System.err.println(s"[verify] could not write $rootName: ${e.getMessage}")
    }
  }
}
