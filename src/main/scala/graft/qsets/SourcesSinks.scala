package graft.qsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Codec
import graft.sources.{BucketedTables, DatasetExport, JsonTables, Msgpack}

/** SURVEY §2.1 sources/sinks beyond parquet scan: S3 JSON ingest, S4
  * dataset export, F11/S6 compressed blob edge. Each query is a full
  * round trip — write through the sink, read back through the source,
  * and the oracle checks the result against the original tables, so a
  * lossy codec/serializer cannot pass. */
object SourcesSinks extends QuerySet {

  // j14's layout: orders and lineitem written bucketed by their join key
  // under the run's scratch root and registered in the catalog; the value
  // is the two table names
  private val bucketedLayout = Tables.artifact("j14_bucketed_layout")((s, dir) => {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val base = Tables.scratch(s, dir, "bucketed")
    BucketedTables.writeBucketed(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
      s"orders_b_$tag", s"$base/orders", "o_orderkey", buckets = 8)
    BucketedTables.writeBucketed(
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
      s"lineitem_b_$tag", s"$base/lineitem", "l_orderkey", buckets = 8)
    (s"orders_b_$tag", s"lineitem_b_$tag")
  })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S3 — events → JSON lines → schema'd read-back → aggregate. JSON
    // round-trips timestamps as ISO-8601 UTC and doubles via shortest
    // round-trip rendering, so the aggregate must match parquet exactly.
    "s3_json_roundtrip" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val path = Tables.scratch(s, dir, "s3_events")
      JsonTables.writeJson(events, path)
      JsonTables.readJson(s, path, events.schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts_s"))
        .orderBy(col("event_type"))
    }),

    // S8 — lineitem → ORC → filtered read-back → revenue rollup. ORC is
    // the second columnar lake format a migrating user brings; the read
    // side must push the quantity predicate into the ORC scan (min/max
    // stripe stats) exactly as parquet does, and the rollup must match
    // the parquet-sourced oracle — a lossy type mapping (timestamp,
    // decimal, double) cannot pass.
    "s8_orc_roundtrip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val path = Tables.scratch(s, dir, "s8_lineitem_orc")
      li.write.mode("overwrite").orc(path)
      s.read.orc(path)
        .filter(col("l_quantity") >= 25.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(revenue(col("l_extendedprice"), col("l_discount")))
            .cast("double").as("rev"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"))
        .orderBy(col("l_returnflag"))
    }),

    // S9 — events → CSV (quoted, explicit microsecond timestamp format,
    // \N null sentinel) → schema'd read-back → rollup. The props column
    // carries JSON bodies full of commas/quotes/colons, so the quoting
    // and escape path is load-bearing: COUNT(DISTINCT props) must
    // survive the round trip byte-exactly, and timestamps keep all six
    // fractional digits (a truncating format would shift max_ts_s).
    "s9_csv_roundtrip" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val path = Tables.scratch(s, dir, "s9_events_csv")
      val opts = Map(
        "header" -> "true",
        "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS",
        "nullValue" -> "\\N")
      events.write.mode("overwrite").options(opts).csv(path)
      // multiLine: props is opaque JSON — if a value ever carries an
      // embedded newline the quoted write is still valid CSV, but a
      // line-framed read would split the row; parse quoted records
      // across line boundaries so the byte-exact claim holds for ANY
      // props body, not just the single-line fixtures
      s.read.schema(events.schema).options(opts)
        .option("multiLine", "true").csv(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"),
          countDistinct(col("props")).as("n_props"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts_s"))
        .orderBy(col("event_type"))
    }),

    // S10 — schema evolution on the lake: v1 files carry three columns,
    // v2 files add a derived score; one mergeSchema read serves the
    // union with NULLs where v1 predates the column — the
    // generations-of-writers reality (the type-level cousin of the
    // events.ts physical-type normalization in Tables.load). The
    // aggregate proves both the unified schema and the NULL semantics:
    // v1-row count and v2-only score sum must match the oracle exactly.
    "s10_schema_evolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = Tables.scratch(s, dir, "s10_docs_evo")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$path/v=1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("n_chars") * 2).as("score"))
        .write.mode("overwrite").parquet(s"$path/v=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("score").isNull, 1L).otherwise(0L)).as("n_v1"),
          sum(coalesce(col("score"), lit(0L))).as("score_sum"))
        .orderBy(col("source"))
    }),

    // S4 — records exported partitioned by record_type, read back with a
    // type filter (pruned to one partition directory at listing time).
    "s4_dataset_export" -> ((s, dir) => {
      val path = Tables.scratch(s, dir, "s4_records")
      DatasetExport.exportRecords(RecordsShaped.records(s, dir), path)
      DatasetExport.readRecords(s, path)
        .filter(col("record_type") === "type1")
        .groupBy(col("record_type"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("record_type"), col("status"))
    }),

    // S3 (msgpack half) — documents → per-row msgpack bodies → typed
    // decode through the declared schema. Exercises the str8/16/32 and
    // int families; output must be identical to the source table, so a
    // lossy or misframed codec cannot pass.
    "s3_msgpack_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val packed = docs.select(
        Msgpack.packStruct(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("body"))
      Msgpack.readMsgpack(packed, col("body"),
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .orderBy(col("doc_id"))
    }),

    // S3 (msgpack arrays) — embeddings through the flattened-numpy-array
    // path (`serialization.py:73-84`): float32 vectors ride the wire as
    // float64 msgpack arrays (exact widening); first/last elements and
    // length are compared exactly against the parquet source.
    "s3_msgpack_arrays" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val packed = emb.select(
        Msgpack.packStruct(struct(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding").cast("array<double>").as("embedding"))).as("body"))
      Msgpack.readMsgpack(packed, col("body"),
        "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>")
        .select(col("vec_id"), col("label"),
          size(col("embedding")).cast("long").as("n_dims"),
          element_at(col("embedding"), 1).as("first_v"),
          element_at(col("embedding"), -1).as("last_v"))
        .orderBy(col("vec_id"))
    }),

    // S7 — external file store, the query-engine surface: the reference
    // stores S3-backed attachments (`qcfractal/components/external_files/`)
    // keyed by content; what the ENGINE owns is the content-addressed
    // manifest — sha256 → sharded object path, logical-vs-physical bytes
    // (dedup savings), per-shard object accounting. Streamed upload/
    // download is client I/O, not query semantics, and stays out of
    // scope. The doubled batch plants guaranteed duplicate content so
    // physical < logical provably.
    "s7_file_manifest" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val files = d.union(d.withColumn("doc_id", col("doc_id") + 1000000L))
        .select(col("doc_id").as("record_id"),
          sha2(col("text"), 256).as("sha256"),
          // octet_length: byte accounting must count BYTES, not chars
          octet_length(col("text")).cast("long").as("size_bytes"))
        .withColumn("shard", substring(col("sha256"), 1, 2))
      // one row per stored object (content-addressed: same sha = one blob)
      val objects = files.groupBy(col("shard"), col("sha256"))
        .agg(first(col("size_bytes")).as("object_bytes"),
          count(lit(1)).as("n_refs"))
      objects.groupBy(col("shard"))
        .agg(sum(col("n_refs")).as("n_files"),
          count(lit(1)).as("n_objects"),
          sum(col("object_bytes") * col("n_refs")).as("logical_bytes"),
          sum(col("object_bytes")).as("physical_bytes"))
        .orderBy(col("shard"))
    }),

    // S7 byte round-trip: the content-addressed store's READ side as a
    // real Spark source. Distinct document contents write as sharded
    // sha256-named blob files (executor-side, content-addressed: one
    // object per distinct sha, idempotent overwrite), then read back
    // through Spark's `binaryFile` source — the idiomatic external-file
    // scan, parallelized per file with the same (path, length, content)
    // schema an object-store read gives. The output re-hashes the read
    // content, so a single corrupted/truncated byte anywhere in the
    // store breaks the oracle hash match: this IS the streamed byte
    // download path, verified end-to-end.
    // LOCAL-MODE NOTE: foreachPartition writes via java.nio to a
    // driver-relative path, correct only while executors share the
    // driver filesystem (local[*]). On a cluster the store path must be
    // shared storage reached through Hadoop FileSystem
    // (FileSystem.get(new Path(store).toUri, hadoopConf)) — the
    // binaryFile READ side already ports as-is.
    "s7_external_read" -> ((s, dir) => {
      val store = Tables.scratch(s, dir, "s7store") + "/v1"
      val objects = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(sha2(col("text"), 256).as("sha"), col("text"))
        .dropDuplicates("sha")
      objects.foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val sha = r.getString(0)
          val d = java.nio.file.Paths.get(store, sha.substring(0, 2))
          java.nio.file.Files.createDirectories(d)
          java.nio.file.Files.write(d.resolve(sha + ".bin"),
            r.getString(1).getBytes("UTF-8"))
        }
      }
      // the explicit file list, not the glob: a glob as the one path
      // makes the read probe it for a streaming-sink metadata log, which
      // logs a FileNotFoundException trace; real files pass that probe
      val pattern = new org.apache.hadoop.fs.Path(s"$store/*/*.bin")
      val blobs = pattern.getFileSystem(s.sparkContext.hadoopConfiguration)
        .globStatus(pattern).map(_.getPath.toString)
      s.read.format("binaryFile").load(blobs.toIndexedSeq: _*)
        .select(
          regexp_extract(col("path"), "([0-9a-f]{64})\\.bin$", 1).as("sha256"),
          col("length").cast("long").as("size_bytes"),
          sha2(col("content"), 256).as("sha256_readback"))
        .orderBy(col("sha256"))
    }),

    // Bucketed co-located join: orders and lineitem each written bucketed
    // by their join key (same bucket count, the bucketedLayout artifact,
    // like any production layout), then joined straight off the layout —
    // the join runs WITHOUT an exchange on either side (pinned in
    // PlanSpec); only the tiny final rollup shuffles. The merge hint
    // keeps the sort-merge path even when one side would broadcast at toy
    // scale, since the exchange-free property is the thing pinned.
    "j14_bucketed_join" -> ((s, dir) => {
      val (orders, lineitem) = bucketedLayout(s, dir)
      val o = s.table(orders)
      val l = s.table(lineitem)
      o.join(l.hint("merge"), o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // F11/S6 — compress text into a zstd blob column, decompress at the
    // edge; output must be byte-identical to the source documents.
    "f11_codec_roundtrip" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Codec.zstdCompress(col("text")).as("blob"))
        .select(col("doc_id"),
          Codec.zstdDecompressToString(col("blob")).as("text"),
          length(col("blob")).cast("long").as("blob_bytes_nonzero"))
        .select(col("doc_id"), col("text"),
          (col("blob_bytes_nonzero") > 0).as("compressed"))
        .orderBy(col("doc_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "s3_json_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts_s
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "s10_schema_evolution" ->
      """SELECT source, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
        |  CAST(SUM(CASE WHEN doc_id % 2 <> 0 THEN n_chars * 2 ELSE 0 END) AS BIGINT) AS score_sum
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "s8_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS rev,
        |  strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship
        |FROM lineitem
        |WHERE l_quantity >= 25.0
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "s9_csv_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(COUNT(DISTINCT props) AS BIGINT) AS n_props,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts_s
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "s3_msgpack_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "s3_msgpack_arrays" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  CAST(len(embedding) AS BIGINT) AS n_dims,
        |  CAST(embedding[1] AS DOUBLE) AS first_v,
        |  CAST(embedding[-1] AS DOUBLE) AS last_v
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,

    "s4_dataset_export" ->
      """SELECT 'type' || CAST(o_orderkey % 3 AS VARCHAR) AS record_type,
        |  CASE o_orderstatus WHEN 'F' THEN 'complete'
        |    WHEN 'P' THEN 'running' ELSE 'waiting' END AS status,
        |  COUNT(*) AS n
        |FROM orders
        |WHERE o_orderkey % 3 = 1
        |GROUP BY 1, 2
        |ORDER BY record_type, status""".stripMargin,

    // One row per distinct content object; readback sha must equal the
    // object name (byte-exact storage round trip).
    "s7_external_read" ->
      """SELECT DISTINCT sha256(text) AS sha256,
        |  CAST(strlen(text) AS BIGINT) AS size_bytes,
        |  sha256(text) AS sha256_readback
        |FROM documents WHERE doc_id < 200
        |ORDER BY sha256""".stripMargin,

    "s7_file_manifest" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |files AS (
        |  SELECT sha256(text) AS sha, CAST(strlen(text) AS BIGINT) AS size_bytes
        |  FROM batch),
        |objects AS (
        |  SELECT substr(sha, 1, 2) AS shard, sha,
        |    MIN(size_bytes) AS object_bytes, COUNT(*) AS n_refs
        |  FROM files GROUP BY 1, 2)
        |SELECT shard,
        |  CAST(SUM(n_refs) AS BIGINT) AS n_files,
        |  COUNT(*) AS n_objects,
        |  CAST(SUM(object_bytes * n_refs) AS BIGINT) AS logical_bytes,
        |  CAST(SUM(object_bytes) AS BIGINT) AS physical_bytes
        |FROM objects
        |GROUP BY shard
        |ORDER BY shard""".stripMargin,

    "j14_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "f11_codec_roundtrip" ->
      """SELECT doc_id, text, TRUE AS compressed
        |FROM documents
        |ORDER BY doc_id""".stripMargin
  )
}
