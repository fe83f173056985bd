package graft.qsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.AggOps
import graft.records.{CacheOps, DatasetOps, RecordOps, RecordQueries, RecordQueryFilters, ServiceOps, TaskOps}

/** Records-model operators driven through records/tasks/managers frames
  * derived deterministically from the TPC-H-ish tables, so every one is
  * oracle-checkable:
  *
  *  - A5 record_type × status counts (`qcfractal/qcfractal/components/
  *    serverinfo/socket.py:682-689`)
  *  - A11 overall status rollup (`components/dataset_socket.py:157-186`)
  *  - J6 dataset-membership filter through the real query compiler
  *    (`components/record_socket.py:316-322`)
  *  - X4 waiting-reason diagnostics (`components/record_socket.py:
  *    1574-1628`)
  *  - ST2 service-iteration decisions (`components/services/socket.py:
  *    136-285`)
  *
  * Derivation: orders → records (status O/P/F → waiting/running/complete),
  * lineitem → dataset items / service dependencies, supplier → managers.
  */
object RecordsShaped extends QuerySet {

  /** orders as the base_record table (shared by SourcesSinks S4). */
  private[qsets] def records(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey").as("record_id"),
      concat(lit("type"), col("o_orderkey") % 3).as("record_type"),
      when(col("o_orderstatus") === "F", "complete")
        .when(col("o_orderstatus") === "P", "running")
        .otherwise("waiting").as("status"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A5 — record_type × status count matrix (raw-SQL rollup shape).
    "a5_type_status_matrix" -> ((s, dir) => {
      AggOps.statusMatrix(records(s, dir), Seq("record_type", "status"))
        .orderBy(col("record_type"), col("status"))
    }),

    // A11 — per-spec status matrix summed across specifications.
    "a11_status_rollup" -> ((s, dir) => {
      val items = t(s, dir, "lineitem").select(
        col("l_orderkey").as("record_id"),
        col("l_linestatus").as("specification_name"))
      DatasetOps.statusRollup(items, records(s, dir))
        .orderBy(col("status"))
    }),

    // J6 — dataset-membership semi-join through the record query compiler
    // (conditional join construction + keyset page, §3.1 lifecycle).
    "j6_dataset_membership" -> ((s, dir) => {
      val items = t(s, dir, "lineitem").select(
        (col("l_suppkey") % 5).as("dataset_id"),
        col("l_orderkey").as("record_id"))
      RecordQueries.query(records(s, dir),
        RecordQueryFilters(datasetId = Seq(2L), limit = Some(100)),
        datasetItems = Some(items))
    }),

    // O2/O3 — the client batch iterator walked end to end: keyset pages
    // of 100 threaded by cursor (descending, like every reference query
    // socket), total limit CLAMPED server-side from the requested 1000 to
    // 450 (O3), pages tagged so the oracle checks page boundaries, page
    // count, clamp arithmetic, and the cursor walk in one row set. Each
    // page is one bounded driver fetch — the documented O2 contract.
    "o2_batch_pages" -> ((s, dir) => {
      import graft.operators.Pagination
      val base = t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_custkey"))
      val limit = Pagination.clampLimit(maxLimit = 450, requested = Some(1000))
      val pages = Pagination.batchIterator(base, "o_orderkey",
        pageSize = 100, totalLimit = Some(limit)).toSeq
      val rows = pages.zipWithIndex.flatMap { case (p, i) =>
        p.map(r => (i.toLong, r.getLong(0), r.getLong(1)))
      }
      import s.implicits._
      rows.toDF("page", "o_orderkey", "o_custkey")
        .orderBy(col("o_orderkey"))
    }),

    // P1 — include/exclude projection with wildcards, driven through the
    // full hydrate path (projection resolution + S1 in-order fetch): `*`
    // keeps the default column set plus the named extra, exclude then
    // removes record_type, and the pk always survives. Oracle checks the
    // exact surviving column set AND the request order.
    "p1_projection" -> ((s, dir) => {
      val ids = Seq(42L, 7L, 1999L, 3L, 500L)
      val recs = records(s, dir)
        .withColumn("extra_note", concat(lit("n"), col("record_id") % 7))
      RecordQueries.hydrate(recs, ids,
          include = Seq("*", "extra_note"), exclude = Seq("record_type"),
          defaultCols = Seq("record_id", "record_type", "status"))
        .withColumn("pos", array_position(array(ids.map(lit): _*), col("record_id")))
        .select(col("pos"), col("record_id"), col("status"), col("extra_note"))
    }),

    // X4 — per-task claimability vs the active manager fleet.
    "x4_waiting_reasons" -> ((s, dir) => {
      val tasks = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("task_id"),
          lit(true).as("available"),
          concat(lit("tag"), col("o_custkey") % 3).as("compute_tag"),
          array(lit("prog0"), concat(lit("prog"), col("o_orderkey") % 4))
            .as("required_programs"))
      val managers = t(s, dir, "supplier").filter(col("s_suppkey") <= 40)
        .select(col("s_name").as("name"),
          when(col("s_suppkey") % 3 === 0, "inactive").otherwise("active").as("status"),
          when(col("s_suppkey") % 5 === 0, array(lit("*")))
            .otherwise(array(concat(lit("tag"), col("s_suppkey") % 3))).as("compute_tags"),
          array(lit("prog0"), concat(lit("prog"), col("s_suppkey") % 4)).as("programs"))
      TaskOps.waitingReasons(tasks, managers).orderBy(col("task_id"))
    }),

    // W1/W2 — per-tag claim loop flattened to one top-k: earlier manager
    // tags win, then priority desc, sort_date asc, id asc.
    "w2_tag_claim" -> ((s, dir) => {
      val tasks = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_orderkey") < 5000)
        .select(col("o_orderkey").as("task_id"),
          lit(true).as("available"),
          concat(lit("tag"), col("o_custkey") % 3).as("compute_tag"),
          (col("o_custkey") % 5).cast("int").as("compute_priority"),
          col("o_orderdate").as("sort_date"),
          array(lit("prog0"), concat(lit("prog"), col("o_orderkey") % 4))
            .as("required_programs"))
      TaskOps.claimTagOrdered(tasks,
          managerPrograms = Seq("prog0", "prog1", "prog2", "prog3"),
          managerTags = Seq("tag2", "tag0"), limit = 40)
        .select(col("task_id"), col("compute_tag"), col("tag_rank"),
          col("compute_priority"),
          date_format(col("sort_date"), "yyyy-MM-dd").as("sort_date_s"))
    }),

    // W1 concurrency redesign — SKIP LOCKED becomes deterministic
    // assignment: the claimed top-k is round-robined over m claimers;
    // per-claimer counts prove the partition is balanced and total.
    "w3_claim_assign" -> ((s, dir) => {
      val tasks = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_orderkey") < 5000)
        .select(col("o_orderkey").as("task_id"),
          (col("o_custkey") % 5).cast("int").as("compute_priority"),
          col("o_orderdate").as("sort_date"))
      val topk = graft.operators.TopK.orderedClaim(tasks,
        col("compute_priority"), col("sort_date"), col("task_id"), 100)
      graft.operators.TopK.assignRoundRobin(topk, col("task_id"), 4)
        .groupBy(col("__claimer").as("claimer"))
        .agg(count(lit(1)).as("n"), min(col("task_id")).as("min_task"))
        .orderBy(col("claimer"))
    }),

    // J12 — "join outside the relationship": filter tasks by record
    // predicates without loading record payloads (left-semi join, only
    // task columns survive).
    "j12_manual_join" -> ((s, dir) => {
      val tasks = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("task_id"),
          concat(lit("tag"), col("o_custkey") % 3).as("compute_tag"),
          col("o_orderkey").as("record_id"))
      val wanted = records(s, dir)
        .filter(col("status") === "waiting" && col("record_type") === "type1")
        .select(col("record_id"))
      tasks.join(wanted, Seq("record_id"), "left_semi")
        .select(col("task_id"), col("compute_tag"))
        .orderBy(col("task_id"))
    }),

    // P10 — status-reachability guard: only records in a cancellable
    // status survive the revert/cancel filter.
    "p10_status_guard" -> ((s, dir) => {
      TaskOps.cancellable(records(s, dir))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    // S5 — cache refresh: current cached rows are kept verbatim (value
    // marker -1 proves no refetch), stale and missing keys take the
    // server row.
    "s5_cache_refresh" -> ((s, dir) => {
      val server = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val cache = server.filter(col("event_id") % 2 === 0)
        .select(col("event_id"),
          when(col("user_id") < 50, col("ts") - expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts")).as("ts"),
          col("user_id"), lit(-1.0).as("value"))
      CacheOps.refresh(cache, server, "event_id", "ts")
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // S5 depth — cache write-back + eviction: locally-newer rows survive
    // the write-back (user_id%7==0 planted +1h ahead), stale rows take
    // the server version, same-version rows resolve by payload size with
    // incoming winning ties (`cache.py:159-188`), then ids %10==7 evict.
    "s5_cache_writeback" -> ((s, dir) => {
      val server = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("user_id"), col("event_type").as("status"), col("props").as("record"))
      val cache = server
        .withColumn("ts",
          when(col("user_id") % 7 === 0, col("ts") + expr("INTERVAL 1 HOUR"))
            .when(col("user_id") < 50, col("ts") - expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts")))
        .withColumn("record", substring(col("record"), 1, 10))
      val merged = CacheOps.writeBack(cache, server, "event_id", "ts", "record")
      CacheOps.evict(merged,
          server.filter(col("event_id") % 10 === 7).select(col("event_id")),
          "event_id")
        .select(col("event_id"), col("user_id"), col("status"), col("record"))
        .orderBy(col("event_id"))
    }),

    // S2 — polymorphic scan: per-type subtype frames (each with its own
    // extra column) unioned into the wide table; counts of the non-null
    // subtype columns prove the union aligned columns correctly.
    "s2_polymorphic_scan" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def typed(m: Int, extra: String): DataFrame =
        o.filter(col("o_orderkey") % 3 === m)
          .select(col("o_orderkey").as("record_id"),
            concat(lit("type"), lit(m)).as("record_type"),
            when(col("o_orderstatus") === "F", "complete")
              .when(col("o_orderstatus") === "P", "running")
              .otherwise("waiting").as("status"),
            col("o_totalprice").as(extra))
      typed(0, "sp_energy")
        .unionByName(typed(1, "opt_final"), allowMissingColumns = true)
        .unionByName(typed(2, "td_angle"), allowMissingColumns = true)
        .groupBy(col("record_type"))
        .agg(count(lit(1)).as("n"),
          count(col("sp_energy")).as("n_sp"),
          count(col("opt_final")).as("n_opt"),
          count(col("td_angle")).as("n_td"))
        .orderBy(col("record_type"))
    }),

    // S2 depth — per-type nested payload structs, the wide-table form of
    // the reference's joined-table polymorphism: singlepoint /
    // optimization / torsiondrive each get a typed nullable StructType
    // column (`components/singlepoint/record_db_models.py:95-147`,
    // `optimization/record_db_models.py:90-145`,
    // `torsiondrive/record_db_models.py:148-210`). Exported partitioned
    // by record_type and read back selecting ONE subtype: the plan must
    // prune both sibling partitions (listing time) and sibling structs
    // (nested-schema pruning) — pinned in PlanSpec.
    "s2_typed_payload" -> ((s, dir) => {
      val typed = t(s, dir, "orders").filter(col("o_orderkey") < 5000)
        .select(col("o_orderkey").as("record_id"),
          element_at(array(lit("singlepoint"), lit("optimization"), lit("torsiondrive")),
            (col("o_orderkey") % 3 + 1).cast("int")).as("record_type"),
          when(col("o_orderstatus") === "F", "complete")
            .when(col("o_orderstatus") === "P", "running")
            .otherwise("waiting").as("status"),
          when(col("o_orderkey") % 3 === 0, struct(
            col("o_custkey").as("molecule_id"),
            lit("energy").as("driver"),
            (-col("o_totalprice") / 1000.0).as("return_energy"))).as("singlepoint"),
          when(col("o_orderkey") % 3 === 1, struct(
            col("o_custkey").as("initial_molecule_id"),
            (col("o_custkey") + 1).as("final_molecule_id"),
            array(col("o_totalprice"), col("o_totalprice") / 2).as("energies"))).as("optimization"),
          when(col("o_orderkey") % 3 === 2, struct(
            (col("o_custkey") % 24).cast("int").as("n_angles"),
            array(col("o_custkey"), col("o_custkey") + 1).as("initial_molecule_ids"))).as("torsiondrive"))
      val path = Tables.scratch(s, dir, "s2_typed")
      graft.sources.DatasetExport.exportRecords(typed, path)
      graft.sources.DatasetExport.readRecords(s, path)
        .filter(col("record_type") === "optimization")
        .select(col("record_id"),
          col("optimization.initial_molecule_id").as("init_mol"),
          col("optimization.final_molecule_id").as("final_mol"),
          element_at(col("optimization.energies"), 1).as("e0"))
        .orderBy(col("record_id"))
    }),

    // F5/A10 — property-key manifest: distinct JSON keys per group
    // (jsonb_object_keys over per-spec properties,
    // `base_dataset_socket.py:344-360`). The `extra` field only exists on
    // some rows (to_json omits null fields), so manifests differ by group.
    "a10_property_manifest" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          to_json(struct(col("value").as("v"),
            when(col("value") > 90 && col("event_type").isin("click", "error"),
              col("user_id")).as("extra"))).as("properties"))
        .select(col("event_type"),
          explode(expr("json_object_keys(properties)")).as("key"))
        .groupBy(col("event_type"))
        .agg(concat_ws(",", sort_array(collect_set(col("key")))).as("manifest"))
        .orderBy(col("event_type"))
    }),

    // A2+ — the status matrix with CUBE subtotals (SURVEY §2.4 notes the
    // engine gets grouping sets free; the reference computes rollups
    // client-side in Python). grouping_id disambiguates subtotal rows.
    "a13_cube_matrix" -> ((s, dir) => {
      records(s, dir)
        .cube(col("record_type"), col("status"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .na.fill("<all>", Seq("record_type", "status"))
        .orderBy(col("gid"), col("record_type"), col("status"))
    }),

    // ST1 return path — update_finished: a result batch (every waiting
    // record with key%4==1 completes, %4==3 errors) merges into the
    // records view; the post-transition status matrix is checked.
    "st1_return_path" -> ((s, dir) => {
      val recs = records(s, dir)
      val results = recs.filter(col("status") === "waiting")
        .filter(col("record_id") % 4 === 1 || col("record_id") % 4 === 3)
        .select(col("record_id"),
          when(col("record_id") % 4 === 1, "complete").otherwise("error")
            .as("new_status"))
      RecordOps.applyFinished(recs, results)
        .groupBy(col("record_type"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("record_type"), col("status"))
    }),

    // Revert/undo stack — the previous status per record is the rank-2
    // history entry (lineitem as the per-record seq'd history log).
    "st7_revert_prev" -> ((s, dir) => {
      val history = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey").as("record_id"),
          col("l_linenumber").as("seq"),
          when(col("l_returnflag") === "A", "complete")
            .when(col("l_returnflag") === "R", "error")
            .otherwise("running").as("status"))
      RecordOps.revertToPrevious(history)
        .groupBy(col("reverted_status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("reverted_status"))
    }),

    // ST1 integrated lifecycle — the full task chain the reference runs as
    // one flow (`tasks/socket.py:243-392` claim → task spec payload →
    // `record_socket.py:684-738` update_finished → history append →
    // revert): claim the per-tag ordered top-50, build each task's JSON
    // payload (X5 shape, dims broadcast), return results through
    // RecordOps.applyFinished (records %4==3 error out), append the
    // event-sourced history (waiting → running → returned), and revert
    // errored records to their rank-2 history status. One row per claimed
    // task carries every stage's output, so a break anywhere in the chain
    // fails the oracle.
    "st1_lifecycle" -> ((s, dir) => {
      // 1. claim (W2 semantics: earlier manager tag wins, then priority
      //    desc, sort_date asc, id asc)
      val tasks = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "O" && col("o_orderkey") < 5000)
        .select(col("o_orderkey").as("task_id"),
          col("o_orderkey").as("record_id"),
          col("o_custkey").as("cust_id"),
          lit(true).as("available"),
          concat(lit("tag"), col("o_custkey") % 3).as("compute_tag"),
          (col("o_custkey") % 5).cast("int").as("compute_priority"),
          col("o_orderdate").as("sort_date"),
          array(lit("prog0"), concat(lit("prog"), col("o_orderkey") % 4))
            .as("required_programs"))
      val claimed = TaskOps.claimTagOrdered(tasks,
        managerPrograms = Seq("prog0", "prog1", "prog2", "prog3"),
        managerTags = Seq("tag2", "tag0"), limit = 50)
      // 2. task spec payload per claimed task (X5; dims broadcast)
      val withPayload = claimed
        .join(broadcast(t(s, dir, "customer")), col("cust_id") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("task_id"), col("record_id"), col("compute_tag"),
          col("tag_rank"),
          to_json(struct(col("record_id").as("id"),
            col("compute_tag").as("tag"),
            col("c_name").as("customer"),
            col("n_name").as("nation"))).as("payload"))
      // 3. return path: manager results merge into the records view
      val results = withPayload.select(col("record_id"),
        when(col("record_id") % 4 === 3, "error").otherwise("complete")
          .as("new_status"))
      val updated = RecordOps.applyFinished(records(s, dir), results)
      val returned = withPayload.join(
        updated.select(col("record_id"), col("status").as("returned_status")),
        "record_id")
      // 4+5. event-sourced history per claimed record, then revert errored
      //      records to the previous (rank-2) status
      val history = returned
        .select(col("record_id"), lit(1L).as("seq"), lit("waiting").as("status"))
        .unionByName(returned
          .select(col("record_id"), lit(2L).as("seq"), lit("running").as("status")))
        .unionByName(returned
          .select(col("record_id"), lit(3L).as("seq"), col("returned_status").as("status")))
      val prev = RecordOps.revertToPrevious(history)
      returned.join(prev, Seq("record_id"), "left")
        .select(col("task_id"), col("compute_tag"), col("tag_rank"),
          col("payload"), col("returned_status"),
          when(col("returned_status") === "error", col("reverted_status"))
            .otherwise(col("returned_status")).as("final_status"))
        .orderBy(col("task_id"))
    }),

    // A4 — children status counts: filter the parent/child edge view to
    // the requested parents, join child records, count per status
    // (`qcfractal/qcfractal/components/base_record_socket.py:468-476`).
    "a4_children_status" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val edges = customer.select(
        concat(lit("n"), col("c_nationkey")).as("parent"),
        col("c_custkey").as("child_id"))
      val recs = customer.select(col("c_custkey").as("child_id"),
        col("c_mktsegment").as("status"))
      edges.filter(col("parent").isin("n3", "n7"))
        .join(recs, "child_id")
        .groupBy(col("parent"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("parent"), col("status"))
    }),

    // J18 — dataset copy/clone (`base_dataset_socket.py:1652-1872`):
    // copy_from(src=1, dst=2, copy_records) = specs + entries + record
    // links. Dataset 2 already holds specs s0/s1 under the SAME
    // specification_id (the benign re-copy case — skipped by the
    // (name, id) anti-join) plus its own s5 and f-entries, so the row
    // checks all three copy semantics at once: spec skip-on-same-id,
    // entry copy, and record-link rewrite WITHOUT record duplication
    // (both datasets point at the same record ids afterwards). Output
    // is the full post-copy state of all three tables tagged by kind.
    "j18_dataset_clone" -> ((s, dir) => {
      import graft.records.DatasetOps
      val part = t(s, dir, "part")
      val region = t(s, dir, "region")
      val entries = part.filter(col("p_partkey") < 100)
        .select(lit(1L).as("dataset_id"),
          concat(lit("e"), col("p_partkey")).as("name"),
          col("p_partkey").cast("long").as("molecule_id"))
        .unionByName(part.filter(col("p_partkey") < 20)
          .select(lit(2L).as("dataset_id"),
            concat(lit("f"), col("p_partkey")).as("name"),
            col("p_partkey").cast("long").as("molecule_id")))
      val specs = region
        .select(lit(1L).as("dataset_id"),
          concat(lit("s"), col("r_regionkey")).as("name"),
          (col("r_regionkey") + 10).cast("long").as("specification_id"))
        .unionByName(region.filter(col("r_regionkey") < 2)
          .select(lit(2L).as("dataset_id"),
            concat(lit("s"), col("r_regionkey")).as("name"),
            (col("r_regionkey") + 10).cast("long").as("specification_id")))
        .unionByName(region.filter(col("r_regionkey") === 0)
          .select(lit(2L).as("dataset_id"), lit("s5").as("name"),
            lit(15L).as("specification_id")))
      val items = part.filter(col("p_partkey") < 100).crossJoin(region)
        .filter((col("p_partkey") + col("r_regionkey")) % 3 === 0)
        .select(lit(1L).as("dataset_id"),
          concat(lit("e"), col("p_partkey")).as("entry_name"),
          concat(lit("s"), col("r_regionkey")).as("specification_name"),
          (col("r_regionkey") * 1000 + col("p_partkey")).cast("long").as("record_id"))
        .unionByName(part.filter(col("p_partkey") < 20)
          .select(lit(2L).as("dataset_id"),
            concat(lit("f"), col("p_partkey")).as("entry_name"),
            lit("s5").as("specification_name"),
            (col("p_partkey") + 5000).cast("long").as("record_id")))
      val (e2, s2, i2) = DatasetOps.copyFrom(entries, specs, items,
        srcId = 1L, dstId = 2L, copyRecords = true)
      e2.select(lit("entry").as("kind"), col("dataset_id"), col("name"),
          col("molecule_id").as("ref_id"))
        .unionByName(s2.select(lit("spec").as("kind"), col("dataset_id"),
          col("name"), col("specification_id").as("ref_id")))
        .unionByName(i2.select(lit("item").as("kind"), col("dataset_id"),
          concat(col("entry_name"), lit("/"), col("specification_name")).as("name"),
          col("record_id").as("ref_id")))
        .orderBy(col("kind"), col("dataset_id"), col("name"), col("ref_id"))
    }),

    // J19 — access-log geo enrichment (`serverinfo/socket.py:215-280`):
    // the maxmind-style [ip_lo, ip_hi] → (country, subdivision) lookup
    // as a broadcast HASH join on prefix buckets (AccessGeo.splitByPrefix
    // — never a nested-loop range join), then the reference's
    // country/subdivision access summary over the enriched rows. The
    // 25-nation range table tiles the full ip space, so every access
    // resolves (the uncovered-ip NULL path is unit-tested instead:
    // Spark and DuckDB disagree on NULL sort order).
    "j19_geo_enrich" -> ((s, dir) => {
      import graft.records.AccessGeo
      val RANGE = 171798691L // ceil(2^32 / 25)
      val geo = t(s, dir, "nation").select(
        (col("n_nationkey").cast("long") * RANGE).as("ip_lo"),
        when(col("n_nationkey") === 24, lit(4294967295L))
          .otherwise(col("n_nationkey").cast("long") * RANGE + (RANGE - 1))
          .as("ip_hi"),
        col("n_name").as("country_code"),
        concat(lit("r"), col("n_regionkey")).as("subdivision"))
      val enriched = AccessGeo.geoEnrich(t(s, dir, "events"),
        pmod(col("user_id") * 2654435761L, lit(4294967296L)),
        AccessGeo.splitByPrefix(geo, prefixBits = 12), prefixBits = 12)
      enriched.groupBy(col("country_code"), col("subdivision"))
        .agg(count(lit(1)).as("n_accesses"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("total_value"))
        .orderBy(col("country_code"), col("subdivision"))
    }),

    // O6 — chunked delete with per-id metadata (`db_socket/helpers.py:576`
    // delete_general): request-ordered (idx, id, deleted|missing) rows —
    // the O5 input-order contract applied to deletes — with the
    // post-delete row count carried on every row so one hash gate pins
    // both the metadata and the delete itself. The request list mixes
    // present ids, absent ids, and a duplicate.
    "o6_delete_meta" -> ((s, dir) => {
      import graft.operators.JoinOps
      val ids = Seq(1L, 7L, 999999999L, 32L, 7L, 5L, 4L)
      val (remaining, meta) = JoinOps.deleteWithMetadata(
        t(s, dir, "orders").select(col("o_orderkey").as("record_id")),
        "record_id", ids)
      meta.crossJoin(remaining.agg(count(lit(1)).as("n_remaining")))
        .orderBy(col("idx"))
    }),

    // ST2 — service-iteration decision per service over dependency statuses.
    "st2_service_decision" -> ((s, dir) => {
      val deps = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey").as("service_id"),
          when(col("l_returnflag") === "A", "complete")
            .when(col("l_returnflag") === "R", "error")
            .otherwise("running").as("status"))
      ServiceOps.iterationDecisions(deps).orderBy(col("service_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // independent replay of copy_from: the spec copy's (name, id)
    // anti-join via NOT EXISTS, entries and record links as plain
    // insert-selects re-keyed to dataset 2
    "j18_dataset_clone" ->
      """WITH entries AS (
        |  SELECT 1 AS dataset_id, 'e' || CAST(p_partkey AS VARCHAR) AS name,
        |         p_partkey AS molecule_id
        |  FROM part WHERE p_partkey < 100
        |  UNION ALL
        |  SELECT 2, 'f' || CAST(p_partkey AS VARCHAR), p_partkey
        |  FROM part WHERE p_partkey < 20),
        |specs AS (
        |  SELECT 1 AS dataset_id, 's' || CAST(r_regionkey AS VARCHAR) AS name,
        |         r_regionkey + 10 AS specification_id
        |  FROM region
        |  UNION ALL
        |  SELECT 2, 's' || CAST(r_regionkey AS VARCHAR), r_regionkey + 10
        |  FROM region WHERE r_regionkey < 2
        |  UNION ALL
        |  SELECT 2, 's5', 15 FROM region WHERE r_regionkey = 0),
        |items AS (
        |  SELECT 1 AS dataset_id, 'e' || CAST(p_partkey AS VARCHAR) AS entry_name,
        |         's' || CAST(r_regionkey AS VARCHAR) AS specification_name,
        |         r_regionkey * 1000 + p_partkey AS record_id
        |  FROM part, region
        |  WHERE p_partkey < 100 AND (p_partkey + r_regionkey) % 3 = 0
        |  UNION ALL
        |  SELECT 2, 'f' || CAST(p_partkey AS VARCHAR), 's5', p_partkey + 5000
        |  FROM part WHERE p_partkey < 20),
        |alle AS (
        |  SELECT * FROM entries
        |  UNION ALL
        |  SELECT 2, name, molecule_id FROM entries WHERE dataset_id = 1),
        |alls AS (
        |  SELECT * FROM specs
        |  UNION ALL
        |  SELECT 2, s.name, s.specification_id FROM specs s
        |  WHERE s.dataset_id = 1 AND NOT EXISTS (
        |    SELECT 1 FROM specs d
        |    WHERE d.dataset_id = 2 AND d.name = s.name
        |      AND d.specification_id = s.specification_id)),
        |alli AS (
        |  SELECT * FROM items
        |  UNION ALL
        |  SELECT 2, entry_name, specification_name, record_id
        |  FROM items WHERE dataset_id = 1)
        |SELECT kind, CAST(dataset_id AS BIGINT) AS dataset_id, name,
        |       CAST(ref_id AS BIGINT) AS ref_id
        |FROM (
        |  SELECT 'entry' AS kind, dataset_id, name, molecule_id AS ref_id FROM alle
        |  UNION ALL
        |  SELECT 'spec', dataset_id, name, specification_id FROM alls
        |  UNION ALL
        |  SELECT 'item', dataset_id,
        |         entry_name || '/' || specification_name, record_id FROM alli)
        |ORDER BY kind, dataset_id, name, ref_id""".stripMargin,

    "j19_geo_enrich" ->
      """WITH geo AS (
        |  SELECT CAST(n_nationkey AS BIGINT) * 171798691 AS ip_lo,
        |    CASE WHEN n_nationkey = 24 THEN 4294967295
        |         ELSE CAST(n_nationkey AS BIGINT) * 171798691 + 171798690
        |    END AS ip_hi,
        |    n_name AS country_code,
        |    'r' || CAST(n_regionkey AS VARCHAR) AS subdivision
        |  FROM nation),
        |acc AS (
        |  SELECT user_id, value,
        |    (user_id * 2654435761) % 4294967296 AS ip
        |  FROM events)
        |SELECT g.country_code, g.subdivision,
        |  CAST(COUNT(*) AS BIGINT) AS n_accesses,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(a.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM acc a JOIN geo g ON a.ip BETWEEN g.ip_lo AND g.ip_hi
        |GROUP BY g.country_code, g.subdivision
        |ORDER BY country_code, subdivision""".stripMargin,

    "o6_delete_meta" ->
      """WITH req(idx, record_id) AS (VALUES
        |    (0, 1), (1, 7), (2, 999999999), (3, 32), (4, 7), (5, 5), (6, 4)),
        |present AS (
        |  SELECT DISTINCT o_orderkey FROM orders
        |  WHERE o_orderkey IN (SELECT record_id FROM req))
        |SELECT CAST(r.idx AS BIGINT) AS idx,
        |  CAST(r.record_id AS BIGINT) AS record_id,
        |  CASE WHEN p.o_orderkey IS NOT NULL
        |    THEN 'deleted' ELSE 'missing' END AS status,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |   WHERE o_orderkey NOT IN (SELECT record_id FROM req)) AS n_remaining
        |FROM req r LEFT JOIN present p ON p.o_orderkey = r.record_id
        |ORDER BY idx""".stripMargin,

    "a5_type_status_matrix" ->
      """SELECT 'type' || CAST(o_orderkey % 3 AS VARCHAR) AS record_type,
        |  CASE o_orderstatus WHEN 'F' THEN 'complete'
        |    WHEN 'P' THEN 'running' ELSE 'waiting' END AS status,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY record_type, status""".stripMargin,

    "a11_status_rollup" ->
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'complete'
        |    WHEN 'P' THEN 'running' ELSE 'waiting' END AS status,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1
        |ORDER BY status""".stripMargin,

    "j6_dataset_membership" ->
      """SELECT o_orderkey AS record_id,
        |  'type' || CAST(o_orderkey % 3 AS VARCHAR) AS record_type,
        |  CASE o_orderstatus WHEN 'F' THEN 'complete'
        |    WHEN 'P' THEN 'running' ELSE 'waiting' END AS status
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem WHERE l_suppkey % 5 = 2)
        |ORDER BY record_id DESC
        |LIMIT 100""".stripMargin,

    "o2_batch_pages" ->
      """WITH ranked AS (
        |  SELECT o_orderkey, o_custkey,
        |    row_number() OVER (ORDER BY o_orderkey DESC) - 1 AS rn
        |  FROM orders WHERE o_orderkey < 3000)
        |SELECT CAST(rn // 100 AS BIGINT) AS page, o_orderkey, o_custkey
        |FROM ranked
        |WHERE rn < 450
        |ORDER BY o_orderkey""".stripMargin,

    "p1_projection" ->
      """SELECT CAST(list_position([42,7,1999,3,500], o_orderkey) AS BIGINT) AS pos,
        |  o_orderkey AS record_id,
        |  CASE o_orderstatus WHEN 'F' THEN 'complete'
        |    WHEN 'P' THEN 'running' ELSE 'waiting' END AS status,
        |  'n' || CAST(o_orderkey % 7 AS VARCHAR) AS extra_note
        |FROM orders
        |WHERE o_orderkey IN (42, 7, 1999, 3, 500)
        |ORDER BY pos""".stripMargin,

    "x4_waiting_reasons" ->
      """WITH tasks AS (
        |  SELECT o_orderkey AS task_id,
        |    'tag' || CAST(o_custkey % 3 AS VARCHAR) AS compute_tag,
        |    ['prog0', 'prog' || CAST(o_orderkey % 4 AS VARCHAR)] AS required_programs
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey < 2000),
        |managers AS (
        |  SELECT
        |    CASE WHEN s_suppkey % 5 = 0 THEN ['*']
        |      ELSE ['tag' || CAST(s_suppkey % 3 AS VARCHAR)] END AS compute_tags,
        |    ['prog0', 'prog' || CAST(s_suppkey % 4 AS VARCHAR)] AS programs
        |  FROM supplier WHERE s_suppkey <= 40 AND s_suppkey % 3 <> 0),
        |x AS (
        |  SELECT t.task_id,
        |    list_has_all(m.programs, t.required_programs) AS programs_ok,
        |    (list_contains(m.compute_tags, '*')
        |      OR list_contains(m.compute_tags, t.compute_tag)) AS tag_ok
        |  FROM tasks t CROSS JOIN managers m)
        |SELECT task_id,
        |  MAX(programs_ok AND tag_ok) AS claimable,
        |  CAST(SUM(CASE WHEN programs_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_program_matches,
        |  CAST(SUM(CASE WHEN tag_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_tag_matches
        |FROM x
        |GROUP BY task_id
        |ORDER BY task_id""".stripMargin,

    "w2_tag_claim" ->
      """WITH tasks AS (
        |  SELECT o_orderkey AS task_id,
        |    'tag' || CAST(o_custkey % 3 AS VARCHAR) AS compute_tag,
        |    CAST(o_custkey % 5 AS INT) AS compute_priority,
        |    o_orderdate AS sort_date
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey < 5000),
        |r AS (
        |  SELECT *, CASE compute_tag WHEN 'tag2' THEN 1 WHEN 'tag0' THEN 2 END AS tag_rank
        |  FROM tasks WHERE compute_tag IN ('tag2', 'tag0'))
        |SELECT task_id, compute_tag, CAST(tag_rank AS BIGINT) AS tag_rank,
        |  compute_priority, strftime(sort_date, '%Y-%m-%d') AS sort_date_s
        |FROM r
        |ORDER BY tag_rank, compute_priority DESC, sort_date, task_id
        |LIMIT 40""".stripMargin,

    "w3_claim_assign" ->
      """WITH topk AS (
        |  SELECT o_orderkey AS task_id
        |  FROM orders
        |  WHERE o_orderstatus = 'O' AND o_orderkey < 5000
        |  ORDER BY CAST(o_custkey % 5 AS INT) DESC, o_orderdate, o_orderkey
        |  LIMIT 100)
        |SELECT task_id % 4 AS claimer, COUNT(*) AS n, MIN(task_id) AS min_task
        |FROM topk
        |GROUP BY 1
        |ORDER BY claimer""".stripMargin,

    "j12_manual_join" ->
      """SELECT o_orderkey AS task_id,
        |  'tag' || CAST(o_custkey % 3 AS VARCHAR) AS compute_tag
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_orderkey < 2000
        |  AND o_orderkey % 3 = 1
        |ORDER BY task_id""".stripMargin,

    "p10_status_guard" ->
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'complete'
        |    WHEN 'P' THEN 'running' ELSE 'waiting' END AS status,
        |  COUNT(*) AS n
        |FROM orders
        |WHERE o_orderstatus IN ('P', 'O')
        |GROUP BY 1
        |ORDER BY status""".stripMargin,

    "s5_cache_refresh" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 2 = 0 AND user_id >= 50
        |    THEN -1.0 ELSE value END AS value
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "s2_polymorphic_scan" ->
      """SELECT 'type' || CAST(o_orderkey % 3 AS VARCHAR) AS record_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sp,
        |  CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_opt,
        |  CAST(SUM(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_td
        |FROM orders
        |GROUP BY 1
        |ORDER BY record_type""".stripMargin,

    "a10_property_manifest" ->
      """SELECT event_type,
        |  array_to_string(list_sort(list_distinct(flatten(list(
        |    CASE WHEN value > 90 AND event_type IN ('click', 'error')
        |      THEN ['extra', 'v'] ELSE ['v'] END)))), ',') AS manifest
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "a13_cube_matrix" ->
      """WITH r AS (
        |  SELECT 'type' || CAST(o_orderkey % 3 AS VARCHAR) AS record_type,
        |    CASE o_orderstatus WHEN 'F' THEN 'complete'
        |      WHEN 'P' THEN 'running' ELSE 'waiting' END AS status
        |  FROM orders)
        |SELECT COALESCE(record_type, '<all>') AS record_type,
        |  COALESCE(status, '<all>') AS status,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(record_type) * 2 + GROUPING(status) AS BIGINT) AS gid
        |FROM r
        |GROUP BY CUBE (record_type, status)
        |ORDER BY gid, record_type, status""".stripMargin,

    "st1_return_path" ->
      """SELECT 'type' || CAST(o_orderkey % 3 AS VARCHAR) AS record_type,
        |  CASE WHEN o_orderstatus IN ('F') THEN 'complete'
        |    WHEN o_orderstatus = 'P' THEN 'running'
        |    WHEN o_orderkey % 4 = 1 THEN 'complete'
        |    WHEN o_orderkey % 4 = 3 THEN 'error'
        |    ELSE 'waiting' END AS status,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY record_type, status""".stripMargin,

    "st7_revert_prev" ->
      """WITH h AS (
        |  SELECT l_orderkey AS record_id, l_linenumber AS seq,
        |    CASE l_returnflag WHEN 'A' THEN 'complete'
        |      WHEN 'R' THEN 'error' ELSE 'running' END AS status
        |  FROM lineitem WHERE l_orderkey < 2000),
        |r AS (
        |  SELECT record_id, status FROM h
        |  QUALIFY row_number() OVER (PARTITION BY record_id ORDER BY seq DESC) = 2)
        |SELECT status AS reverted_status, COUNT(*) AS n
        |FROM r
        |GROUP BY 1
        |ORDER BY reverted_status""".stripMargin,

    "s5_cache_writeback" ->
      """SELECT event_id, user_id, event_type AS status,
        |  CASE WHEN user_id % 7 = 0 THEN substr(props, 1, 10)
        |    ELSE props END AS record
        |FROM events
        |WHERE event_id % 10 <> 7
        |ORDER BY event_id""".stripMargin,

    "s2_typed_payload" ->
      """SELECT o_orderkey AS record_id,
        |  o_custkey AS init_mol,
        |  o_custkey + 1 AS final_mol,
        |  o_totalprice AS e0
        |FROM orders
        |WHERE o_orderkey < 5000 AND o_orderkey % 3 = 1
        |ORDER BY record_id""".stripMargin,

    "st1_lifecycle" ->
      """WITH tasks AS (
        |  SELECT o_orderkey AS task_id, o_orderkey AS record_id,
        |    o_custkey AS cust_id,
        |    'tag' || CAST(o_custkey % 3 AS VARCHAR) AS compute_tag,
        |    CAST(o_custkey % 5 AS INT) AS compute_priority,
        |    o_orderdate AS sort_date
        |  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey < 5000),
        |claimed AS (
        |  SELECT *, CASE compute_tag WHEN 'tag2' THEN 1 WHEN 'tag0' THEN 2 END AS tag_rank
        |  FROM tasks WHERE compute_tag IN ('tag2', 'tag0')
        |  ORDER BY tag_rank, compute_priority DESC, sort_date, task_id
        |  LIMIT 50),
        |ret AS (
        |  SELECT c.*,
        |    CASE WHEN record_id % 4 = 3 THEN 'error' ELSE 'complete' END AS returned_status
        |  FROM claimed c)
        |SELECT r.task_id, r.compute_tag, CAST(r.tag_rank AS BIGINT) AS tag_rank,
        |  to_json(struct_pack(
        |    id := r.record_id,
        |    tag := r.compute_tag,
        |    customer := c_name,
        |    nation := n_name)) AS payload,
        |  r.returned_status,
        |  CASE WHEN r.returned_status = 'error' THEN 'running'
        |    ELSE r.returned_status END AS final_status
        |FROM ret r
        |JOIN customer ON r.cust_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY r.task_id""".stripMargin,

    "a4_children_status" ->
      """SELECT 'n' || CAST(c_nationkey AS VARCHAR) AS parent,
        |  c_mktsegment AS status, COUNT(*) AS n
        |FROM customer
        |WHERE c_nationkey IN (3, 7)
        |GROUP BY 1, 2
        |ORDER BY parent, status""".stripMargin,

    "st2_service_decision" ->
      """WITH deps AS (
        |  SELECT l_orderkey AS service_id,
        |    CASE l_returnflag WHEN 'A' THEN 'complete'
        |      WHEN 'R' THEN 'error' ELSE 'running' END AS status
        |  FROM lineitem WHERE l_orderkey < 2000),
        |agg AS (
        |  SELECT service_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_deps,
        |    CAST(SUM(CASE WHEN status IN ('complete','error') THEN 1 ELSE 0 END) AS BIGINT) AS n_done,
        |    CAST(SUM(CASE WHEN status = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |    array_to_string(list_sort(list_distinct(list(status))), ',') AS statuses
        |  FROM deps GROUP BY service_id)
        |SELECT service_id, n_deps, n_done, n_error, statuses,
        |  CASE WHEN n_done < n_deps THEN 'wait'
        |    WHEN n_error > 0 THEN 'error'
        |    ELSE 'iterate' END AS decision
        |FROM agg
        |ORDER BY service_id""".stripMargin
  )
}
