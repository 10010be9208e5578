package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{Apply, CdcTable, Decode}
import graft.util.{Fs, SessionMemo}
import graft.util.Tables.load

/** CDC pipeline surface as driver-checkable queries:
  *
  *  - c01: envelope decode of the snapshot fixture, `dump.avro` in
  *    `DatastreamFixtures.dir` (the reference's file where a checkout
  *    holds it, else the generated twin)
  *  - c02: the full SURVEY §7.2 replay (snapshot + CDC + PK-update +
  *    delete) through the merge, dumping the final state
  *  - c05: the event-collapse operator applied to the events table
  *    (latest row per key by sort key) — DuckDB-oracled
  *  - c06: a state+changes merge with soft deletes built from the
  *    customer/orders tables — DuckDB-oracled full-outer semantics
  *
  * c01/c02 oracles are generated VALUES literals (regression locks;
  * the semantic assertions live in CdcDecodeSpec/CdcApplySpec against
  * the reference-documented expectations).
  */
object CdcPipeline {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  private def replayFiles = graft.sources.DatastreamFixtures.files

  // The fixture replay, once per session: every query over its outcome
  // (c02's final state, c10 time travel, c11 change feed, ...) reads
  // the committed table. The merge path itself stays fresh through
  // c16, which replays the same fixtures through the real
  // readStream → foreachBatch → checkpoint path.
  private[graft] val replays = new SessionMemo[Unit, String]
  private def replayedTable(s: SparkSession): CdcTable = {
    val dir = replays(s, ()) {
      val d = java.nio.file.Files.createTempDirectory("graft-replay").toString
      val t = new CdcTable(s, d, Seq("EMPLOYEE_ID"))
      replayFiles.zipWithIndex.foreach { case (f, i) =>
        t.applyBatch(Decode.fromAvro(s, s"$fixtures/$f"), i.toLong)
      }
      d
    }
    new CdcTable(s, dir, Seq("EMPLOYEE_ID"))
  }

  // The events table merged and range-clustered by value, shared by
  // c13's stat-pruned scan and c14's bucket lookup: the scan and the
  // lookup are the claims and run fresh.
  private val clustered = new SessionMemo[String, String]
  private def clusteredEvents(s: SparkSession, d: String): CdcTable = {
    val dir = clustered(s, d) {
      val p = java.nio.file.Files.createTempDirectory("graft-cluster").toString
      val t = new CdcTable(s, p, Seq("user_id"), numBuckets = 8)
      t.applyBatch(eventsAsChanges(s, d), 0L)
      t.clusterBy("value", filesPerBucket = 4)
      p
    }
    new CdcTable(s, dir, Seq("user_id"), numBuckets = 8)
  }

  // c15's JSON wire copy of the c07 fixture events: the JSON decode is
  // the claim and runs fresh.
  private val jsonWire = new SessionMemo[Unit, String]

  /** events table lifted into the engine's change-event shape. */
  private def eventsAsChanges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.util.Tables.loadEvents(s, d)
      .select(
        struct($"user_id", $"event_type", $"value").as("row"),
        lit("UPDATE").as("op"),
        struct($"ts_us".as("ts_ms"), $"event_id".as("scn"),
          lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "c01_decode_dump" -> { (s, _) =>
      import s.implicits._
      Decode.fromAvro(s, s"$fixtures/dump.avro")
        .select($"row.EMPLOYEE_ID".as("employee_id"),
          $"row.LAST_NAME".as("last_name"),
          $"row.SALARY".cast("double").as("salary"),
          $"op", $"is_snapshot", $"row_id")
        .orderBy($"row_id")
    },

    "c02_cdc_final_state" -> { (s, _) =>
      import s.implicits._
      val table = replayedTable(s)
      table.state.get
        .select($"EMPLOYEE_ID".as("employee_id"),
          $"FIRST_NAME".as("first_name"),
          $"SALARY".cast("double").as("salary"),
          $"_is_deleted".as("deleted"))
        .orderBy($"employee_id")
    },

    // the ACTUAL Structured Streaming path (readStream → decode →
    // foreachBatch merge with checkpoint) must land the same golden
    // final state as c02's sequential batch replay — all five fixture
    // files drain in one AvailableNow batch, and the sort-key-guarded
    // merge makes the batching invisible (MergePropertySpec is the
    // algebraic form of this; here it is gated end-to-end)
    "c16_stream_e2e" -> { (s, _) =>
      import s.implicits._
      import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
      import graft.sources.DatastreamAvro
      import graft.streaming.CdcStream
      val root = JFiles.createTempDirectory("graft-stream-q")
      val src = root.resolve("in"); JFiles.createDirectories(src)
      replayFiles.zipWithIndex.foreach { case (f, i) =>
        JFiles.copy(JPaths.get(s"$fixtures/$f"),
          src.resolve(s"s1_oracle-x_0_$i.avro"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
      val table = new CdcTable(s, root.resolve("table").toString,
        Seq("EMPLOYEE_ID"))
      CdcStream.drain(CdcStream.start(s, s"${src.toString}/*.avro",
        schema, table, root.resolve("ckpt").toString))
      table.state.get
        .select($"EMPLOYEE_ID".as("employee_id"),
          $"FIRST_NAME".as("first_name"),
          $"SALARY".cast("double").as("salary"),
          $"_is_deleted".as("deleted"))
        .orderBy($"employee_id")
    },

    // the multiplexed router path under the oracle gate: one event
    // stream split across two tables by a per-event table key, full
    // replay (snapshot + CDC + PK-update + delete), both tables'
    // final states dumped with their table tag. The replay is the
    // shared consolidated fixture c25/c26 also read ([[fleetRouter]]);
    // c09 reads it through the router's own read API, c25 through the
    // store it merges into
    "c09_router_multiplex" -> { (s, _) =>
      val r = fleetRouter(s)
      fleetStates(s, r.knownTables.map(t => t -> r.stateOf(t).get))
    },

    // time travel: the state as of version 2 (dump + insert + update
    // applied; PK-update and delete not yet) — one manifest resolve,
    // same cost as reading the head version
    "c10_time_travel" -> { (s, _) =>
      import s.implicits._
      replayedTable(s).stateAt(2L).get
        .select($"EMPLOYEE_ID".as("employee_id"),
          $"FIRST_NAME".as("first_name"),
          $"SALARY".cast("double").as("salary"),
          $"_is_deleted".as("deleted"))
        .orderBy($"employee_id")
    },

    // change feed: the post-image rows committed by version 3 (the
    // PK-update batch) — manifest-diff pruning reads only re-pointed
    // buckets, so the feed costs O(batch), not O(table)
    "c11_change_feed" -> { (s, _) =>
      import s.implicits._
      replayedTable(s).changeFeed(3L).get
        .select($"EMPLOYEE_ID".as("employee_id"),
          $"FIRST_NAME".as("first_name"),
          $"SALARY".cast("double").as("salary"),
          $"_is_deleted".as("deleted"))
        .orderBy($"employee_id")
    },

    // incremental view maintenance from the CDF feed: the head-version
    // aggregate is derived from the version-2 aggregate plus the
    // pre/post-image deltas of every later commit — post images add,
    // pre images retract, the table is never rescanned. At 100 TB this
    // is the pattern that keeps downstream marts O(commit) instead of
    // O(table): each changeFeedCdf(v) reads only the commit's
    // re-pointed buckets. TableMaintenanceSpec asserts the semantic
    // identity (incremental == direct head aggregate); the golden
    // VALUES row locks the value.
    "c18_incremental_agg" -> { (s, _) =>
      import s.implicits._
      val t = replayedTable(s)
      val head = t.currentVersion.get
      val base = t.stateAt(2L).get.filter(!$"_is_deleted")
        .select($"SALARY".cast("decimal(18,4)").as("w_salary"),
          lit(1L).as("w_n"))
      val deltas = (3L to head).map { v =>
        t.changeFeedCdf(v).get
          .withColumn("sign",
            when($"_change_type".isin("insert", "update_postimage"),
              lit(1L)).otherwise(lit(-1L)))
          .select(($"SALARY".cast("decimal(18,4)") * $"sign")
            .cast("decimal(18,4)").as("w_salary"), $"sign".as("w_n"))
      }
      deltas.foldLeft(base)(_ unionByName _)
        .agg(sum($"w_n").as("n_live"),
          sum($"w_salary").cast("double").as("sum_salary"))
    },

    // the STREAMING IVM path: a CdfFollow subscription maintains the
    // same (n_live, sum_salary) mart as c18, but fed by the real
    // Structured Streaming commit-log follower (file source +
    // checkpoint) instead of batch changeFeedCdf calls — folding every
    // version's pre/post deltas from empty must land exactly c18's
    // golden head aggregate. The c16 precedent: the streaming path is
    // gated end-to-end, not just its batch algebra.
    "c19_stream_ivm" -> { (s, _) =>
      import s.implicits._
      val t = replayedTable(s)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-ivm-ckpt").toString
      val state = new java.util.concurrent.atomic.AtomicReference(
        (0L, java.math.BigDecimal.ZERO))
      val q = graft.streaming.CdfFollow.run(s, t, ckpt, { (_, cdf) =>
        val d = cdf
          .withColumn("sign", when($"_change_type"
            .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L)))
          .agg(sum($"sign").as("dn"),
            sum($"SALARY".cast("decimal(18,4)") * $"sign").as("ds"))
          .collect().head
        val dn = if (d.isNullAt(0)) 0L else d.getLong(0)
        val ds = if (d.isNullAt(1)) java.math.BigDecimal.ZERO
          else d.getDecimal(1)
        state.updateAndGet { case (n, sm) => (n + dn, sm.add(ds)) }
        ()
      })
      // awaitTermination(timeout) returns false on timeout — emitting
      // the partial fold state then would be a silent wrong answer vs
      // the golden oracle, and the still-running stream would leak
      // into the next bench iteration
      try {
        if (!q.awaitTermination(120000)) {
          q.stop()
          throw new IllegalStateException(
            "c19_stream_ivm: follower did not drain within 120 s; " +
              "refusing to emit a partial aggregate")
        }
      } finally {
        // per-invocation temp checkpoint: stop the follower, then reap it
        q.stop()
        Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
      }
      val (n, sm) = state.get()
      Seq((n, sm.doubleValue)).toDF("n_live", "sum_salary")
    },

    // zero-copy clone: a shallow clone at version 2 must read exactly
    // the version-2 state (it shares c10's golden oracle) without
    // copying a byte — the clone's manifest references the source's
    // immutable bucket dirs
    "c17_clone" -> { (s, _) =>
      import s.implicits._
      val dest = java.nio.file.Files
        .createTempDirectory("graft-clone").toString
      val clone = replayedTable(s).cloneAt(2L, dest).get
      clone.state.get
        .select($"EMPLOYEE_ID".as("employee_id"),
          $"FIRST_NAME".as("first_name"),
          $"SALARY".cast("double").as("salary"),
          $"_is_deleted".as("deleted"))
        .orderBy($"employee_id")
    },

    // schema drift through the merge: batch 1 adds a column; the
    // widened state serves old rows with NULL and the DDL log records
    // CREATE_TABLE then ALTER_TABLE (reference:
    // DatastreamEventReader.java:652-674 drift → ALTER_TABLE)
    "c12_schema_drift" -> { (s, _) =>
      import s.implicits._
      def key(scn: Long) =
        struct(lit(0L).as("ts_ms"), lit(scn).as("scn"),
          lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key")
      val dir = java.nio.file.Files.createTempDirectory("graft-drift")
      val t = new CdcTable(s, dir.toString, Seq("id"))
      val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
        .select(struct($"id", $"name").as("row"),
          lit("INSERT").as("op"), key(1L))
      val b1 = Seq((2L, "b2", 3.5), (3L, "c", 1.0))
        .toDF("id", "name", "score")
        .select(struct($"id", $"name", $"score").as("row"),
          lit("UPDATE").as("op"), key(2L))
      t.applyBatch(b0, 0L)
      t.applyBatch(b1, 1L)
      val nDdl = t.ddlEvents.count(l =>
        l.contains("CREATE_TABLE") || l.contains("ALTER_TABLE"))
      t.state.get
        .select($"id", $"name", $"score",
          $"_is_deleted".as("deleted"), lit(nDdl.toLong).as("n_ddl"))
        .orderBy($"id")
    },

    // clustered range scan: the events table merged into a versioned
    // table, range-clustered by value (per-file min/max stats), then
    // scanned with a selective BETWEEN — the read path resolves stats
    // and touches only intersecting files (DataSkippingSpec asserts
    // the skip rate; this query gates the RESULT against DuckDB)
    "c13_clustered_scan" -> { (s, d) =>
      import s.implicits._
      clusteredEvents(s, d)
        .scanWhere("value", BigDecimal(100), BigDecimal(200)).get
        .select($"user_id", $"event_type", $"value",
          $"_sort_key.ts_ms".as("ts_us"))
        .orderBy($"user_id")
    },

    // PK-bucket point lookup: reads only the buckets the keys hash to
    // (DataSkippingSpec asserts the pruning; this gates the RESULT)
    "c14_bucket_lookup" -> { (s, d) =>
      import s.implicits._
      val keys = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L).toDF("user_id")
      clusteredEvents(s, d).lookup(keys).get
        .select($"user_id", $"event_type", $"value",
          $"_sort_key.ts_ms".as("ts_us"))
        .orderBy($"user_id")
    },

    "c07_decode_cdc" -> { (s, _) =>
      import s.implicits._
      Decode.fromAvro(s,
          s"$fixtures/{insert,update,delete,update-pk}.avro")
        .select($"row.EMPLOYEE_ID".as("employee_id"),
          $"row.FIRST_NAME".as("first_name"),
          $"row.SALARY".cast("double").as("salary"),
          $"op", $"is_snapshot",
          $"sort_key.scn".as("scn"))
        .orderBy($"scn", $"op", $"employee_id")
    },

    // the JSON wire format through the SAME decode pipeline: identical
    // events as c07, so it shares c07's golden oracle — Datastream
    // emits either Avro or JSON to the bucket, and a user switching
    // wire formats must see byte-identical decoded change events
    "c15_json_decode" -> { (s, _) =>
      import s.implicits._
      import graft.sources.{DatastreamAvro, DatastreamJson}
      val jsonDir = jsonWire(s, ()) {
        val d = java.nio.file.Files.createTempDirectory("graft-jsonwire")
        DatastreamAvro.read(s,
            s"$fixtures/{insert,update,delete,update-pk}.avro")
          .drop(DatastreamAvro.FilePathCol)
          .write.mode("overwrite").json(s"$d/events")
        s"$d/events"
      }
      val schema = DatastreamAvro.sparkSchema(s"$fixtures/insert.avro")
      // read the directory, not a *.json glob: Spark probes glob paths
      // for FileStreamSink metadata and WARNs a FileNotFoundException
      // stack trace into the harness capture (json() skips _SUCCESS
      // markers on its own)
      Decode.changeEvents(
          DatastreamJson.read(s, jsonDir, schema))
        .select($"row.EMPLOYEE_ID".as("employee_id"),
          $"row.FIRST_NAME".as("first_name"),
          $"row.SALARY".cast("double").as("salary"),
          $"op", $"is_snapshot",
          $"sort_key.scn".as("scn"))
        .orderBy($"scn", $"op", $"employee_id")
    },

    "c08_assessment" -> { (s, _) =>
      import s.implicits._
      import graft.registry._
      import graft.types.ColumnSpec
      val catalog = new InMemoryCatalog(Seq(
        TableDetail(TableId("xe", "HR", "EMPLOYEES"),
          Seq(ColumnSpec("EMPLOYEE_ID", "NUMBER(6)", nullable = false),
            ColumnSpec("FIRST_NAME", "VARCHAR2(20)"),
            ColumnSpec("RESUME", "CLOB")), Seq("EMPLOYEE_ID")),
        TableDetail(TableId("xe", "HR", "LOGS"),
          Seq(ColumnSpec("MSG", "VARCHAR2(100)")), Nil),
        TableDetail(TableId("xe", "HR", "BLOBS"),
          Seq(ColumnSpec("B", "BLOB")), Seq("B"))))
      val registry = new TableRegistry(catalog)
      val assessor = new TableAssessor(registry)
      val a = assessor.assess(registry.listTables() :+
        TableId("xe", "HR", "MISSING"))
      val tableRows = a.tables.map(t =>
        (t.table, "TABLE_OK", t.sparkSchema.fieldNames.length.toLong))
      val problemRows = a.problems.map(p =>
        (p.table.table, p.code, -1L))
      (tableRows ++ problemRows)
        .toDF("table_name", "code", "n_cols")
        .orderBy($"table_name", $"code")
    },

    "c05_event_collapse" -> { (s, d) =>
      import s.implicits._
      Apply.collapse(eventsAsChanges(s, d), Seq("user_id"))
        .select($"row.user_id".as("user_id"),
          $"row.event_type".as("event_type"),
          $"row.value".as("value"),
          $"sort_key.ts_ms".as("ts_us"))
        .orderBy($"user_id")
    },

    // ---- Type-2 SCD history: the versioned-dimension consumer ----
    // merge (c06) answers "what is the row NOW"; scd2 answers "what
    // was it WHEN" — every change opens a version row closed by the
    // next change, DELETE retires the open version. Gate: purchase
    // events as the per-user change stream (the c05 convention), with
    // low-value purchases acting as the retiring deletes so the
    // DELETE-closes-without-opening path is exercised against the
    // oracle. One PK shuffle, both window passes over a single sort.
    "c20_scd2_history" -> { (s, d) =>
      import s.implicits._
      val ch = graft.util.Tables.loadEvents(s, d)
        .filter($"event_type" === "purchase" && $"user_id" % 10 === 0)
        .select(struct($"user_id", $"value").as("row"),
          when($"value" < 10, "DELETE").otherwise("UPDATE").as("op"),
          struct($"ts_us".as("ts_ms"), $"event_id".as("scn"),
            lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key"))
      Apply.scd2(ch, Seq("user_id"), Seq("value"))
        .orderBy($"user_id", $"version")
    },

    "c06_merge_soft_delete" -> { (s, d) =>
      import s.implicits._
      // state v0: every customer, sort_key 0
      val base = load(s, d, "customer").select(
        struct($"c_custkey", $"c_acctbal".as("bal")).as("row"),
        lit("INSERT").as("op"),
        struct(lit(0L).as("ts_ms"), lit(0L).as("scn"),
          lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key"))
      // batch 1: each customer's latest order updates the balance;
      // a final-status ('F') latest order soft-deletes the customer
      val changes = load(s, d, "orders").select(
        struct($"o_custkey".as("c_custkey"), $"o_totalprice".as("bal")).as("row"),
        when($"o_orderstatus" === "F", "DELETE").otherwise("UPDATE").as("op"),
        struct(unix_millis($"o_orderdate".cast("timestamp")).as("ts_ms"),
          $"o_orderkey".as("scn"), lit("").as("rs_id"), lit(0L).as("ssn"))
          .as("sort_key"))
      val v0 = Apply.merge(None, base, Seq("c_custkey"), 0L)
      val v1 = Apply.merge(Some(v0), changes, Seq("c_custkey"), 1L)
      v1.select($"c_custkey", $"bal", $"_is_deleted".as("deleted"))
        .orderBy($"c_custkey")
    },

    // ---- per-record position bookkeeping ----
    // the reference's resume `position` (record index within the
    // current avro file, DatastreamEventConsumer.java:73/:355) as a
    // decode column: (_file_path, source_row) totally orders the
    // stream. The gate proves the contract on the reference's own
    // fixture files — per file, positions are DENSE from 0
    // (n_distinct == n_rows, min 0, max n−1) with the exact record
    // counts pinned by the oracle. Scale shape: the index is assigned
    // inside the per-file decode iterator (no window, no shuffle —
    // a row_number over the file would re-sort the corpus), and the
    // gate is one hash aggregate over the decode scan.
    "c22_position_bookkeeping" -> { (s, _) =>
      import s.implicits._
      import graft.sources.DatastreamAvro
      Decode.fromAvro(s,
          s"$fixtures/{delete,dump,insert,update-pk,update}.avro",
          Decode.Options(includePosition = true))
        .groupBy(regexp_extract(col(DatastreamAvro.FilePathCol),
          "([^/]+)\\.avro$", 1).as("file"))
        .agg(count(lit(1)).as("n_rows"),
          min($"source_row").as("first_row"),
          max($"source_row").as("last_row"),
          countDistinct($"source_row").as("n_distinct"))
        .select($"file", $"n_rows", $"first_row", $"last_row",
          ($"n_distinct" === $"n_rows" && $"first_row" === 0L &&
            $"last_row" === $"n_rows" - 1L).as("dense"))
        .orderBy($"file")
    },

    // the consolidated bucket store (ConsolidatedStore.scala) the
    // router merges into: segment files shared by both tables, ONE
    // fleet-wide CAS per batch — the 2,048+-table layout. The oracle
    // is c09's golden final state verbatim.
    "c25_consolidated_fleet" -> { (s, _) =>
      val store = fleetRouter(s).store
      fleetStates(s, store.knownTables.map(t => t -> store.state(t).get))
    },

    // ...and the store's SECOND IVM contract driver-gated (c25 gates
    // final state): the per-table post-image change feed at commit 3
    // — the update-pk commit, the same version c11 gates on the
    // per-table layout, so the golden rows are c11's split across the
    // two fleet tables (210 even → EMP_EVEN delete-side, 211 odd →
    // EMP_ODD insert-side). Feed cost is bounded by the COMMIT, not
    // the fleet: only pairs RE-POINTED at v read their v/v−1
    // segments (pushed table/bucket predicates prune the rest) — the
    // O(touched) property the delta manifests exist for.
    "c26_consolidated_feed" -> { (s, _) =>
      import s.implicits._
      val store = fleetRouter(s).store
      store.knownTables.flatMap { t =>
        store.changeFeed(t, 3L).map(_.select(
          lit(t).as("table_name"),
          $"EMPLOYEE_ID".as("employee_id"),
          $"FIRST_NAME".as("first_name"),
          $"SALARY".cast("double").as("salary"),
          $"_is_deleted".as("deleted")))
      }.reduce(_.unionByName(_))
        .orderBy($"table_name", $"employee_id")
    },

    // ---- fleet-scale change-feed FOLLOWER (round-12 verdict item 6):
    // ONE streaming subscription (CdfFollow.runStore — one offset log,
    // one commit-log tail probe per trigger) maintains a downstream
    // mart across EVERY table in the consolidated fleet; the per-table
    // CdfFollow loop would pay a streaming query per table, which at
    // 4,096 tables is exactly the per-table-overhead wall the store
    // exists to remove. The c19 discipline end-to-end: fold every
    // (version, table) CDF delta from empty, and at EVERY version
    // boundary compare the maintained (n_live, sum_salary) against a
    // from-scratch aggregate over the fleet's stateAt that version —
    // n_check_diff must be 0 five times. The even/odd split covers the
    // cross-table PK-update (210→211 deletes in EMP_EVEN, inserts in
    // EMP_ODD), so the fleet head aggregate equals c18's single-table
    // golden row.
    "c27_consolidated_stream_ivm" -> { (s, _) =>
      import s.implicits._
      val store = fleetRouter(s).store
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-c27-ckpt").toString
      val state = new java.util.concurrent.atomic.AtomicReference(
        (0L, java.math.BigDecimal.ZERO))
      val nVersions = new java.util.concurrent.atomic.AtomicLong(0L)
      val nCheckDiff = new java.util.concurrent.atomic.AtomicLong(0L)
      def fleetDirect(v: Long): (Long, java.math.BigDecimal) = {
        val r = store.tablesAt(v).flatMap(store.stateAt(_, v))
          .reduce(_ unionByName _)
          .filter(!$"_is_deleted")
          .agg(count(lit(1)).as("n"),
            sum($"SALARY".cast("decimal(18,4)")).as("s"))
          .collect().head
        (r.getLong(0),
          if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
      }
      val q = graft.streaming.CdfFollow.runStore(s, store, ckpt,
        { (v, t, cdf) =>
          val d = cdf
            .withColumn("sign", when($"_change_type"
              .isin("insert", "update_postimage"), lit(1L))
              .otherwise(lit(-1L)))
            .agg(sum($"sign").as("dn"),
              sum($"SALARY".cast("decimal(18,4)") * $"sign").as("ds"))
            .collect().head
          val dn = if (d.isNullAt(0)) 0L else d.getLong(0)
          val ds = if (d.isNullAt(1)) java.math.BigDecimal.ZERO
            else d.getDecimal(1)
          val (n, sm) = state.updateAndGet { case (n0, s0) =>
            (n0 + dn, s0.add(ds)) }
          // version boundary (tables deliver alphabetically within a
          // commit): maintained mart must equal the from-scratch
          // aggregate at v — every commit, not just the head
          if (t == store.tablesAt(v).last) {
            nVersions.incrementAndGet()
            val (dnn, dss) = fleetDirect(v)
            if (dnn != n || dss.compareTo(sm) != 0)
              nCheckDiff.incrementAndGet()
            ()
          }
        })
      try {
        if (!q.awaitTermination(120000)) {
          q.stop()
          throw new IllegalStateException(
            "c27_consolidated_stream_ivm: follower did not drain within " +
              "120 s; refusing to emit a partial gate")
        }
      } finally {
        q.stop()
        Fs.deleteRecursively(java.nio.file.Paths.get(ckpt))
      }
      val (n, sm) = state.get()
      Seq((nVersions.get(), nCheckDiff.get(), n, sm.doubleValue))
        .toDF("n_versions", "n_check_diff", "n_live", "sum_salary")
    },

    // ---- the DURABLE fleet-IVM consumer (round-13 verdict item 2):
    // c27 proves the follower; this proves the CONSUMER survives a
    // hard kill. CdfFollow's delivered-watermark persists across
    // restarts, so a consumer whose fold state lives only in memory
    // (c27's AtomicReference — fine for a drain-once gate) would
    // resume from an EMPTY mart while the marker suppresses every
    // already-delivered version: silent permanent under-count. The
    // production shape is runStoreDurable + DurableMart — (state,
    // version) committed as ONE atomic rename per version, BEFORE the
    // watermark advances. Gate: run the follower, KILL it mid-version
    // 3 (after EMP_EVEN's delta folded in memory, before EMP_ODD) by
    // throwing from the fold; restart with a fresh mart INSTANCE on
    // the same dirs. The restarted mart must resume from version 2
    // (v3 never committed), v3 must redeliver IN FULL (the partial
    // in-memory fold discarded — no double count), and the final mart
    // must equal the from-scratch fleet aggregate at head = c18's
    // golden row.
    "c28_durable_stream_ivm" -> { (s, _) =>
      import s.implicits._
      val store = fleetRouter(s).store
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-c28-ckpt").toString
      val martDir = java.nio.file.Files
        .createTempDirectory("graft-c28-mart").toString
      def mkMart() = new graft.streaming.DurableMart[
          (Long, java.math.BigDecimal)](
        martDir, (0L, java.math.BigDecimal.ZERO),
        st => s"${st._1}|${st._2.toPlainString}".getBytes("UTF-8"),
        b => {
          val Array(a, c) = new String(b, "UTF-8").split('|')
          (a.toLong, new java.math.BigDecimal(c))
        })
      val killedAt = new java.util.concurrent.atomic.AtomicLong(-1L)
      def fold(kill: Boolean)(st: (Long, java.math.BigDecimal), v: Long,
          t: String, cdf: org.apache.spark.sql.DataFrame)
          : (Long, java.math.BigDecimal) = {
        if (kill && v == 3L && t == "EMP_ODD") {
          killedAt.set(v)
          throw new RuntimeException("injected kill mid-version")
        }
        val d = cdf
          .withColumn("sign", when($"_change_type"
            .isin("insert", "update_postimage"), lit(1L))
            .otherwise(lit(-1L)))
          .agg(sum($"sign").as("dn"),
            sum($"SALARY".cast("decimal(18,4)") * $"sign").as("ds"))
          .collect().head
        val dn = if (d.isNullAt(0)) 0L else d.getLong(0)
        val ds = if (d.isNullAt(1)) java.math.BigDecimal.ZERO
          else d.getDecimal(1)
        (st._1 + dn, st._2.add(ds))
      }
      var mart1: graft.streaming.DurableMart[
        (Long, java.math.BigDecimal)] = null
      var mart2: graft.streaming.DurableMart[
        (Long, java.math.BigDecimal)] = null
      var q1, q2: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        mart1 = mkMart()
        q1 = graft.streaming.CdfFollow.runStoreDurable(s, store,
          ckpt, mart1, fold(kill = true))
        val died =
          try { if (!q1.awaitTermination(120000)) q1.stop(); false }
          catch { case _: Exception => true }
        require(died && killedAt.get() == 3L,
          "c28: the injected mid-version kill did not fire — the gate " +
            "would not be exercising the crash contract")
        // the crashed consumer's writer lock: in production the OS
        // releases it with the dead process; in this single-JVM gate
        // the close() stands in for the process exit
        mart1.close()
        // restart: a FRESH mart instance reads (state, version) from
        // disk; same checkpoint, so Spark replays the batch and the
        // watermark re-delivers everything past the marker
        mart2 = mkMart()
        val resumedFrom = mart2.version
        q2 = graft.streaming.CdfFollow.runStoreDurable(s, store,
          ckpt, mart2, fold(kill = false))
        if (!q2.awaitTermination(120000)) {
          q2.stop()
          throw new IllegalStateException(
            "c28_durable_stream_ivm: restarted follower did not drain " +
              "within 120 s; refusing to emit a partial gate")
        }
        val (n, sm) = mart2.state
        // head check: the resumed fold must land the from-scratch
        // fleet aggregate exactly (a double-folded EMP_EVEN v3 or a
        // lost version would diverge here)
        val head = store.currentVersion.get
        val r = store.tablesAt(head).flatMap(store.stateAt(_, head))
          .reduce(_ unionByName _)
          .filter(!$"_is_deleted")
          .agg(count(lit(1)).as("n"),
            sum($"SALARY".cast("decimal(18,4)")).as("s"))
          .collect().head
        val headDiff =
          if (r.getLong(0) == n && !r.isNullAt(1) &&
            r.getDecimal(1).compareTo(sm) == 0) 0L
          else 1L
        Seq((killedAt.get(), resumedFrom, headDiff, n, sm.doubleValue))
          .toDF("killed_at_version", "resumed_from", "head_check_diff",
            "n_live", "sum_salary")
      } finally {
        Seq(q1, q2).filter(_ != null).foreach(_.stop())
        if (mart1 != null) mart1.close()
        if (mart2 != null) mart2.close()
        Seq(ckpt, martDir).foreach(p =>
          Fs.deleteRecursively(java.nio.file.Paths.get(p)))
      }
    }
  )

  /** The multiplexed fleet replay shared by c09 and c25-c28: the
    * fixtures split across EMP_EVEN/EMP_ODD and routed into the
    * consolidated layout — segment files shared by both tables, ONE
    * fleet-wide CAS per batch. The reads and followers over it are the
    * claims. */
  private val fleets = new SessionMemo[Unit, graft.streaming.CdcRouter]
  private def fleetRouter(s: SparkSession): graft.streaming.CdcRouter =
    fleets(s, ()) {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-cstore")
      val r = new graft.streaming.CdcRouter(s, dir.toString,
        _ => Seq("EMPLOYEE_ID"), numBuckets = 4, databaseName = "xe")
      replayFiles.zipWithIndex.foreach {
        case (f, i) =>
          val e = Decode.fromAvro(s, s"$fixtures/$f")
            .withColumn("table_name",
              when($"row.EMPLOYEE_ID" % 2 === 0, "EMP_EVEN")
                .otherwise("EMP_ODD"))
          r.applyBatch(e, i.toLong)
      }
      r
    }

  /** Per-table states as one frame, tagged with the table name. */
  private def fleetStates(s: SparkSession,
      states: Seq[(String, DataFrame)]): DataFrame = {
    import s.implicits._
    states.map { case (t, st) =>
      st.select(
        lit(t).as("table_name"),
        $"EMPLOYEE_ID".as("employee_id"),
        $"FIRST_NAME".as("first_name"),
        $"SALARY".cast("double").as("salary"),
        $"_is_deleted".as("deleted"))
    }.reduce(_.unionByName(_))
      .orderBy($"table_name", $"employee_id")
  }

  val oracle: Map[String, String] = Map(
    // positions are decode-time facts of the FIXED fixture files
    // (DatastreamFixtures), so the oracle pins them as literals — the same
    // golden-fixture discipline as c08/c12; `dense` is the structural
    // invariant (per-file positions are 0..n−1 with no gaps/dups)
    "c22_position_bookkeeping" -> ("SELECT * FROM (VALUES " +
      "('delete', CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), " +
      "('dump', CAST(108 AS BIGINT), CAST(0 AS BIGINT), CAST(107 AS BIGINT), true), " +
      "('insert', CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), " +
      "('update', CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), true), " +
      "('update-pk', CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), true)" +
      ") AS t(file, n_rows, first_row, last_row, dense) ORDER BY file"),

    "c12_schema_drift" -> ("SELECT * FROM (VALUES " +
      "(CAST(1 AS BIGINT), 'a', CAST(NULL AS DOUBLE), false, CAST(2 AS BIGINT)), " +
      "(CAST(2 AS BIGINT), 'b2', CAST(3.5 AS DOUBLE), false, CAST(2 AS BIGINT)), " +
      "(CAST(3 AS BIGINT), 'c', CAST(1.0 AS DOUBLE), false, CAST(2 AS BIGINT))" +
      ") AS t(id, name, score, deleted, n_ddl) ORDER BY id"),

    "c08_assessment" -> ("SELECT * FROM (VALUES " +
      "('BLOBS', 'NO_SUPPORTED_COLUMNS', CAST(-1 AS BIGINT)), " +
      "('BLOBS', 'TABLE_OK', CAST(0 AS BIGINT)), " +
      "('EMPLOYEES', 'TABLE_OK', CAST(2 AS BIGINT)), " +
      "('LOGS', 'NO_PRIMARY_KEY', CAST(-1 AS BIGINT)), " +
      "('LOGS', 'TABLE_OK', CAST(1 AS BIGINT)), " +
      "('MISSING', 'TABLE_NOT_FOUND', CAST(-1 AS BIGINT))" +
      ") AS t(table_name, code, n_cols) ORDER BY table_name, code"),

    "c20_scd2_history" ->
      """WITH ch AS (
        |  SELECT user_id, value,
        |    CASE WHEN value < 10 THEN 'DELETE' ELSE 'UPDATE' END AS op,
        |    epoch_ns(ts)//1000 AS ts_us, event_id
        |  FROM events
        |  WHERE event_type = 'purchase' AND user_id % 10 = 0),
        |o AS (
        |  SELECT user_id, value, op, ts_us, event_id,
        |    lead(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id,
        |        CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END) AS valid_to
        |  FROM ch)
        |SELECT user_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS INTEGER) AS version,
        |  value, ts_us AS valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM o WHERE op <> 'DELETE'
        |ORDER BY user_id, version""".stripMargin,

    "c05_event_collapse" ->
      """SELECT user_id, event_type, value, ts_us FROM (
        |  SELECT user_id, event_type, value, epoch_ns(ts)//1000 AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts)//1000 DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "c13_clustered_scan" ->
      """SELECT user_id, event_type, value, ts_us FROM (
        |  SELECT user_id, event_type, value, epoch_ns(ts)//1000 AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts)//1000 DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND value >= 100.0 AND value <= 200.0
        |ORDER BY user_id""".stripMargin,

    "c14_bucket_lookup" ->
      """SELECT user_id, event_type, value, ts_us FROM (
        |  SELECT user_id, event_type, value, epoch_ns(ts)//1000 AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts)//1000 DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND user_id IN (1, 2, 3, 5, 8, 13, 21)
        |ORDER BY user_id""".stripMargin,

    "c06_merge_soft_delete" ->
      """WITH latest AS (
        |  SELECT o_custkey, o_totalprice, o_orderstatus FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM orders) x WHERE rn = 1)
        |SELECT c_custkey,
        |  COALESCE(l.o_totalprice, c.c_acctbal) AS bal,
        |  (l.o_custkey IS NOT NULL AND l.o_orderstatus = 'F') AS deleted
        |FROM customer c LEFT JOIN latest l ON c.c_custkey = l.o_custkey
        |ORDER BY c_custkey""".stripMargin
  ) ++ CdcGoldenOracles.map ++
    Map("c15_json_decode" -> CdcGoldenOracles.map("c07_decode_cdc"),
      "c16_stream_e2e" -> CdcGoldenOracles.map("c02_cdc_final_state"),
      "c17_clone" -> CdcGoldenOracles.map("c10_time_travel"),
      // the streaming fold from empty must land the same head
      // aggregate as c18's base+deltas derivation
      "c19_stream_ivm" -> CdcGoldenOracles.map("c18_incremental_agg"),
      // consolidated layout, identical semantics: c09's golden state
      "c25_consolidated_fleet" -> CdcGoldenOracles.map("c09_router_multiplex"),

    // the fleet follower folds every commit's CDF from empty and must
    // land c18's single-table golden head aggregate (the even/odd
    // split partitions the same rows), having passed the per-version
    // from-scratch check 5 times with 0 diffs
    "c27_consolidated_stream_ivm" ->
      ("SELECT CAST(5 AS BIGINT) AS n_versions, " +
        "CAST(0 AS BIGINT) AS n_check_diff, n_live, sum_salary FROM (" +
        CdcGoldenOracles.map("c18_incremental_agg") + ") t"),

    // the durable consumer's crash-resume facts are structural
    // constants of the fixed replay (killed mid-version 3, so the
    // restarted mart resumes from 2) and the resumed fold must land
    // c18's golden head aggregate with a 0-diff from-scratch check
    "c28_durable_stream_ivm" ->
      ("SELECT CAST(3 AS BIGINT) AS killed_at_version, " +
        "CAST(2 AS BIGINT) AS resumed_from, " +
        "CAST(0 AS BIGINT) AS head_check_diff, n_live, sum_salary " +
        "FROM (" + CdcGoldenOracles.map("c18_incremental_agg") + ") t"),

    // c11's golden feed rows split across the two fleet tables by the
    // even/odd routing — same fixed-fixture VALUES discipline
    "c26_consolidated_feed" ->
      """SELECT * FROM (VALUES
        |  ('EMP_EVEN', CAST(210 AS BIGINT), 'Sean',
        |   CAST(12131.0 AS DOUBLE), true),
        |  ('EMP_ODD', CAST(211 AS BIGINT), 'Sean',
        |   CAST(12131.0 AS DOUBLE), false))
        |  AS t(table_name, employee_id, first_name, salary, deleted)
        |ORDER BY table_name, employee_id""".stripMargin)
}
