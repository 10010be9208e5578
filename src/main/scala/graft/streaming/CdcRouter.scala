package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcTable, Decode, TableAllowlist}
import graft.sources.DatastreamAvro
import graft.util.{Fs, Persist}

/** Multiplexed multi-table CDC: ONE stream carries every table's
  * change files; each micro-batch routes events to per-table merge
  * targets by `table_name`. This is the shape that scales to
  * thousands of tables (SURVEY §7.4): per-table streams multiply
  * driver/checkpoint overhead a thousandfold, while one multiplexed
  * stream keeps a single file log and lets the per-table merges run
  * as ordinary jobs inside the batch.
  *
  * DDL surface, mirroring the reference's emission order
  * (DatastreamEventReader.java:399-405 CREATE_DATABASE once before
  * anything else; :558-570 CREATE_TABLE before a table's first event;
  * :669-672 ALTER_TABLE on drift): the database-level event lands in
  * an append-only `_ddl.jsonl` at the router root on the first batch
  * ever; table-level events land in each table's own DDL log as the
  * table is created lazily on first sight.
  *
  * Replication scope: `allowlist` drops excluded tables' rows before
  * payload projection, and — when every pattern names a concrete
  * table — excluded tables' FILES are pruned at the source by
  * filename schema-key, so they are never avro-decoded
  * (util/Utils.java:297-342).
  */
class CdcRouter(
    spark: SparkSession,
    rootPath: String,
    pkColsFor: String => Seq[String],
    numBuckets: Int = 16,
    allowlist: TableAllowlist = TableAllowlist(Nil),
    databaseName: String = "db",
    // set ONLY when source filenames lead with the table's schema-key
    // token (`<TABLE>_...`): enables file-level allowlist pruning; a
    // wrong assertion here would prune allowed tables' files, so the
    // default keeps pruning row-level only
    filenameKeyed: Boolean = false,
    // per-table merge concurrency for the pool path: defaults to the
    // machine's cores (the old hardcoded 8 serialized a wide batch
    // into ceil(T/8) scheduling waves on any larger executor)
    mergePoolWidth: Int = Runtime.getRuntime.availableProcessors(),
    // batches spanning at least this many tables take the single-job
    // partitioned-apply path (when PKs are uniform and no table has
    // drifted): below it, per-table jobs are cheap and keep the
    // general drift/heterogeneous-schema machinery in play
    partitionedApplyMinTables: Int = 64,
    // the 2,048+-table regime: route every batch into consolidated
    // stores (many tables per physical file, one CAS per PK-signature
    // group — uniform fleets get exactly one, fleet-wide) instead of
    // per-table CdcTables. Reads go through [[store]]/[[stateOf]],
    // not [[table]]
    consolidated: Boolean = false,
    // consolidated-mode manifest cadence: FULL checkpoints every N
    // commits, delta manifests between (ConsolidatedStore)
    consolidatedCheckpointInterval: Int = 8) {

  private val tables = scala.collection.concurrent.TrieMap.empty[String, CdcTable]
  private val rootDdl = Paths.get(rootPath).resolve("_ddl.jsonl")

  // ---- consolidated-mode store registry: ONE store per PK-signature
  // group (dir = pure function of the signature, so a restarted router
  // finds the same stores), the consolidated analog of the grouped
  // partitioned apply — a heterogeneous 4,096-table fleet gets
  // O(pk-shapes) consolidated stores (one CAS each per batch), not
  // O(groups) jobs on the per-table layout whose file-turnover wall
  // the store was built to remove
  private val stores =
    scala.collection.concurrent.TrieMap.empty[String, graft.cdc.ConsolidatedStore]
  private val sigDir =
    scala.collection.concurrent.TrieMap.empty[Seq[String], String]

  private def sanitizedSig(pk: Seq[String]): String =
    if (pk.nonEmpty && pk.forall(_.matches("[A-Za-z0-9_]+")))
      pk.mkString("+")
    else { // non-identifier column names: content-hash the signature
      val md = java.security.MessageDigest.getInstance("SHA-1")
      // 10 digest bytes (80 bits): at 4 bytes two distinct signatures
      // colliding into one `_store-h<hash>` dir was a realistic
      // fleet-lifetime event, and it surfaced as a confusing fleet-PK
      // mismatch failure; dir-name length costs nothing
      "h" + md.digest(pk.mkString("\n").getBytes("UTF-8"))
        .take(10).map("%02x".format(_)).mkString
    }

  private def openStore(dirName: String): graft.cdc.ConsolidatedStore =
    stores.getOrElseUpdate(dirName, new graft.cdc.ConsolidatedStore(
      spark, s"$rootPath/$dirName", pkColsFor, numBuckets,
      consolidatedCheckpointInterval))

  /** Register every on-disk store (a restarted router, or one opened
    * on a root another worker writes). A legacy single-fleet `_store`
    * dir claims its committed PK signature, so pre-grouping layouts
    * keep working; a store dir with no commit yet carries no state and
    * maps to nothing. */
  private def discoverStores(): Unit = {
    val root = Paths.get(rootPath)
    if (Files.exists(root)) {
      val committed = Fs.withListing(root)(_.toSeq)
        .map(_.getFileName.toString).sorted
        .filter(n => (n == "_store" || n.startsWith("_store-")) &&
          Files.isDirectory(root.resolve(n)))
        .flatMap(n => openStore(n).pkSignature.map(_ -> n))
      // one committed dir per signature, EVER — validated over the
      // whole listing before any claim, so Files.list enumeration
      // order can never pick a write target among duplicates. Two
      // committed dirs sharing a signature (a rolling upgrade writing
      // legacy `_store` after a grouped writer created `_store-<sig>`
      // is the realistic path) would silently split the group's state
      // across dirs — refuse loudly; the fix is an offline merge.
      committed.groupBy(_._1).foreach { case (pk, dirs) =>
        require(dirs.size == 1,
          s"${dirs.size} committed consolidated stores claim PK " +
            s"signature ${pk.mkString("(", ", ", ")")}: " +
            dirs.map(d => s"'${d._2}'").mkString(", ") +
            " — the group's state is split across two dirs (rolling " +
            "upgrade with a legacy writer?); merge them before " +
            "routing more batches")
        val prev = sigDir.putIfAbsent(pk, dirs.head._2)
        require(prev.forall(_ == dirs.head._2),
          s"PK signature ${pk.mkString("(", ", ", ")")} was bound to " +
            s"'${prev.get}' but disk now holds it committed in " +
            s"'${dirs.head._2}' — the group's state is split across " +
            "two dirs; merge them before routing more batches")
      }
    }
  }

  /** The merge target for one PK-signature group (consolidated mode).
    * Existing dirs (legacy `_store` included) are reused; a new
    * signature gets `_store-<sig>`. */
  def storeFor(pk: Seq[String]): graft.cdc.ConsolidatedStore = {
    require(consolidated, "storeFor is only available in consolidated mode")
    sigDir.get(pk) match {
      case Some(d) => openStore(d)
      case None =>
        discoverStores()
        openStore(sigDir.getOrElseUpdate(pk, {
          val fresh = s"_store-${sanitizedSig(pk)}"
          // the 4→10-byte hash widening renamed hashed-signature dirs.
          // A COMMITTED legacy dir is rebound above via pkSignature
          // discovery, but an UNCOMMITTED one (created by the old
          // writer, first CAS still pending or crashed) is invisible
          // to discoverStores — minting `fresh` beside it would orphan
          // its staged work and leave two dirs for one signature, so
          // adopt the legacy name when it exists and `fresh` doesn't
          legacyHashedDir(pk)
            .filter(old => old != fresh &&
              Files.isDirectory(Paths.get(rootPath, old)) &&
              !Files.isDirectory(Paths.get(rootPath, fresh)))
            .getOrElse(fresh)
        }))
    }
  }

  /** The pre-widening (4-byte-hash) dir name for a non-identifier PK
    * signature; None for identifier signatures (their names never
    * changed). */
  private def legacyHashedDir(pk: Seq[String]): Option[String] =
    if (pk.nonEmpty && pk.forall(_.matches("[A-Za-z0-9_]+"))) None
    else {
      val md = java.security.MessageDigest.getInstance("SHA-1")
      Some("_store-h" + md.digest(pk.mkString("\n").getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString)
    }

  /** All consolidated stores (registry ∪ disk), by dir name. */
  def allStores: Map[String, graft.cdc.ConsolidatedStore] = {
    require(consolidated, "stores are only available in consolidated mode")
    discoverStores()
    stores.toMap
  }

  /** The fleet's consolidated merge target when the fleet has ONE PK
    * shape (consolidated mode only) — state reads are
    * `store.state(table)`. Mixed-PK fleets hold one store per
    * signature: address them via [[storeFor]] / [[allStores]]. */
  def store: graft.cdc.ConsolidatedStore = {
    require(consolidated, "store is only available in consolidated mode")
    allStores.values.toSeq match {
      case Seq(one) => one
      case Seq() =>
        // nothing committed yet: `store` resolves AMONG existing
        // stores, and before the first applyBatch there are none — a
        // pre-apply caller (hooks, location probes) must name its
        // group via storeFor(pk), which creates/claims the exact
        // instance the first applyBatch will use
        throw new IllegalStateException(
          "no consolidated store exists yet — apply a batch first, or " +
            "open a specific group via storeFor(pk)")
      case many => throw new IllegalStateException(
        s"mixed-PK fleet has ${many.size} stores — address a group via " +
          "storeFor(pk) or iterate allStores")
    }
  }

  private val rootAbs = Paths.get(rootPath).toAbsolutePath.normalize

  def table(name: String): CdcTable = {
    require(!consolidated,
      "consolidated mode: read through store.state(table), there are " +
        "no per-table CdcTables")
    // table names come from DATA (decoded change events): a name like
    // ".." or "a/../../x" would resolve the table dir OUTSIDE the
    // router root and the staged commit (or the per-table write)
    // would rename bucket dirs there — fail loudly instead
    val resolved = rootAbs.resolve(name).normalize
    require(resolved.getParent == rootAbs && resolved != rootAbs,
      s"table name '$name' escapes the router root")
    tables.getOrElseUpdate(name,
      new CdcTable(spark, s"$rootPath/$name", pkColsFor(name), numBuckets))
  }

  def knownTables: Seq[String] =
    if (consolidated) allStores.values.flatMap(_.knownTables).toSeq.sorted
    else tables.keys.toSeq.sorted

  /** Current state of one table in consolidated mode, whichever
    * PK-group store holds it (driver-side manifest lookups only). */
  def stateOf(name: String): Option[DataFrame] = {
    require(consolidated,
      "stateOf reads the consolidated stores; pool-path state is " +
        "table(name).state")
    storeFor(pkColsFor(name)).state(name)
  }

  /** Database-level DDL history (CREATE_DATABASE). */
  def databaseDdlEvents: Seq[String] = Fs.readLines(rootDdl)

  private def emitCreateDatabaseOnce(): Unit =
    if (!Files.exists(rootDdl)) {
      Files.createDirectories(rootDdl.getParent)
      Fs.appendLines(rootDdl,
        Seq(s"""{"event": "CREATE_DATABASE", "database": "$databaseName"}"""))
    }

  /** Apply one (possibly multi-table) batch of decoded change events.
    * Direct callers get the same allowlist scope as the stream path.
    * The batch persists for the scope of the call unless the caller
    * already persisted it — it is read once per distinct table plus
    * once for routing, and upstream is an Avro decode. An empty batch
    * commits nothing.
    *
    * Per-table merges run CONCURRENTLY (bounded pool): each targets
    * its own independent bucket dirs, and the merges are small jobs
    * whose latency is scheduling, not data — serializing them makes a
    * thousand-table batch a thousand round-trips. Merge jobs are
    * submitted from pool threads; Spark schedules them side by side. */
  def applyBatch(events0: DataFrame, batchId: Long): Unit = {
    val scoped =
      if (allowlist.allowsAll) events0
      else events0.filter(allowlist.filter(col("schema_name"), col("table_name")))
    Persist.scoped(scoped)(events =>
      if (consolidated) applyConsolidated(events, batchId)
      else applyPerTable(events, batchId))
  }

  /** [[applyBatch]] on the consolidated layout, over a persisted batch. */
  private def applyConsolidated(events: DataFrame, batchId: Long): Unit = {
    // one merge job + ONE CAS per PK-signature group (the common
    // uniform fleet is one group = one fleet-wide CAS, all-or-
    // nothing visibility; a mixed fleet gets one consolidated store
    // per signature — atomic WITHIN each group, the same partial-
    // failure unit as the grouped partitioned apply, at consolidated
    // physics). CREATE_DATABASE keys off a store actually holding a
    // commit, so an empty batch emits nothing — same contract as the
    // per-table path's names.nonEmpty gate.
    val names = events.select(col("table_name")).distinct()
      .collect().map(_.getString(0)).sorted
    val groups = names.toSeq.groupBy(pkColsFor).toSeq
      .sortBy(_._2.head)
    groups match {
      case Seq() => ()
      case Seq((pk, _)) => // whole batch, no routing filter
        storeFor(pk).applyBatch(events, batchId); ()
      case gs =>
        // disjoint table sets → independent store CASes: overlap them
        settleAll(4, gs.map { case (pk, g) => () =>
          storeFor(pk).applyBatch(
            events.filter(col("table_name").isin(g: _*)), batchId)
        })
    }
    if (names.nonEmpty &&
      stores.values.exists(_.currentVersion.isDefined))
      emitCreateDatabaseOnce()
  }

  /** [[applyBatch]] on the per-table layouts, over a persisted batch. */
  private def applyPerTable(events: DataFrame, batchId: Long): Unit = {
    val names = events.select(col("table_name")).distinct()
      .collect().map(_.getString(0)).sorted
    if (names.nonEmpty) emitCreateDatabaseOnce()
    val (groups, poolNames) =
      if (names.isEmpty) (Nil, Nil) else planApply(events, names)
    lastApplyPlan = (groups, poolNames)
    def applyGroup(g: Seq[String]): Unit = {
      // the common homogeneous fleet is ONE group == the whole
      // batch: skip the routing filter so the plan is unchanged
      val scopedToGroup =
        if (g.length == names.length) events
        else events.filter(col("table_name").isin(g: _*))
      applyBatchPartitioned(scopedToGroup, g, batchId)
    }
    if (groups.length == 1) applyGroup(groups.head)
    else if (groups.nonEmpty)
      // groups touch DISJOINT table sets, so their single-job
      // applies are independent — overlap them (each job's wall is
      // part driver-side commit loop, which would otherwise
      // serialize)
      settleAll(4, groups.map(g => () => applyGroup(g)))
    // Partial-failure replay semantics: the foreachBatch retry
    // re-applies the batch, and tables that already committed commit
    // an extra version — final STATE is idempotent via the PK merge
    // (CdcTable.applyBatch), but per-table version counts may diverge
    // across a retried batch.
    settleAll(mergePoolWidth, poolNames.map(name => () =>
      table(name).applyBatch(
        events.filter(col("table_name") === name), batchId)))
  }

  /** Run `tasks` on a fixed pool of at most `width` threads and
    * settle EVERY one (Try-wrapped) before propagating the first
    * failure: Future.sequence rethrows on the first failed future
    * while siblings are still running, which would (a) let the
    * caller's finally-block unpersist the batch under a live job and
    * (b) hide sibling outcomes. */
  private def settleAll(width: Int, tasks: Seq[() => Any]): Unit =
    if (tasks.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(width, tasks.length)))
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val settled = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(tasks.map(t =>
            scala.concurrent.Future(t())
              .transform(r => scala.util.Success(r)))),
          scala.concurrent.duration.Duration.Inf)
        settled.collectFirst { case scala.util.Failure(e) => throw e }
        ()
      } finally pool.shutdown()
    }

  /** The last applyBatch's dispatch decision: (partitioned-apply
    * groups, pool-path tables). Introspection for specs and ops
    * panels — the dispatch itself is [[planApply]]. */
  @volatile private[graft] var lastApplyPlan
      : (Seq[Seq[String]], Seq[String]) = (Nil, Nil)

  /** Dispatch plan for one batch: group the routed tables by
    * PK-SIGNATURE and send each group of at least
    * `partitionedApplyMinTables` through its own single-job
    * partitioned apply; everything else — undersized groups, drifted
    * tables (committed payload ≠ incoming), names the staged commit
    * can't stage — falls to the per-table pool. A heterogeneous fleet
    * thus costs O(groups) jobs, not O(tables): the round-11 all-or-
    * nothing eligibility sent a 2,000-table fleet with two PK shapes
    * all the way back to 2,000 pool jobs.
    *
    * Pure driver-side checks — pkColsFor calls plus one
    * `_schema.json` read per existing table. Within one batch the
    * incoming payload struct is a single schema (one DataFrame), so
    * payload uniformity inside a group is automatic; only DRIFT
    * (table's committed schema differs) demotes a table, because the
    * per-table path owns schema alignment. */
  private def planApply(events: DataFrame, names: Array[String])
      : (Seq[Seq[String]], Seq[String]) = {
    val incoming = events.schema("row").dataType
      .asInstanceOf[StructType].simpleString
    def eligible(n: String): Boolean =
      // the staged write's partition dirs carry the raw table name;
      // Spark percent-escapes special chars in partition values, so a
      // name outside the identifier charset would stage under an
      // escaped dir the commit loop can't resolve — those tables stay
      // on the per-table path. Pure-dot names ("." / "..") pass the
      // charset but resolve OUTSIDE the router root; table(n) below
      // rejects them (and any other escaping name) loudly.
      n.matches("[A-Za-z0-9_.-]+") && !n.forall(_ == '.') && {
        val t = table(n)
        t.currentVersion.isEmpty || {
          // legacy table without _schema.json: persist it once here,
          // or this check re-pays a mergeSchema scan every batch
          t.ensureSchemaFile()
          t.payloadSchema.exists(_.simpleString == incoming)
        }
      }
    val (ok, demoted) = names.toSeq.partition(eligible)
    val (big, small) = ok.groupBy(pkColsFor).values.toSeq
      .partition(_.size >= partitionedApplyMinTables)
    (big.map(_.sorted).sortBy(_.head), (demoted ++ small.flatten).sorted)
  }

  /** Single-job partitioned apply — the many-small-tables regime
    * (SURVEY §7.4's thousands-of-tables north star). The pool path
    * runs one Spark job per table per micro-batch: correct, but at
    * 1,000 tables that is ~1,000 job-scheduling round-trips per 30 s
    * trigger — the driver becomes the bottleneck while every job is
    * tiny. Here the WHOLE batch merges in one Catalyst plan — one
    * multi-table collapse aggregate, one full-outer join against the
    * union of every table's touched bucket dirs (table recovered from
    * the file path), one write partitioned by (table, bucket) — and
    * each table then COMMITS with pure driver-side renames through
    * the same CAS-guarded manifest publish as the per-table path
    * (CdcTable.commitStaged). Shuffle volume is identical to the pool
    * path's sum; job count drops from O(tables) to O(1).
    *
    * Partial-failure semantics match the pool path: the merged write
    * is all-or-nothing, and a crash mid-commit-loop leaves some
    * tables committed — the foreachBatch retry re-applies the batch
    * and the sort-key-guarded merge keeps final state idempotent. */
  private def applyBatchPartitioned(events: DataFrame,
      names: Seq[String], batchId: Long): Unit = {
    val pk = pkColsFor(names.head)
    val incomingPayload =
      events.schema("row").dataType.asInstanceOf[StructType]
    // one job: which (table, bucket) does the batch touch?
    val bCol = pmod(xxhash64(pk.map(c => col(s"row.$c")): _*),
      lit(numBuckets)).cast("int")
    val touched = events
      .select(col("table_name"), bCol.as("_bucket")).distinct()
      .collect().map(r => (r.getString(0), r.getInt(1)))
      .groupBy(_._1).map { case (n, bs) => n -> bs.map(_._2).toSet }
    // driver-side manifest resolve: every touched bucket dir, across
    // all tables, read as ONE parquet relation (the table rides in
    // the path — rootPath/<table>/b<bucket>-v<version>/part-*).
    // Versions are CAPTURED here, with the bucket maps, and passed to
    // each commit as its optimistic-concurrency base: a writer that
    // commits to any of these tables between this read and the
    // commit loop must surface as a CAS conflict, not be merged over.
    val basedOn = names.map(n => n -> table(n).versionedBucketDirs).toMap
    val priorDirs = names.flatMap { n =>
      val dirs = basedOn(n)._2
      touched.getOrElse(n, Set.empty[Int]).toSeq.sorted
        .flatMap(dirs.get).distinct.map(d => s"$rootPath/$n/$d")
    }
    // uniform payload is an eligibility precondition, so the state
    // schema is KNOWN (payload ++ meta cols): pass it explicitly —
    // mergeSchema inference over T×buckets footers would pay a whole
    // extra distributed pass before any merge work
    val stateSchema = StructType(incomingPayload.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_is_deleted",
        org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("_sequence_num",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_sort_key",
        events.schema("sort_key").dataType)))
    val prior: Option[DataFrame] =
      if (priorDirs.isEmpty) None
      else Some(spark.read.schema(stateSchema).parquet(priorDirs: _*)
        .withColumn("table_name",
          regexp_extract(input_file_name(), "/([^/]+)/[^/]+/[^/]+$", 1)))
    val merged = graft.cdc.Apply.mergeMulti(prior, events,
        "table_name", pk, sequenceNum = batchId)
      .withColumn("_bucket",
        pmod(xxhash64(pk.map(col): _*), lit(numBuckets)).cast("int"))
      // co-locate each (table, bucket) before the partitioned write:
      // without it every one of the shuffle's tasks appends a file to
      // every output dir — T×buckets×tasks tiny files, the cost that
      // swamped the single-job saving at 256 tables
      .repartition(col("table_name"), col("_bucket"))
    val staging = Paths.get(rootPath).resolve(
      s"_staging-mb$batchId-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("table_name", "_bucket")
        .parquet(staging.toString)
      // per-table commit: pure FS renames + one manifest CAS each
      names.foreach { n =>
        val staged = Fs.withListing(staging.resolve(s"table_name=$n"))(_.toSeq)
          .filter(_.getFileName.toString.startsWith("_bucket="))
          .map(p => p.getFileName.toString.stripPrefix("_bucket=").toInt -> p)
        table(n).commitStaged(staged, incomingPayload, basedOn(n)._1)
      }
    } finally Fs.deleteRecursively(staging)
  }

  /** Reap router-root `_staging-mb*` dirs orphaned by a hard crash
    * during a partitioned apply (the per-TABLE staging sweep,
    * CdcTable.sweepStaging, does not cover the router root). Age-
    * gated by the NEWEST mtime found anywhere UNDER the dir, same as
    * the table sweep: a long partitioned parquet write mutates only
    * nested `table_name=/_bucket=` entries, so a live apply outlasting
    * `maxAgeMs` would look idle at the root and be swept mid-write —
    * the recursion tracks actual write activity (graft.util.Fs). An
    * orphan is never referenced by any manifest, so deleting it can
    * only reclaim space. Returns the paths removed — call from the
    * same maintenance cadence as the table sweeps. */
  def sweepStaging(maxAgeMs: Long = 60L * 60 * 1000): Seq[String] = {
    val root = Paths.get(rootPath)
    if (!Files.exists(root)) return Nil
    val cutoff = System.currentTimeMillis() - maxAgeMs
    Fs.withListing(root)(_.toSeq).filter { p =>
      p.getFileName.toString.startsWith("_staging-mb") &&
        Fs.newestMtime(p) < cutoff
    }.map { p => Fs.deleteRecursively(p); p.toString }
  }

  /** Mid-stream table ADDITION — the reference's stream-update CRUD
    * leg (the control plane updates the stream's table list and
    * triggers a backfill for the newly added tables while existing
    * tables keep streaming; allowlist semantics util/Utils.java:
    * 297-342). Discipline:
    *
    *  1. STOP the running query FIRST — a file committed between a
    *     backfill listing and the stop would slip the new tables
    *     forever (the old stream's checkpoint marks it done under the
    *     old allowlist and never replays it);
    *  2. batch-apply ONLY the added tables' rows from every
    *     currently-available source file — their dump AND the
    *     historical CDC the old checkpoint already committed;
    *  3. restart from the SAME checkpoint under the widened allowlist
    *     — uncommitted/new files flow for all tables. Overlap between
    *     the backfill batch and the stream's uncommitted tail is
    *     harmless: the sort-key-guarded PK merge is replay-idempotent
    *     (MergePropertySpec), the same property that lets backfill and
    *     CDC interleave on first start.
    *
    * Returns the widened router (same state dirs — per-table state is
    * persistent under `rootPath`) and the restarted query. The
    * backfill batch merges at sequence −1 like dump-first: LWW by
    * sort keys makes batch numbering invisible to final state. */
  def widen(added: Seq[String], running: StreamingQuery,
      sourceGlob: String, schema: StructType, checkpoint: String,
      decodeOpts: Decode.Options = Decode.Options(),
      trigger: Trigger = Trigger.AvailableNow())
      : (CdcRouter, StreamingQuery) = {
    // an allow-everything router already replicates every table —
    // appending patterns to an EMPTY pattern list would silently
    // NARROW replication to only `added` (empty means "*.*"), dropping
    // every other table's post-widen changes
    require(!allowlist.allowsAll,
      "widen on an allow-all router: every table already replicates " +
        "(adding patterns would narrow the allowlist, not widen it)")
    running.stop()
    running.awaitTermination()
    val widened = new CdcRouter(spark, rootPath, pkColsFor, numBuckets,
      TableAllowlist(allowlist.patterns ++ added), databaseName,
      filenameKeyed, mergePoolWidth, partitionedApplyMinTables,
      consolidated, consolidatedCheckpointInterval)
    val addedOnly = TableAllowlist(added)
    val envelope = DatastreamAvro.read(spark, sourceGlob, Some(schema),
      pathFilter =
        if (filenameKeyed) addedOnly.pathFilter(col("path")) else None)
    val backfill = Decode.changeEvents(envelope,
      decodeOpts.copy(allowlist = addedOnly))
    if (!backfill.isEmpty) widened.applyBatch(backfill, -1L)
    (widened, widened.start(sourceGlob, schema, checkpoint, decodeOpts,
      trigger))
  }

  /** Signal-gated maintenance for the CONSOLIDATED fleet — the
    * router-level analog of CdcStream's per-table compact+vacuum
    * cadence (the reference's 90 s TTL task,
    * DatastreamEventReader.java:96,172): compact ONLY when
    * [[graft.cdc.ConsolidatedStore.scatterSignal]] says the
    * sparse-touch scatter crossed a bar (an every-cadence compact
    * would rewrite the whole fleet each time), then vacuum
    * unreferenced segments and reap orphaned router staging.
    * Pool-path fleets maintain per table through CdcStream's own
    * cadence — calling this there is a config error, refused loudly.
    * Returns everything removed. */
  def maintain(maxSegments: Int = 16, maxAmplification: Double = 2.0,
      keepVersions: Int = 2,
      maxAgeMs: Long = 60L * 60 * 1000): Seq[String] = {
    require(consolidated,
      "maintain() drives the consolidated stores; pool-path tables " +
        "compact/vacuum on CdcStream's per-table cadence")
    allStores.values.toSeq.flatMap { st =>
      if (st.scatterSignal(maxSegments, maxAmplification)
          .exists(_.needsCompact)) { st.compact(); () }
      st.vacuum(keepVersions, maxAgeMs)
    } ++ sweepStaging(maxAgeMs)
  }

  /** Stream a directory of avro change files into per-table targets.
    * `maintenanceEvery` > 0 (consolidated mode) runs [[maintain]]
    * with default bars on every Nth committed batch — the in-stream
    * maintenance piggyback CdcStream gives per-table pipelines. With
    * `maintenanceLease`, only the current lease holder runs it (the
    * CdcStream election discipline: compaction commits through the
    * same fleet CAS as batches, so two workers compacting
    * concurrently would trade retryable conflicts for no progress —
    * one elected maintainer, with failover when its lease ages out). */
  def start(sourceGlob: String, schema: StructType, checkpoint: String,
      decodeOpts: Decode.Options = Decode.Options(),
      trigger: Trigger = Trigger.AvailableNow(),
      maintenanceEvery: Int = 0,
      maintenanceLease: Option[(WorkerLease, String)] = None)
      : StreamingQuery = {
    val opts = decodeOpts.copy(allowlist = allowlist)
    val envelope = DatastreamAvro.readStream(spark, sourceGlob, schema,
      pathFilter =
        if (filenameKeyed) allowlist.pathFilter(col("path")) else None)
    val events = Decode.changeEvents(envelope, opts)
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // no emptiness probe: applyBatch persists the batch before its
        // first action (one decode per batch) and commits nothing for
        // an empty one
        applyBatch(batch, id)
        if (consolidated && maintenanceEvery > 0 &&
          (id + 1) % maintenanceEvery == 0) {
          val owns = maintenanceLease.forall { case (lease, me) =>
            lease.tryAcquire(me).isDefined
          }
          if (owns) { maintain(); () }
        }
      }
      .start()
  }
}
