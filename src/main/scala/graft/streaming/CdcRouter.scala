package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.{ConsolidatedStore, Decode, TableAllowlist}
import graft.sources.DatastreamAvro
import graft.util.{Fs, Persist}

/** Multiplexed multi-table CDC: ONE stream carries every table's
  * change files, and each micro-batch merges into consolidated stores
  * ([[ConsolidatedStore]]: many tables per segment file, one CAS per
  * batch). The store is chosen by the table's PK signature, so a
  * uniform fleet commits every batch with one fleet-wide CAS and a
  * mixed fleet gets one store (one CAS) per signature. This is the
  * shape that scales to thousands of tables (SURVEY §7.4): per-table
  * streams multiply driver/checkpoint overhead a thousandfold, while
  * one multiplexed stream keeps a single file log, and the store keeps
  * the files written per batch at O(shuffle partitions), not O(tables).
  *
  * DDL surface, mirroring the reference's emission order
  * (DatastreamEventReader.java:399-405 CREATE_DATABASE once; :558-570
  * CREATE_TABLE before a table's first event; :669-672 ALTER_TABLE on
  * drift): the database-level event lands in an append-only
  * `_ddl.jsonl` at the router root once a store holds a commit;
  * table-level events land in the owning store's DDL log.
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
    // the consolidated layout is the router's only layout; the
    // parameter remains for callers that name it, and only `true` is
    // accepted
    consolidated: Boolean = true,
    // manifest cadence: FULL checkpoints every N commits, delta
    // manifests between (ConsolidatedStore)
    consolidatedCheckpointInterval: Int = 8) {
  require(consolidated,
    "CdcRouter(consolidated = false): the per-table router layout is " +
      "retired — the router merges into consolidated stores only; drop " +
      "the `consolidated` argument")

  private val rootDdl = Paths.get(rootPath).resolve("_ddl.jsonl")

  refusePerTableRoot()

  /** A root written by the retired per-table layout holds one
    * committed CdcTable dir per table. Opening it would start a fresh
    * store beside that state and merge CDC against an empty prior, so
    * refuse it and name the table dirs. */
  private def refusePerTableRoot(): Unit = {
    val root = Paths.get(rootPath)
    if (Files.isDirectory(root)) {
      val tableDirs = Fs.withListing(root)(_.toSeq).filter { p =>
        !p.getFileName.toString.startsWith("_store") &&
          (Files.exists(p.resolve("_LATEST")) ||
            Files.exists(p.resolve("manifest-0.json")))
      }.map(_.toString).sorted
      require(tableDirs.isEmpty,
        s"router root $rootPath holds per-table CdcTable state " +
          tableDirs.mkString("(", ", ", ")") + " from the retired " +
          "per-table router layout; the router reads consolidated " +
          "`_store*` dirs only and would merge against an empty prior — " +
          "open a fresh root")
    }
  }

  // ---- store registry: ONE store per PK-signature group (dir = pure
  // function of the signature, so a restarted router finds the same
  // stores) — a heterogeneous 4,096-table fleet gets O(pk-shapes)
  // stores, one CAS each per batch
  private val stores =
    scala.collection.concurrent.TrieMap.empty[String, ConsolidatedStore]
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

  private def openStore(dirName: String): ConsolidatedStore =
    stores.getOrElseUpdate(dirName, new ConsolidatedStore(
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

  /** The merge target for one PK-signature group. Existing dirs (legacy `_store` included) are reused; a new
    * signature gets `_store-<sig>`. */
  def storeFor(pk: Seq[String]): ConsolidatedStore = {
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

  /** All stores (registry ∪ disk), by dir name. */
  def allStores: Map[String, ConsolidatedStore] = {
    discoverStores()
    stores.toMap
  }

  /** The fleet's merge target when the fleet has ONE PK shape — state
    * reads are `store.state(table)`. Mixed-PK fleets hold one store per
    * signature: address them via [[storeFor]] / [[allStores]]. */
  def store: ConsolidatedStore =
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

  def knownTables: Seq[String] =
    allStores.values.flatMap(_.knownTables).toSeq.sorted

  /** Current state of one table, whichever PK-group store holds it
    * (driver-side manifest lookups only). */
  def stateOf(name: String): Option[DataFrame] =
    storeFor(pkColsFor(name)).state(name)

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
    * already persisted it — it is read once for routing and once per
    * PK-signature group, and upstream is an Avro decode.
    *
    * One merge job + ONE CAS per PK-signature group: the common
    * uniform fleet is one group, so one fleet-wide CAS and all-or-
    * nothing visibility; a mixed fleet is atomic WITHIN each group.
    * CREATE_DATABASE keys off a store actually holding a commit, so an
    * empty batch commits and emits nothing. */
  def applyBatch(events0: DataFrame, batchId: Long): Unit = {
    val scoped =
      if (allowlist.allowsAll) events0
      else events0.filter(allowlist.filter(col("schema_name"), col("table_name")))
    Persist.scoped(scoped) { events =>
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
          settleAll(gs.map { case (pk, g) => () =>
            storeFor(pk).applyBatch(
              events.filter(col("table_name").isin(g: _*)), batchId)
          })
      }
      if (names.nonEmpty &&
        stores.values.exists(_.currentVersion.isDefined))
        emitCreateDatabaseOnce()
    }
  }

  /** Run `tasks` on a pool of at most 4 threads and settle EVERY one
    * (Try-wrapped) before propagating the first failure:
    * Future.sequence rethrows on the first failed future while
    * siblings are still running, which would (a) let the caller's
    * finally-block unpersist the batch under a live job and (b) hide
    * sibling outcomes. */
  private def settleAll(tasks: Seq[() => Any]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, tasks.length))
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
    * Returns the widened router (same stores — state is persistent
    * under `rootPath`) and the restarted query. The backfill batch
    * merges at sequence −1 like dump-first: LWW by sort keys makes
    * batch numbering invisible to final state. */
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
      filenameKeyed, consolidatedCheckpointInterval =
        consolidatedCheckpointInterval)
    val addedOnly = TableAllowlist(added)
    val envelope = DatastreamAvro.read(spark, sourceGlob, Some(schema),
      pathFilter =
        if (filenameKeyed) addedOnly.pathFilter(col("path")) else None)
    // no emptiness probe: applyBatch commits nothing for an empty
    // batch, and a probe would decode the backfill a second time
    widened.applyBatch(Decode.changeEvents(envelope,
      decodeOpts.copy(allowlist = addedOnly)), -1L)
    (widened, widened.start(sourceGlob, schema, checkpoint, decodeOpts,
      trigger))
  }

  /** Signal-gated fleet maintenance — the router-level analog of
    * CdcStream's per-table compact+vacuum cadence (the reference's
    * 90 s TTL task, DatastreamEventReader.java:96,172): compact ONLY
    * when [[ConsolidatedStore.scatterSignal]] says the sparse-touch
    * scatter crossed a bar (an every-cadence compact would rewrite
    * the whole fleet each time), then vacuum unreferenced segments
    * and orphaned staging. Returns everything removed. */
  def maintain(maxSegments: Int = 16, maxAmplification: Double = 2.0,
      keepVersions: Int = 2,
      maxAgeMs: Long = 60L * 60 * 1000): Seq[String] =
    allStores.values.toSeq.flatMap { st =>
      if (st.scatterSignal(maxSegments, maxAmplification)
          .exists(_.needsCompact)) { st.compact(); () }
      st.vacuum(keepVersions, maxAgeMs)
    }

  /** Stream a directory of avro change files into the fleet's stores.
    * `maintenanceEvery` > 0 runs [[maintain]] with default bars on
    * every Nth committed batch — the in-stream maintenance piggyback
    * CdcStream gives per-table pipelines. With `maintenanceLease`,
    * only the current lease holder runs it (the CdcStream election
    * discipline: compaction commits through the same fleet CAS as
    * batches, so two workers compacting concurrently would trade
    * retryable conflicts for no progress — one elected maintainer,
    * with failover when its lease ages out). */
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
        if (maintenanceEvery > 0 && (id + 1) % maintenanceEvery == 0) {
          val owns = maintenanceLease.forall { case (lease, me) =>
            lease.tryAcquire(me).isDefined
          }
          if (owns) { maintain(); () }
        }
      }
      .start()
  }
}
