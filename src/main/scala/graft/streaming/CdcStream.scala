package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcTable, Decode}
import graft.sources.DatastreamAvro
import graft.util.Persist

/** Structured-Streaming CDC pipeline: avro file stream → decode →
  * per-batch soft-delete merge, with exactly-once per file from the
  * stream checkpoint (replacing the reference's hand-rolled offset
  * state machine, DatastreamEventReader.java:302-370).
  *
  * Design notes vs the reference:
  *  - 30 s default trigger = the reference's scan cadence
  *    (DatastreamEventReader.java:95,170); tests use AvailableNow.
  *  - No snapshot→CDC phase machine BY DEFAULT: the merge's strictly-
  *    greater sort-key guard makes apply order-insensitive, so
  *    backfill and CDC files can interleave freely (the reference
  *    needed dump-first gating only because it emitted events in
  *    arrival order, ":429-467"). Late files within the 3-day SLA
  *    window simply replay idempotently. The literal two-phase
  *    discipline exists as [[startDumpFirst]] for consumers that
  *    observe phase order.
  *  - One stream can host many tables (partitioned by table name) —
  *    at 100 TB / thousands of tables, per-table driver state is the
  *    scaling bottleneck the reference would hit; here state lives in
  *    the checkpoint + the merge targets.
  */
object CdcStream {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("30 seconds")

  case class Pipeline(query: StreamingQuery, table: CdcTable)

  /** Start streaming `sourceGlob` avro files into `table`.
    *
    * @param schema envelope schema (from
    *        [[DatastreamAvro.sparkSchema]] of a sample file — explicit,
    *        never runtime-inferred, per the reference's declared-schema
    *        policy)
    */
  def start(
      spark: SparkSession,
      sourceGlob: String,
      schema: StructType,
      table: CdcTable,
      checkpoint: String,
      decodeOpts: Decode.Options = Decode.Options(),
      trigger: Trigger = Trigger.AvailableNow(),
      maintenanceEvery: Int = 0,
      modifiedAfter: Option[java.sql.Timestamp] = None,
      maxFileAge: Option[String] = None,
      pathFilter: Option[org.apache.spark.sql.Column] = None,
      processedLog: Option[String] = None,
      maintenanceLease: Option[(WorkerLease, String)] = None): Pipeline = {
    // allowlist scoping here is row-level only (inside the decode);
    // file-level pruning needs the filename-keyed layout asserted —
    // see CdcRouter(filenameKeyed = true)
    val envelope = DatastreamAvro.readStream(spark, sourceGlob, schema,
      pathFilter = pathFilter,
      modifiedAfter = modifiedAfter, maxFileAge = maxFileAge)
    val events = Decode.changeEvents(envelope, decodeOpts)
    val query = events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // persisted before the first action, so the batch's files are
        // decoded once: the pass that lists the batch's source files
        // (bounded by files-per-batch — the reference's TTL task
        // batches blob updates in hundreds the same way, ":262-277")
        // fills the cache the merge then reads
        Persist.scoped[Unit](batch) { events =>
          val batchFiles = events.select(DatastreamAvro.FilePathCol).distinct()
            .collect().map(_.getString(0)).toSeq
          if (batchFiles.nonEmpty) {
            table.applyBatch(events, id)
            // mark AFTER the merge commits — the reference stamps
            // Custom-Time only on offset-commit change (":220-228");
            // replays re-stamp idempotently (newest stamp wins)
            processedLog.foreach(
              ProcessedFiles.record(_, batchFiles, System.currentTimeMillis()))
            // periodic in-stream maintenance: the reference runs its
            // TTL/cleanup task every 3 scan cycles (90 s vs 30 s); here
            // compaction+vacuum piggyback on every Nth commit. With a
            // maintenanceLease, only the current lease holder runs it —
            // the reference's created-flag election around SetTTLTask
            // (DatastreamEventReader.java:171-173), with failover: a
            // dead owner's lease expires and a live worker takes over,
            // instead of maintenance silently stopping forever.
            if (maintenanceEvery > 0 && (id + 1) % maintenanceEvery == 0) {
              val owns = maintenanceLease.forall { case (lease, me) =>
                lease.tryAcquire(me).isDefined
              }
              if (owns) {
                table.compact()
                table.vacuum(keepVersions = 2)
              }
            }
          }
        }
      }
      .start()
    Pipeline(query, table)
  }

  /** The reference's LITERAL two-phase discipline — dump-first gating
    * + snapshot→CDC handoff (DatastreamEventReader.java:429-467) — for
    * operators that want arrival-phase semantics. The default
    * [[start]] does not need it: the sort-key-guarded merge is
    * order-insensitive, so backfill and CDC files interleave freely
    * (SURVEY §2 #5/#43). This mode exists for API parity and for
    * sinks BEYOND the merge (e.g. an ordered downstream event feed,
    * the reference's actual consumer) where phase order is observable.
    *
    * Phase 1 applies every snapshot ("backfill"-pathed) file in ONE
    * atomic batch — gated on `backfillComplete`, the analog of the
    * reference's backfill-COMPLETED poll (`:483-525`; its
    * path-stability workaround for the unreliable API is subsumed by
    * the atomic batch read — there is no window where a half-written
    * listing can commit). Phase 2 then starts the checkpointed stream
    * scoped to CDC files only (`pathFilter` pruning — snapshot blobs
    * are never avro-decoded again, the reference's post-handoff scan
    * behavior `:605-607`). The dump batch merges at `_sequence_num`
    * = -1, before every stream batch id.
    */
  def startDumpFirst(
      spark: SparkSession,
      sourceGlob: String,
      schema: StructType,
      table: CdcTable,
      checkpoint: String,
      decodeOpts: Decode.Options = Decode.Options(),
      trigger: Trigger = Trigger.AvailableNow(),
      backfillComplete: () => Boolean = () => true): Pipeline = {
    require(backfillComplete(),
      "backfill not COMPLETED: dump-first gating refuses to start " +
        "(the reference polls until the control plane reports COMPLETED)")
    val isDump = org.apache.spark.sql.functions.col("path")
      .contains("backfill")
    val dump = DatastreamAvro.read(spark, sourceGlob, Some(schema),
      pathFilter = Some(isDump))
    // the emptiness probe and the apply read ONE persisted decode: an
    // empty dump must not commit a version, and the probe alone
    // would otherwise decode the dump a second time
    Persist.scoped(Decode.changeEvents(dump, decodeOpts)) { events =>
      if (!events.isEmpty) { table.applyBatch(events, -1L); () }
    }
    start(spark, sourceGlob, schema, table, checkpoint, decodeOpts,
      trigger, pathFilter = Some(!isDump))
  }

  /** Start from a validated [[CdcConfig]]. */
  def start(spark: SparkSession, config: CdcConfig,
      schema: StructType): Pipeline = {
    val c = config.validated()
    val table = new CdcTable(spark, c.tablePath, c.primaryKeys, c.numBuckets)
    start(spark, c.sourceGlob, schema, table, c.checkpoint,
      c.decodeOptions, c.trigger, c.maintenanceEvery,
      c.modifiedAfter.map(java.sql.Timestamp.valueOf), c.maxFileAge,
      processedLog = c.processedLog)
  }

  /** Start under a [[SourceAdmin]]-managed stream: provision the
    * control-plane stream if absent, drive it to RUNNING (create →
    * start, paused → resume), then attach the pipeline to its
    * provisioned source location — the reference's startup flow, where
    * the plugin creates/starts the Datastream stream before reading
    * its bucket (DatastreamDeltaSource + util/Utils.java:548-561).
    * [[pauseManaged]] stops the query and pauses the stream; a later
    * startManaged resumes from the checkpoint exactly-once. */
  def startManaged(
      spark: SparkSession,
      admin: SourceAdmin,
      streamId: String,
      sourceGlob: String,
      schema: StructType,
      table: CdcTable,
      checkpoint: String,
      decodeOpts: Decode.Options = Decode.Options(),
      trigger: Trigger = Trigger.AvailableNow(),
      maintenanceEvery: Int = 0): Pipeline = {
    if (!admin.exists(streamId)) admin.create(streamId, sourceGlob)
    admin.state(streamId) match {
      case SourceAdmin.Created => admin.start(streamId)
      case SourceAdmin.Paused => admin.resume(streamId)
      case SourceAdmin.Running => ()
    }
    admin.awaitState(streamId, SourceAdmin.Running)
    start(spark, admin.sourceGlob(streamId), schema, table, checkpoint,
      decodeOpts, trigger, maintenanceEvery)
  }

  /** Stop the pipeline's query and pause the control-plane stream. */
  def pauseManaged(p: Pipeline, admin: SourceAdmin, streamId: String): Unit = {
    p.query.stop()
    p.query.awaitTermination()
    admin.pause(streamId)
    admin.awaitState(streamId, SourceAdmin.Paused)
  }

  /** Run a pipeline to completion over currently-available files
    * (micro-batch drain; used by tests and backfills). */
  def drain(p: Pipeline): Unit = {
    p.query.processAllAvailable()
    p.query.stop()
    p.query.awaitTermination()
  }
}
