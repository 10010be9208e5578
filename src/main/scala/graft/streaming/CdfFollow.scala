package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.CdcTable
import graft.util.Fs

/** Follow a CdcTable's commit log as a Structured Streaming query —
  * the streaming half of the change-data-feed story: downstream
  * incremental view maintenance subscribes to the table and receives
  * each commit's CDF rows (pre/post images, `changeFeedCdf`) in
  * version order.
  *
  * Spark-first design: version discovery is a DataSource V2
  * micro-batch source ([[CdcLogSource]]) whose OFFSETS are manifest
  * version numbers, checkpointed by Spark's offset log. Because the
  * log is dense, discovery is a `_LATEST`-pointer read plus tail
  * probes — never a directory listing — so a micro-batch on a table
  * with a million historical commits touches only the unseen tail
  * (the built-in file source this replaced re-listed every
  * `manifest-*.json` each batch and compacted an ever-growing
  * seen-files log into the checkpoint: both O(history), forever).
  *
  * Delivery semantics: the version offsets are exactly-once (Spark's
  * offset log), but `foreachBatch` is at-least-once — a batch retried
  * after a failure re-runs its handler. A `delivered-watermark` file
  * in the checkpoint directory (updated via atomic move after each
  * `onVersion` returns) deduplicates those retries AND cross-restart
  * replays, so `onVersion` sees each version once in normal operation
  * and once more only in the hard-crash window between its own return
  * and the watermark write. Consumers that cannot tolerate that
  * single-version crash window must be idempotent on version number.
  *
  * At 100 TB nothing here scales with table size or history: a
  * micro-batch carries version numbers, and each `changeFeedCdf(v)`
  * reads only the buckets version v re-pointed.
  */
object CdfFollow {

  /** Start following `table`. `onVersion(v, cdf)` runs once per
    * committed version (see delivery semantics above), ascending
    * within and across batches. A commit that re-pointed no bucket
    * (an empty batch) delivers its empty feed, so consumers stay
    * version-aligned; only versions whose manifest or pre-image
    * manifest was vacuumed are skipped (`changeFeedCdf` is None only
    * then). Stop via the returned query. */
  def run(spark: SparkSession, table: CdcTable,
      checkpointDir: String, onVersion: (Long, org.apache.spark.sql.DataFrame) => Unit,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    follow(spark, table.location, consolidated = false, checkpointDir,
      trigger) { v =>
      table.changeFeedCdf(v).foreach(cdf => onVersion(v, cdf))
    }

  /** Follow a CONSOLIDATED store's fleet commit log — ONE streaming
    * query (one offset log, one tail probe per trigger) subscribes a
    * downstream IVM to EVERY table in a 4,096-table fleet; per-table
    * CdfFollow loops would pay all of that per table. `onVersion(v,
    * table, cdf)` runs once per (commit, table-present-at-v) in
    * ascending version order, tables alphabetical within a commit;
    * commits that didn't re-point a table deliver its empty feed (the
    * store's changeFeedCdf contract), so consumers fold zero deltas —
    * still version-aligned. Cost per commit stays O(touched): the
    * untouched tables' feeds prune to a limit(0) on one bucket read,
    * and touched tables read only their re-pointed segments. Delivery
    * semantics (watermark dedup, single-version crash window) match
    * [[run]] with one sharper edge: the watermark advances per
    * VERSION, after all of its tables delivered — a crash mid-version
    * re-delivers ALL of that version's tables on retry, so a consumer
    * must either apply a version atomically or be idempotent on
    * (version, table), the same contract [[run]] states per version.
    * A (version, table) whose feed was vacuumed is SILENTLY skipped
    * here (the callback never fires — same graceful degradation as
    * `changeFeedCdf`); a consumer that must distinguish "no delta"
    * from "delta lost to retention" needs [[runStoreDurable]], whose
    * all-or-nothing fold records such versions as skipped. */
  def runStore(spark: SparkSession, store: graft.cdc.ConsolidatedStore,
      checkpointDir: String,
      onVersion: (Long, String, org.apache.spark.sql.DataFrame) => Unit,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    follow(spark, store.location, consolidated = true, checkpointDir,
      trigger) { v =>
      store.tablesAt(v).foreach { t =>
        store.changeFeedCdf(t, v).foreach(cdf => onVersion(v, t, cdf))
      }
    }

  /** [[runStore]] with DURABLE consumer state — the production shape
    * of the fleet IVM. [[runStore]]'s delivered-watermark survives
    * restarts while a naive consumer's fold state does not, so a
    * crash+restart silently loses every version already marked
    * delivered. Here the consumer folds each version's per-table CDF
    * deltas into `mart`, committing (state, version) as ONE atomic
    * rename per version — BEFORE the watermark advances — so after
    * any process kill the mart is an exact prefix of the FOLDED
    * version chain and the fold is exactly-once per (version, table):
    *
    *  - versions ≤ mart.version redeliver as no-ops (the mart's own
    *    guard — [[DurableMart.commit]]);
    *  - a kill MID-version discards only that version's in-memory
    *    accumulation; the watermark (< v, it advances after delivery)
    *    re-delivers ALL of the version's tables on restart and the
    *    fold restarts from the durable state.
    *
    * A version is folded ALL-OR-NOTHING: its table set and every
    * table's feed resolve first, and only a complete set folds and
    * commits. When ANY feed is unavailable — the consumer lagged past
    * the store's vacuum horizon, so pre/post segments or the commit
    * file are gone — folding the surviving subset would silently
    * commit a PARTIAL version (the exact contract violation this API
    * exists to prevent), so the version is instead recorded durably
    * as skipped ([[DurableMart.commitSkipped]]): state untouched,
    * version advanced, the gap queryable via [[DurableMart.skipped]].
    * This also keeps the startup check below honest — a wholly
    * vacuumed version advances the mart alongside the watermark
    * instead of tripping a false lost-mart refusal.
    *
    * A checkpoint whose watermark is AHEAD of the mart means the mart
    * dir was lost or swapped — the silent-loss trap this exists to
    * close — and is refused loudly before the query starts.
    *
    * `fold(state, version, table, cdf)` must be a pure function of its
    * arguments (it may re-run for a version that never commits). */
  def runStoreDurable[S](spark: SparkSession,
      store: graft.cdc.ConsolidatedStore, checkpointDir: String,
      mart: DurableMart[S],
      fold: (S, Long, String, org.apache.spark.sql.DataFrame) => S,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val marker = Paths.get(checkpointDir, "delivered-watermark")
    if (Files.exists(marker)) {
      val m = new String(Files.readAllBytes(marker)).trim.toLong
      require(m <= mart.version,
        s"checkpoint watermark says versions through $m were delivered " +
          s"but the mart only reflects ${mart.version}: the mart dir " +
          "was lost or swapped, and those versions would never " +
          "redeliver — restore the mart or start a fresh checkpoint")
    }
    // single foreachBatch thread; tables alphabetical within a
    // version. tablesAt(v) resolves the delta-manifest chain ONCE per
    // version — per-delivery resolution would charge a 4,096-table
    // fleet O(tables) chain reads per commit for a value that cannot
    // change mid-version.
    follow(spark, store.location, consolidated = true, checkpointDir,
      trigger) { v =>
      if (v > mart.version) {
        val tables = store.tablesAt(v)
        val feeds = tables.map(t => t -> store.changeFeedCdf(t, v))
        if (tables.isEmpty || feeds.exists(_._2.isEmpty))
          mart.commitSkipped(v)
        else {
          val s1 = feeds.foldLeft(mart.state) {
            case (s, (t, Some(cdf))) => fold(s, v, t, cdf)
            case (s, _) => s
          }
          mart.commit(v)(_ => s1)
        }
      }
      ()
    }
  }

  private def follow(spark: SparkSession, logDir: String,
      consolidated: Boolean, checkpointDir: String, trigger: Trigger)
      (deliver: Long => Unit): StreamingQuery = {
    val marker = Paths.get(checkpointDir, "delivered-watermark")
    def delivered(): Long =
      if (!Files.exists(marker)) -1L
      else
        try new String(Files.readAllBytes(marker)).trim.toLong
        catch { case _: Exception => -1L }
    // atomic against PROCESS failure (the crash window every gate
    // injects), not OS crash/power loss — the kernel may persist the
    // rename before the bytes. A torn watermark parses as -1
    // (delivered() above) and only causes redelivery, which the
    // consumer contract already absorbs, so fsync hardening is
    // deliberately not paid here.
    def advance(v: Long): Unit = {
      Files.createDirectories(marker.getParent)
      Fs.writeAtomic(marker, v.toString.getBytes)
    }
    val versions = spark.readStream
      .format("graft.streaming.CdcLogSource")
      .option("layout", if (consolidated) "consolidated" else "table")
      .load(logDir)
    versions.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = batch.select(col("version")).collect().map(_.getLong(0))
          .sorted
        val maxSeen = delivered()
        vs.filter(_ > maxSeen).foreach { v =>
          deliver(v)
          advance(v)
        }
        ()
      }
      .start()
  }
}
