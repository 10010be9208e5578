package graft.cdc

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.util.Fs
import graft.util.Fs.{deleteRecursively, withListing}

/** Thrown when a commit loses the version CAS (or a bucket-dir
  * publish) to another writer; the caller re-reads the current
  * version and retries. Extends the RECOVERABLE side of the failure
  * taxonomy, so any commit op wrapped in `Retry.withBackoff` retries
  * the lost race automatically — the same classification the
  * reference gives transient control-plane faults
  * (util/Utils.java:457-486). */
class ConcurrentCommitException(msg: String)
  extends graft.util.Retry.RecoverableSourceException(msg)

object CdcTable {
  /** Resolved bucket-union relations, memoized per (session, dir list
    * with per-dir mtimes). Bucket dirs are IMMUTABLE once published
    * ([[graft.util.Fs.publishDir]] is an atomic move that refuses
    * existing names; manifests CAS), so a dir set's file listing and
    * merged footer schema can only go stale if the dirs are deleted and
    * recreated at the same names — which the mtime fingerprint in the
    * key detects. A dir the driver cannot stat has no fingerprint, so
    * a read that names one is not memoized. Values are LAZY plans:
    * every action still reads the parquet bytes fresh from disk; what
    * the memo removes is the
    * per-read DRIVER cost — one file listing plus one distributed
    * mergeSchema footer-inference job per `spark.read` — that every
    * stateAt/changeFeed resolve was re-paying (guide §5 driver work,
    * §6 I/O; the c-family lifecycle gates resolve the same immutable
    * versions dozens of times per run, and at 100 TB a follower
    * folding a commit log pays this once per version per consumer).
    * Bounded: entries of stopped sessions are purged on every read
    * (they can never hit again, and their plans pin a dead context),
    * and the map is cleared wholesale past [[RelationCacheMax]] live
    * entries (values are plans, not data — the bound is about key
    * accumulation in long-lived multi-session JVMs like the test
    * runner). */
  private val RelationCacheMax = 512
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, Seq[(String, Long)]), DataFrame]()
  private def mtimeOf(p: String): Option[Long] =
    try Some(Files.getLastModifiedTime(Paths.get(p)).toMillis)
    catch { case _: Exception => None }
  private[graft] def cachedRead(spark: SparkSession, paths: Seq[String])
      (mk: => DataFrame): DataFrame = {
    relationCache.keySet.removeIf(_._1.sparkContext.isStopped)
    if (relationCache.size > RelationCacheMax) relationCache.clear()
    val stamps = paths.map(mtimeOf)
    if (stamps.contains(None)) mk
    else relationCache.computeIfAbsent((spark, paths.zip(stamps.flatten)), _ => mk)
  }

  /** The sessions keying the memo's entries, one per entry. */
  private[graft] def relationCacheSessions: Seq[SparkSession] = {
    import scala.jdk.CollectionConverters._
    relationCache.keySet.asScala.toSeq.map(_._1)
  }
}

/** Bucket-partitioned, versioned parquet table used as the CDC merge
  * target — a deliberately tiny stand-in for a lakehouse format (the
  * runtime ships no Delta/Iceberg jars) that still has the property
  * that matters at 100 TB: **a micro-batch rewrites only the PK
  * buckets it touches**, never the whole table.
  *
  * Layout:
  * {{{
  *   path/
  *     _LATEST                  // current manifest version (atomic move)
  *     manifest-<v>.json        // bucket id -> immutable bucket dir
  *     b<bucket>-v<version>/    // parquet for one PK hash bucket
  * }}}
  *
  * `applyBatch` hashes incoming PKs into `numBuckets`, reads ONLY the
  * touched buckets' current dirs (partition pruning by construction),
  * merges, writes new immutable dirs for those buckets, and commits a
  * new manifest that re-points touched buckets and carries untouched
  * ones forward. Readers resolve the manifest and union bucket dirs —
  * always a complete, consistent version; old versions remain for time
  * travel until vacuumed (the reference's 30-day purge analog).
  */
class CdcTable(
    spark: SparkSession,
    path: String,
    pkCols: Seq[String],
    numBuckets: Int = 16) {

  /** The table's root directory (commit-log followers need it). */
  def location: String = path

  private val dir = Paths.get(path)
  Files.createDirectories(dir)

  private def bucketCol =
    pmod(xxhash64(pkCols.map(col): _*), lit(numBuckets)).cast("int")

  // Crash recovery lives in ManifestTail: the manifest publish is the
  // commit point and a writer can die before updating the _LATEST
  // pointer, so the pointer read rolls forward over committed
  // manifests — including the v0 window where the pointer was never
  // written at all, and a corrupt pointer, both of which degrade to
  // probing instead of hiding committed versions or crashing.
  def currentVersion: Option[Long] =
    ManifestTail.latest(dir, -1L) match {
      case -1L => None
      case v => Some(v)
    }

  /** bucket id → relative dir name, for a manifest version. Memoized
    * per instance: a committed manifest is immutable (the version CAS
    * in [[writeManifest]] makes `manifest-<v>.json` write-once),
    * so the parse can never go stale; callers existence-check before
    * resolving, which keeps vacuum semantics intact. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Map[Int, String]]()
  private[graft] def manifest(v: Long): Map[Int, String] =
    manifestCache.computeIfAbsent(v, _ => {
      val txt = new String(Files.readAllBytes(dir.resolve(s"manifest-$v.json")))
      // minimal parser for the {"0":"b0-v1",...} shape we write
      "\"(\\d+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
        .map(m => m.group(1).toInt -> m.group(2)).toMap
    })

  private[graft] def writeManifest(v: Long, m: Map[Int, String]): Unit = {
    val body = m.toSeq.sortBy(_._1)
      .map { case (b, p) => s""""$b": "$p"""" }
      .mkString("{", ", ", "}")
    // optimistic concurrency: a lost race surfaces as a conflict
    // instead of a silent overwrite (the loser's bucket dirs are
    // unreferenced garbage for vacuum). After an OS crash the link can
    // outlive its bytes (no fsync); recovery is re-emitting the batch,
    // which the merge contract makes idempotent
    if (!ManifestTail.commit(dir, v, v => s"manifest-$v.json", body))
      throw new ConcurrentCommitException(
        s"version $v was committed by another writer; " +
          "re-read the current version and retry the batch")
  }

  private def readBuckets(dirs: Seq[String]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else {
      val paths = dirs.map(d => s"$path/$d")
      Some(CdcTable.cachedRead(spark, paths)(
        spark.read.option("mergeSchema", "true").parquet(paths: _*)))
    }

  /** Full current state (all buckets), None before the first commit. */
  def state: Option[DataFrame] =
    currentVersion.flatMap(v => readBuckets(manifest(v).values.toSeq))

  private val schemaFile = dir.resolve("_schema.json")

  private def writeSchemaFile(st: StructType): Unit =
    Fs.writeAtomic(schemaFile, st.json.getBytes)

  /** The committed payload schema. Served from `_schema.json` (written
    * on every CREATE/ALTER commit) so per-batch drift detection costs
    * one small file read — NOT a mergeSchema scan of every bucket dir,
    * which would grow with table size and break the "micro-batch cost
    * ~ touched buckets" property. Falls back to the bucket union once
    * for tables created before the schema file existed. */
  def payloadSchema: Option[StructType] =
    if (Files.exists(schemaFile))
      Some(org.apache.spark.sql.types.DataType.fromJson(
        new String(Files.readAllBytes(schemaFile))).asInstanceOf[StructType])
    else state.map(df => StructType(
      df.schema.fields.filterNot(f => Apply.MetaCols.contains(f.name))))

  /** Merge one micro-batch of decoded change events; rewrites only the
    * PK buckets present in the batch. Returns the committed version.
    *
    * The batch is persisted for the scope of this call unless the
    * caller already persisted it: it is consumed twice (touched-bucket
    * discovery, then the merge) and upstream is an Avro decode that
    * would otherwise run twice per micro-batch. */
  def applyBatch(events: DataFrame, batchId: Long): Long =
    graft.util.Persist.scoped(events)(applyBatchPersisted(_, batchId))

  private def applyBatchPersisted(events: DataFrame, batchId: Long): Long = {
    val cur = currentVersion
    val curManifest = cur.map(manifest).getOrElse(Map.empty)
    val next = cur.getOrElse(-1L) + 1

    // DDL surface (reference: CREATE_TABLE before first data,
    // ALTER_TABLE on schema drift — DatastreamEventReader.java:558-570,
    // :652-674): recorded in an append-only _ddl.jsonl next to the data
    val incomingPayload = events.schema("row").dataType.asInstanceOf[StructType]
    // (ddl line to append, schema to record in _schema.json)
    val ddlEvent: Option[(String, StructType)] = cur match {
      case None =>
        Some((createTableDdl(next, incomingPayload), incomingPayload))
      case Some(_) =>
        val curPayload = payloadSchema.get
        // legacy tables (created before _schema.json existed) resolve
        // the fallback bucket scan once and persist it, so subsequent
        // batches read the file
        if (!Files.exists(schemaFile)) writeSchemaFile(curPayload)
        SchemaDrift.diff(curPayload, incomingPayload).map { changes =>
          val widened = SchemaDrift.widen(curPayload, changes) // validates
          val added = changes.collect {
            case a: SchemaDrift.AddColumn =>
              s"\"${SchemaDrift.qualifiedName(a)}\""
          }
          (s"""{"version": $next, "event": "ALTER_TABLE", """ +
            s""""added": ${added.mkString("[", ",", "]")}, """ +
            s""""schema": ${widened.json}}""", widened)
        }
    }

    val eventBuckets = events.select(
      pmod(xxhash64(pkCols.map(c => col(s"row.$c")): _*), lit(numBuckets))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    val touchedState = readBuckets(
      eventBuckets.flatMap(b => curManifest.get(b)).toSeq.distinct)

    val merged = Apply.merge(touchedState, events, pkCols, sequenceNum = batchId)
      .withColumn("_bucket", bucketCol)

    // write touched buckets as new immutable dirs via one partitioned
    // write; the staging name carries a nonce so two writers racing
    // the same version can never overwrite each other's staging data —
    // the collision surfaces at publish time (move without replace)
    val stagingPath = newStagingDir(s"batch-v$next")
    merged.write.mode(SaveMode.Overwrite)
      .partitionBy("_bucket").parquet(stagingPath.toString)
    val staged = withListing(stagingPath)(_.toSeq)
      .filter(p => p.getFileName.toString.startsWith("_bucket="))
      .map(p => p.getFileName.toString.stripPrefix("_bucket=").toInt -> p)
    try publishAndCommit(next, curManifest, staged)
    finally deleteRecursively(stagingPath)
    ddlEvent.foreach { case (line, recordedSchema) =>
      Fs.appendLines(ddlFile, Seq(line))
      writeSchemaFile(recordedSchema)
    }
    next
  }

  private val ddlFile = dir.resolve("_ddl.jsonl")

  private def createTableDdl(v: Long, payload: StructType): String =
    s"""{"version": $v, "event": "CREATE_TABLE", """ +
      s""""pk": ${pkCols.map(c => s"\"$c\"").mkString("[", ",", "]")}, """ +
      s""""schema": ${payload.json}}"""

  /** The table's DDL history (CREATE_TABLE / ALTER_TABLE lines). */
  def ddlEvents: Seq[String] = Fs.readLines(ddlFile)

  /** A fresh, collision-proof staging directory under the table root.
    * Every writer stages under its own nonce: racing writers can share
    * a VERSION but never a staging path, so nobody's staged bytes are
    * silently clobbered by a SaveMode.Overwrite from the other side. */
  private def newStagingDir(tag: String): Path =
    dir.resolve(s"_staging-$tag-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Publish every staged bucket dir under its `b<b>-v<next>` name,
    * then commit the manifest — cleaning up THIS writer's published
    * dirs if either step loses a race. The cleanup matters: a loser's
    * published dirs are referenced by no committed manifest (its CAS
    * lost or never ran), but they squat on deterministic names; if the
    * conflict came from a bucket-name collision rather than the
    * manifest CAS, leaving them would block version `next` for every
    * later writer (see sweepStaging, which mops the crashed-writer
    * variant of the same hazard). Deleting only `published` — never
    * `dest` dirs someone ELSE won — is safe because `Fs.publishDir`
    * never replaces, so a name we published is ours: if another
    * writer already published a (bucket, version) dir, the commit
    * fails as a retryable conflict and the committed data is never
    * deleted or replaced out from under a manifest CAS. */
  private def publishAndCommit(next: Long, base: Map[Int, String],
      staged: Seq[(Int, Path)]): Map[Int, String] = {
    val published = Seq.newBuilder[Path]
    try {
      val newDirs = staged.map { case (b, p) =>
        val dest = s"b$b-v$next"
        if (!Fs.publishDir(p, dir.resolve(dest)))
          throw new ConcurrentCommitException(
            s"bucket dir $dest was published by another writer; " +
              "re-read and retry")
        published += dir.resolve(dest)
        b -> dest
      }.toMap
      writeManifest(next, base ++ newDirs)
      newDirs
    } catch {
      case e: ConcurrentCommitException =>
        published.result().foreach(deleteRecursively)
        throw e
    }
  }

  /** Current live rows (soft-deleted hidden, bookkeeping dropped). */
  def live: Option[DataFrame] = state.map(Apply.liveView)

  /** Time travel: full state at a committed version (None if the
    * manifest was vacuumed or never existed). Reading any version is
    * the same one-manifest resolve + bucket union as `state` — old
    * versions stay readable until vacuum drops their manifests. */
  def stateAt(v: Long): Option[DataFrame] =
    if (!Files.exists(dir.resolve(s"manifest-$v.json"))) None
    else readBuckets(manifest(v).values.toSeq)

  /** Change feed of version `v`: [[Apply.feed]] over the buckets `v`
    * re-pointed. Version 0 is the initial snapshot — every row is a
    * change; a commit that re-pointed nothing is an empty feed. None
    * only when `v`'s or `v-1`'s manifest is gone (vacuumed or never
    * committed). Cost is bounded by the commit, not the table. */
  def changeFeed(v: Long): Option[DataFrame] =
    feedInputs(v).map { case (post, pre) => Apply.feed(post, pre, pkCols) }

  /** CDF-style change feed of version `v` ([[Apply.cdf]]'s Delta-CDF
    * row set), over the same commit-bounded reads as [[changeFeed]]. */
  def changeFeedCdf(v: Long): Option[DataFrame] =
    feedInputs(v).map { case (post, pre) => Apply.cdf(post, pre, pkCols) }

  /** (post, pre) state of the buckets RE-POINTED at `v`, by manifest
    * diff: carried-forward buckets are never read, so a small batch
    * yields a small feed even on a huge table. `pre` is None at
    * version 0 and when every re-pointed bucket is new. A commit that
    * re-pointed nothing reads as the empty, correctly shaped post
    * image. None if `v` or its pre-image manifest `v-1` is gone —
    * checked before the manifest read, so a vacuumed pre-image is the
    * same graceful None as [[stateAt]], never a NoSuchFileException. */
  private def feedInputs(v: Long): Option[(DataFrame, Option[DataFrame])] =
    if (!Files.exists(dir.resolve(s"manifest-$v.json"))) None
    else if (v == 0) stateAt(0L).map(_ -> None)
    else if (!Files.exists(dir.resolve(s"manifest-${v - 1}.json"))) None
    else {
      val curM = manifest(v)
      val prevM = manifest(v - 1)
      val repointed = curM.filter { case (b, d) => !prevM.get(b).contains(d) }
      if (repointed.isEmpty) stateAt(v).map(df => (df.limit(0), None))
      else readBuckets(repointed.values.toSeq).map(post =>
        (post, readBuckets(repointed.keys.flatMap(prevM.get).toSeq)))
    }

  /** Point lookup: read ONLY the PK-hash buckets the keys fall in.
    * `keys` is a small DataFrame with exactly the PK columns (a point
    * or IN-list lookup, so collecting its distinct bucket ids is a
    * bounded driver op — at most |keys| values). At 100 TB this is the
    * difference between unioning every bucket dir and touching the
    * handful the keys hash to; the residual semi-join broadcasts the
    * keys so the pruned buckets stream through one scan. */
  def lookup(keys: DataFrame): Option[DataFrame] = currentVersion.flatMap { v =>
    val m = manifest(v)
    // xxhash64 hashes VALUES AS TYPED: an INT key against a BIGINT PK
    // column hashes to a different bucket and the pruned read would
    // silently miss rows. Normalize the caller's key columns to the
    // committed PK types first (fail fast if a PK column is absent).
    val pkTypes = payloadSchema.map(st =>
      pkCols.map(c => c -> st.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"lookup: PK column '$c' missing from committed schema")).dataType))
    val normKeys = pkTypes match {
      case Some(ts) => keys.select(ts.map { case (c, t) =>
        col(c).cast(t).as(c) }: _*)
      case None => keys.select(pkCols.map(col): _*)
    }
    val wanted = normKeys
      .select(pmod(xxhash64(pkCols.map(col): _*), lit(numBuckets))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    readBuckets(m.filter { case (b, _) => wanted(b) }.values.toSeq)
      .map(_.join(broadcast(normKeys), pkCols, "left_semi"))
  }

  private val statsFile = dir.resolve("_filestats.jsonl")

  /** Range-cluster every bucket by numeric column `c` (the
    * single-dimension OPTIMIZE..ZORDER analog): each bucket rewrites
    * as up to `filesPerBucket` files with disjoint `c` ranges (range
    * partition + sort within file), and per-file [min,max] stats land
    * in an append-only sidecar keyed by the immutable file path — so
    * stats never go stale: later merges re-point buckets to NEW files,
    * which simply have no stats and stay unpruned until the next
    * clustering pass (the lakehouse OPTIMIZE freshness model).
    * Values serialize exactly (no double round-trip), so pruning is
    * exact for long keys beyond 2^53 too. */
  def clusterBy(c: String, filesPerBucket: Int = 4): Option[Long] =
    clusterZOrder(Seq(c), filesPerBucket)

  /** Multi-column Z-order clustering: rows order by the bit-interleave
    * of fixed-width bins over each column's global [min,max], so every
    * file covers a small hyper-rectangle and `scanWhere` prunes on ANY
    * of the clustered columns — the property single-column clustering
    * cannot give. One column degenerates to exact range clustering
    * (sorted by the raw value, not its bin). Bin width is 24 bits
    * split across the columns; bin edges come from one global min/max
    * scan (a maintenance-time table scan, like OPTIMIZE itself). */
  def clusterZOrder(cols: Seq[String], filesPerBucket: Int = 4): Option[Long] =
    currentVersion.map { v =>
      val m = manifest(v)
      val next = v + 1
      // stats pruning compares exact numerics; fail fast on a
      // non-numeric clustering column instead of writing stats that a
      // later scanWhere cannot parse
      val schema = state.get.schema
      cols.foreach { c =>
        val f = schema.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"clusterBy: no column '$c'"))
        if (!f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
          throw new IllegalArgumentException(
            s"clusterBy: column '$c' is ${f.dataType.simpleString}; " +
              "stat-pruned clustering needs a numeric column")
      }
      val sortCol: Column =
        if (cols.size == 1) col(cols.head)
        else {
          val bits = 24 / cols.size
          val nBins = 1 << bits
          val ranges = state.get.agg(
            cols.flatMap(c => Seq(min(col(c)).cast("double").as(s"mn_$c"),
              max(col(c)).cast("double").as(s"mx_$c"))).head,
            cols.flatMap(c => Seq(min(col(c)).cast("double").as(s"mn_$c"),
              max(col(c)).cast("double").as(s"mx_$c"))).tail: _*)
            .collect().head
          val bins = cols.zipWithIndex.map { case (c, ci) =>
            // an all-null column yields null range: every row bins to 0
            val mn = if (ranges.isNullAt(2 * ci)) 0.0
              else ranges.getDouble(2 * ci)
            val mx = if (ranges.isNullAt(2 * ci + 1)) 0.0
              else ranges.getDouble(2 * ci + 1)
            val span = if (mx > mn) mx - mn else 1.0
            least(lit(nBins - 1), greatest(lit(0),
              floor((col(c).cast("double") - lit(mn)) / lit(span) * nBins)
                .cast("int")))
          }
          // interleave: bit i of column ci lands at position
          // i*cols.size + (cols.size-1-ci)
          (0 until bits).flatMap { i =>
            bins.zipWithIndex.map { case (b, ci) =>
              shiftleft(b.bitwiseAND(lit(1 << i)).cast("long"),
                i * (cols.size - 1) + (cols.size - 1 - ci))
            }
          }.reduce(_ + _)
        }
      // stage the rewrite, then publish move-without-replace: a racing
      // applyBatch that already committed b<b>-v<next> keeps its data
      // and this maintenance pass fails loudly as a conflict
      val stagingPath = newStagingDir(s"zorder-v$next")
      val staged = m.toSeq.map { case (b, d) =>
        val dest = s"b$b-v$next"
        spark.read.parquet(s"$path/$d")
          .withColumn("__z", sortCol)
          .repartitionByRange(filesPerBucket, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode(SaveMode.Overwrite)
          .parquet(stagingPath.resolve(dest).toString)
        b -> stagingPath.resolve(dest)
      }
      // per-file stats from the STAGED data (identical bytes: publish
      // is an atomic dir move preserving part-file names, so the
      // relative "b<b>-v<next>/part-*" keys match the published
      // layout); all-null files get no stats line and simply stay
      // unpruned. The lines are written only after the manifest CAS
      // succeeds: a lost race or a crash before commit leaves no
      // stats file — zero orphan stats lines can ever exist for an
      // uncommitted version (DataSkippingSpec injects the race). A
      // crash in the window AFTER the commit merely loses the stats:
      // the new files scan unpruned until the next clustering pass
      // (the OPTIMIZE freshness model — pruning is an optimization,
      // never a correctness gate).
      val statRows = spark.read
        .parquet(staged.map(_._2.toString): _*)
        .groupBy(input_file_name().as("f"))
        .agg(cols.flatMap(c =>
          Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))).head,
          cols.flatMap(c =>
            Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))).tail: _*)
        .collect()
      val statLines = statRows.flatMap { r =>
        val rel = r.getString(0).split("/").takeRight(2).mkString("/")
        cols.zipWithIndex.flatMap { case (c, ci) =>
          (Option(r.get(1 + 2 * ci)), Option(r.get(2 + 2 * ci))) match {
            case (Some(mn), Some(mx)) => Some(
              s"""{"file": "$rel", "col": "$c", """ +
                s""""min": "$mn", "max": "$mx"}""")
            case _ => None
          }
        }
      }
      try publishAndCommit(next, m, staged)
      finally deleteRecursively(stagingPath)
      writeLines(dir.resolve(s"_filestats-$next.jsonl"), statLines.toSeq)
      next
    }

  /** All stats sidecar text: the per-version `_filestats-<v>.jsonl`
    * files (each visible only after its version's manifest CAS — see
    * clusterZOrder) plus the legacy append-only `_filestats.jsonl`
    * for tables written before the versioned discipline. Stats are
    * keyed by immutable relative file path, so lines for files no
    * longer in the current manifest are inert, never wrong. */
  private def statsText: String = {
    val legacy =
      if (Files.exists(statsFile)) Seq(new String(Files.readAllBytes(statsFile)))
      else Nil
    val versioned = withListing(dir)(_.toSeq
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("_filestats-") && n.endsWith(".jsonl"))
      .sorted)
      .map(n => new String(Files.readAllBytes(dir.resolve(n))))
    (legacy ++ versioned).mkString("\n")
  }

  /** Recorded [min,max] per relative file path for column `c`. */
  private def fileStats(c: String): Map[String, (BigDecimal, BigDecimal)] =
    ("\\{\"file\": \"([^\"]+)\", \"col\": \"" +
      java.util.regex.Pattern.quote(c) +
      "\", \"min\": \"([^\"]+)\", \"max\": \"([^\"]+)\"\\}").r
      .findAllMatchIn(statsText)
      .map(m => m.group(1) -> (BigDecimal(m.group(2)), BigDecimal(m.group(3))))
      .toMap

  /** (kept, total) data files for `c BETWEEN lo AND hi` at the current
    * version: files whose stats range misses [lo, hi] are pruned;
    * files without stats are kept (pruning is an optimization, never a
    * correctness gate). Exposed so callers — and the spec — can see
    * the skip rate. */
  def filesFor(c: String, lo: BigDecimal, hi: BigDecimal): (Seq[String], Int) = {
    val dirs = currentVersion.map(v => manifest(v).values.toSeq)
      .getOrElse(Nil)
    val files = dirs.flatMap(d => withListing(dir.resolve(d))(
      _.toSeq.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).map(f => s"$d/$f")))
    val stats = fileStats(c)
    val kept = files.filter(f => stats.get(f)
      .forall { case (mn, mx) => mx >= lo && mn <= hi })
    (kept, files.size)
  }

  /** Stat-pruned range scan: rows with `c BETWEEN lo AND hi`, reading
    * only the files [[filesFor]] keeps. After [[clusterBy]] on `c`,
    * a selective range touches ~1/filesPerBucket of each bucket. */
  def scanWhere(c: String, lo: BigDecimal, hi: BigDecimal): Option[DataFrame] =
    currentVersion.map { v =>
      val (kept, _) = filesFor(c, lo, hi)
      val base =
        if (kept.nonEmpty)
          spark.read.option("mergeSchema", "true")
            .parquet(kept.map(f => s"$path/$f"): _*)
        else readBuckets(manifest(v).values.toSeq).get // empty after filter
      base.filter(col(c) >= lit(lo.underlying()) &&
        col(c) <= lit(hi.underlying()))
    }

  /** Zero-copy (shallow) clone at version `v`: a NEW table at
    * `destPath` whose version-0 manifest references THIS table's
    * committed bucket dirs — no data is copied, the Delta/Iceberg
    * SHALLOW CLONE semantics. The clone evolves independently: its
    * own commits write under its own root and re-point buckets away
    * from the source; untouched buckets keep reading the source's
    * immutable dirs.
    *
    * The source records a back-reference (`_clones.jsonl`: dest path +
    * cloned version) so its vacuum passes keep every bucket dir the
    * cloned version references — a clone stays readable across source
    * retention, the Delta/Iceberg "clones pin their snapshot" rule.
    * The pin is conservative: it holds the WHOLE cloned version even
    * after the clone re-points buckets away, until `forgetClone`
    * releases it (the clone-drop analog). Returns None if version `v`
    * is not readable. */
  def cloneAt(v: Long, destPath: String): Option[CdcTable] =
    if (!Files.exists(dir.resolve(s"manifest-$v.json"))) None
    else {
      val clone = new CdcTable(spark, destPath, pkCols, numBuckets)
      val rel = Paths.get(destPath).toAbsolutePath.normalize
        .relativize(dir.toAbsolutePath.normalize)
      val m = manifest(v)
      clone.writeManifest(0L, m.map { case (b, d) => b -> s"$rel/$d" })
      // Carry the small metadata sidecars, matching Delta/Iceberg
      // shallow-clone semantics (metadata is copied, data is not):
      //  - _schema.json keeps the committed-schema fast path (without
      //    it payloadSchema falls back to a full mergeSchema scan)
      //  - _ddl.jsonl keeps the DDL history
      //  - _filestats.jsonl lines for referenced dirs keep data-skipping
      //    stats; keys are rewritten to the clone's re-pointed dir names
      //    so filesFor matches them exactly
      //
      // Both schema sidecars are reconstructed AS OF version `v`, not
      // copied from the source's head: cloning an older version after
      // later ALTER_TABLE drift must not hand the clone a fast-path
      // schema naming columns absent from the referenced data dirs
      // (it would skew the clone's own next drift diff) — the
      // clone-as-of-version semantics Delta/Iceberg define. The DDL
      // log is truncated at `v` and the last kept entry's embedded
      // schema becomes the clone's _schema.json.
      val verRe = "\"version\":\\s*(\\d+)".r
      val keptDdl = ddlEvents.filter(l => verRe.findFirstMatchIn(l)
        .exists(_.group(1).toLong <= v))
      if (keptDdl.nonEmpty) {
        writeLines(clone.ddlFile, keptDdl)
        // "schema" is the LAST field of every DDL line we write:
        // {..., "schema": {...}} — extract it up to the outer brace
        val last = keptDdl.last
        val i = last.indexOf("\"schema\": ")
        if (i >= 0)
          Fs.writeAtomic(clone.schemaFile,
            last.substring(i + "\"schema\": ".length, last.length - 1)
              .getBytes)
      } else if (Files.exists(schemaFile))
        // legacy table predating the DDL log: head schema is the only
        // record there is
        Fs.writeAtomic(clone.schemaFile, Files.readAllBytes(schemaFile))
      locally {
        val dirs = m.values.toSet
        val kept = statsText.split("\n")
          .filter(_.nonEmpty).flatMap { line =>
            "\"file\": \"([^\"]+)\"".r.findFirstMatchIn(line).flatMap { fm =>
              val d = fm.group(1).split("/").dropRight(1).mkString("/")
              if (dirs(d))
                Some(line.replace(s""""file": "${fm.group(1)}"""",
                  s""""file": "$rel/${fm.group(1)}""""))
              else None
            }
          }
        // versioned name, written after the clone's v0 manifest above —
        // the same stats-follow-manifest ordering clusterZOrder commits
        // under
        writeLines(clone.dir.resolve("_filestats-0.jsonl"), kept.toSeq)
      }
      Fs.appendLines(clonesFile, Seq(cloneRef(
        Paths.get(destPath).toAbsolutePath.normalize.toString, v)))
      Some(clone)
    }

  /** Replace `p` atomically with `lines`; no file when there are none. */
  private def writeLines(p: Path, lines: Seq[String]): Unit =
    if (lines.nonEmpty)
      Fs.writeAtomic(p, lines.mkString("", "\n", "\n").getBytes)

  private val clonesFile = dir.resolve("_clones.jsonl")

  private def cloneRef(dest: String, v: Long) =
    s"""{"dest": "$dest", "version": $v}"""

  /** Registered clone back-references: (dest path, pinned version). */
  def cloneRefs: Seq[(String, Long)] =
    if (!Files.exists(clonesFile)) Nil
    else "\\{\"dest\": \"([^\"]+)\", \"version\": (\\d+)\\}".r
      .findAllMatchIn(new String(Files.readAllBytes(clonesFile)))
      .map(m => m.group(1) -> m.group(2).toLong).toSeq

  /** Release a clone's retention pin (after the clone is dropped or
    * deep-copied). Returns true if a back-reference was removed. */
  def forgetClone(destPath: String): Boolean = {
    val abs = Paths.get(destPath).toAbsolutePath.normalize.toString
    val (dropped, kept) = cloneRefs.partition(_._1 == abs)
    // atomic replace: a torn rewrite would drop every clone pin, and
    // the next vacuum would delete dirs live clones still read
    if (dropped.nonEmpty)
      Fs.writeAtomic(clonesFile,
        kept.map { case (d, v) => cloneRef(d, v) + "\n" }.mkString.getBytes)
    dropped.nonEmpty
  }

  /** Compaction (OPTIMIZE analog): rewrite fragmented buckets as a
    * single coalesced file set and commit a new manifest. Run
    * periodically where streaming produces many small files per batch
    * (the reference rotates source files every 15 s / 1 MB; the same
    * small-file pressure lands here). Only buckets holding more than
    * at least `minFiles` data files rewrite — already-compact buckets
    * carry forward untouched, so maintenance cost tracks
    * fragmentation, not table size (at 100 TB most buckets are cold
    * and compact). */
  def compact(minFiles: Int = 2): Option[Long] = currentVersion.flatMap { v =>
    val m = manifest(v)
    def dataFiles(d: String): Int = withListing(dir.resolve(d))(
      _.count(_.getFileName.toString.endsWith(".parquet")))
    val fragmented = m.filter { case (_, d) => dataFiles(d) >= minFiles }
    if (fragmented.isEmpty) None
    else {
      val next = v + 1
      // same staged-publish discipline as clusterZOrder: never
      // Overwrite a final bucket-dir name before the manifest CAS
      val stagingPath = newStagingDir(s"compact-v$next")
      val staged = fragmented.toSeq.map { case (b, d) =>
        spark.read.parquet(s"$path/$d").coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .parquet(stagingPath.resolve(s"b$b-v$next").toString)
        b -> stagingPath.resolve(s"b$b-v$next")
      }
      try publishAndCommit(next, m, staged)
      finally deleteRecursively(stagingPath)
      Some(next)
    }
  }

  /** Vacuum (purge-lifecycle analog of the reference's 30-day bucket
    * TTL, util/Utils.java:860-899): delete bucket dirs not referenced
    * by the manifests of the latest `keepVersions` versions. */
  def vacuum(keepVersions: Int = 1): Seq[String] = currentVersion match {
    case None => Nil
    case Some(v) =>
      vacuumKeeping((math.max(0L, v - keepVersions + 1) to v)
        .filter(k => Files.exists(dir.resolve(s"manifest-$k.json"))))
  }

  /** Age-based vacuum — the closer analog of the reference's 30-day
    * purge: keep the current version plus every version whose
    * manifest was committed within `maxAgeMs` of now; older versions'
    * unreferenced bucket dirs are deleted. Time travel stays possible
    * within the retention window, exactly like the bucket TTL. */
  def vacuumOlderThan(maxAgeMs: Long): Seq[String] = currentVersion match {
    case None => Nil
    case Some(v) =>
      val cutoff = System.currentTimeMillis() - maxAgeMs
      vacuumKeeping((0L to v).filter { k =>
        val m = dir.resolve(s"manifest-$k.json")
        Files.exists(m) &&
          (k == v || Files.getLastModifiedTime(m).toMillis >= cutoff)
      })
  }

  /** Remove staging directories a crashed writer left behind (staging
    * names carry a nonce, so a dead writer's dir is never reused).
    * Age-gated by the NEWEST last-modified time found anywhere under
    * the staging dir, not the root's: a long partitioned parquet write
    * mutates only nested `_bucket=N/_temporary` entries, so a live
    * writer whose write outlasts `maxAgeMs` would look idle at the
    * root and get swept mid-write. Recursion makes the gate track
    * actual write activity; `maxAgeMs` must still exceed the longest
    * possible *stall* between two file writes of one batch.
    *
    * Also sweeps PUBLISHED-but-uncommitted bucket dirs (`b<b>-v<n>`
    * where `manifest-<n>.json` never landed): a writer that dies
    * between publishing its buckets and the manifest CAS leaves dirs
    * under deterministic names, and every later writer of version `n`
    * would hit the publish exists-guard forever — a livelock, not just
    * garbage. The same age gate applies; a live writer's publish→CAS
    * gap is milliseconds, far inside any sane `maxAgeMs`. */
  def sweepStaging(maxAgeMs: Long = 60L * 60 * 1000): Seq[String] = {
    val cutoff = System.currentTimeMillis() - maxAgeMs
    // the vanished-entry-means-activity recursion lives in
    // graft.util.Fs.newestMtime, shared with ConsolidatedStore.vacuum
    def uncommittedBucketDir(name: String): Boolean = name match {
      case BucketDirName(_, v) =>
        !Files.exists(dir.resolve(s"manifest-$v.json"))
      case _ => false
    }
    withListing(dir)(_.toSeq)
      .filter { p =>
        val n = p.getFileName.toString
        (n.startsWith("_staging-") || uncommittedBucketDir(n)) &&
          Fs.newestMtime(p) < cutoff
      }
      .map { p => deleteRecursively(p); p.getFileName.toString }
      .sorted
  }

  private val BucketDirName = "b(\\d+)-v(\\d+)".r

  private def vacuumKeeping(versions: Seq[Long]): Seq[String] = {
    // clone-pinned versions are retained regardless of the retention
    // policy: a shallow clone's manifest references THIS table's dirs,
    // and vacuuming them would orphan the clone (SURVEY §11 hazard,
    // now closed). The pin lives until forgetClone.
    val pinned = cloneRefs.map(_._2).distinct
      .filter(k => Files.exists(dir.resolve(s"manifest-$k.json")))
    val keep = (versions ++ pinned).flatMap(k => manifest(k).values).toSet
    val removed = withListing(dir)(_.toSeq)
      .filter(p => p.getFileName.toString.startsWith("b") &&
        p.getFileName.toString.contains("-v") &&
        !keep.contains(p.getFileName.toString))
      .map { p => deleteRecursively(p); p.getFileName.toString }
    removed.sorted
  }
}
