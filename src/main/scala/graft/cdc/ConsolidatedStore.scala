package graft.cdc

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

import graft.util.Fs

/** Consolidated multi-table merge target — the storage layout for the
  * 2,048+-table fleet regime where [[CdcTable]]'s one-dir-per-
  * (table, bucket) layout hits the parquet-writer floor: a multiplexed
  * micro-batch that touches T tables writes ≥ T parquet files per
  * trigger (one per touched table-bucket dir), and at 2,048 tables the
  * measured steady-state batch (36.6 s) blows the reference's 30 s
  * trigger budget (DatastreamEventReader.java:95) on file turnover
  * alone — the writes are tiny, the floors are per-FILE.
  *
  * Here MANY SMALL TABLES SHARE EACH PHYSICAL FILE. One micro-batch
  * writes ONE segment directory — `table_name` and `_bucket` are data
  * columns, rows sorted by them within each part file so a per-table
  * read prunes at the parquet row-group level — and commits ONE
  * router-level manifest for the whole fleet:
  *
  * {{{
  *   root/
  *     _LATEST                 // newest commit pointer (atomic move)
  *     commit-<v>              // fleet manifest (hard-link CAS):
  *                             //   header: version, pk, payload schema
  *                             //   entries: table/bucket=segment-dir
  *     seg-v<v>-<nonce>/       // one commit's parquet (≤ S part files
  *                             //   for the WHOLE fleet, S = shuffle
  *                             //   partitions — not T×buckets files)
  *     _ddl.jsonl              // CREATE_TABLE / ALTER_TABLE history
  *     _staging-*              // staged segment writes (age-swept)
  * }}}
  *
  * The manifest addresses (file set, row group): the per-(table,
  * bucket) entry names the segment DIR holding that bucket's current
  * state, and the `table_name`/`_bucket` predicates a reader pushes
  * into the scan land on the sorted row groups — file-level routing by
  * manifest, row-group routing by parquet min/max stats.
  *
  * **The commit is one CAS for the whole fleet** — this is also the
  * atomic multi-table commit: a crash anywhere before the commit-file
  * link leaves EVERY table at the previous version (the orphaned
  * segment is unreferenced and age-swept), closing the torn window the
  * per-table commit loop documents (some tables committed, some not).
  * Writers never collide on segment names (each carries a nonce), so
  * the commit-file hard link is the single conflict point: a lost race
  * surfaces as [[ConcurrentCommitException]] — retryable, loser's
  * segment is garbage.
  *
  * Same merge contract as [[CdcTable]]: LWW by `_sort_key` via
  * [[Apply.mergeMulti]], soft deletes, at-least-once replay idempotent
  * on final state. Schema drift is WIDEN-ONLY, applied fleet-wide
  * (one payload schema per batch by construction — the multiplexed
  * decode yields one `row` struct): old segments read under the
  * widened schema null-fill, exactly like reading an old version of a
  * widened [[CdcTable]].
  *
  * Scale shape at 100 TB / 4,096 tables: per batch — one distributed
  * job (collapse + merge + sorted write of ≤ S files), one driver-side
  * manifest write (T×buckets entries, ~25 B each), one CAS. Steady
  * state where every batch touches most tables converges to prior =
  * the previous segment only; sparse-touch fleets scatter pointers
  * across segments until [[compact]] folds live state into one.
  */
class ConsolidatedStore(
    spark: SparkSession,
    path: String,
    pkColsFor: String => Seq[String],
    numBuckets: Int = 1,
    checkpointInterval: Int = 8) {
  require(checkpointInterval >= 1,
    "checkpointInterval must be >= 1 (1 = every commit is a checkpoint)")

  def location: String = path

  private val dir = Paths.get(path)
  Files.createDirectories(dir)

  private def commitName(v: Long) = s"commit-$v"

  def currentVersion: Option[Long] =
    ManifestTail.latest(dir, -1L, v => commitName(v)) match {
      case -1L => None
      case v => Some(v)
    }

  /** The fleet's committed PK signature (None before the first
    * commit). Header fields are always current in every commit —
    * delta or full — so this is one small-file read, no chain
    * resolution. */
  def pkSignature: Option[Seq[String]] = currentVersion.map(readCommit(_).pk)

  /** One committed fleet manifest: payload schema + (table, bucket) →
    * segment-dir entries. A DELTA commit's `entries` hold only the
    * pairs RE-POINTED at this version (the Delta-log shape — the
    * driver writes O(touched) bytes per trigger, not O(fleet));
    * [[resolved]] overlays the chain back to the nearest checkpoint
    * (a FULL commit) to recover the complete map. Header fields
    * (version/pk/schema) are always current — only the entry list is
    * partial. */
  private[graft] case class Commit(version: Long, pk: Seq[String],
      payload: StructType, entries: Map[(String, Int), String],
      delta: Boolean = false) {
    def tables: Seq[String] = entries.keys.map(_._1).toSeq.distinct.sorted
  }

  private[graft] def readCommit(v: Long): Commit = {
    val txt = new String(Files.readAllBytes(dir.resolve(commitName(v))))
    val lines = txt.split("\n")
    val header = lines.head
    val pk = "\"pk\": \\[([^\\]]*)\\]".r.findFirstMatchIn(header)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    val schemaJson = {
      val i = header.indexOf("\"schema\": ")
      header.substring(i + "\"schema\": ".length, header.length - 1)
    }
    val payload = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    // absent "delta" key = full manifest, so pre-delta commit files
    // (and compact()'s checkpoints) read unchanged
    val delta = header.contains("\"delta\": true")
    val entries = lines.tail.filter(_.nonEmpty).map { l =>
      val eq = l.lastIndexOf('=')
      val slash = l.lastIndexOf('/', eq)
      ((l.substring(0, slash), l.substring(slash + 1, eq).toInt),
        l.substring(eq + 1))
    }.toMap
    Commit(v, pk, payload, entries, delta)
  }

  /** Newest resolved commit, cached: commit files are immutable once
    * CAS'd, so a (version → entries) memo can never go stale; keeping
    * only the newest bounds driver memory to one fleet map. The
    * steady-state applyBatch chain hits this every trigger — the
    * per-trigger resolution cost is ONE delta-file read, not a walk
    * to the checkpoint. */
  @volatile private var resolveCache: Option[Commit] = None

  /** Complete (table, bucket) → segment map at version `v`: the
    * commit itself if FULL, else the nearest checkpoint at or below
    * `v` overlaid with every delta after it (newest wins). None when
    * the chain is broken — `v` or an anchor link was vacuumed. */
  private[graft] def resolved(v: Long): Option[Commit] = {
    resolveCache.filter(_.version == v).orElse {
      if (!Files.exists(dir.resolve(commitName(v)))) None
      else {
        val top = readCommit(v)
        // collect the delta chain down to (and including) the anchor
        var deltas = List(top)
        var ok = true
        while (ok && deltas.head.delta) {
          val pv = deltas.head.version - 1
          if (pv < 0 || !Files.exists(dir.resolve(commitName(pv)))) ok = false
          else deltas = readCommit(pv) :: deltas
        }
        if (!ok) None
        else {
          val full = deltas.foldLeft(Map.empty[(String, Int), String]) {
            (acc, c) => acc ++ c.entries
          }
          val r = top.copy(entries = full, delta = false)
          if (currentVersion.contains(v)) resolveCache = Some(r)
          Some(r)
        }
      }
    }
  }

  private def writeCommit(c: Commit): Unit = {
    val header = s"""{"version": ${c.version}, "pk": ${
      c.pk.map(p => s"\"$p\"").mkString("[", ",", "]")}, ${
      if (c.delta) "\"delta\": true, " else ""}"schema": ${
      c.payload.json}}"""
    val body = (header +: c.entries.toSeq.sortBy(e => (e._1._1, e._1._2))
      .map { case ((t, b), seg) => s"$t/$b=$seg" }).mkString("\n")
    // same version CAS as CdcTable.writeManifest: a lost race is a
    // retryable conflict, never a silent overwrite; after an OS crash
    // recovery is re-emitting the batch, idempotent under the merge
    // contract
    if (!ManifestTail.commit(dir, c.version, commitName, body))
      throw new ConcurrentCommitException(
        s"fleet version ${c.version} was committed by another writer; " +
          "re-read and retry the batch")
  }

  /** Publish the staged segment under its nonce'd final name, then
    * run `commit` (the CAS). Any failure after the publish deletes the
    * segment: no commit references it. */
  private def publishSegment(staging: Path, segName: String)
      (commit: => Unit): Unit = {
    try
      if (!Fs.publishDir(staging, dir.resolve(segName)))
        throw new ConcurrentCommitException(s"segment $segName is taken")
    finally Fs.deleteRecursively(staging)
    try commit
    catch {
      case e: Throwable =>
        Fs.deleteRecursively(dir.resolve(segName))
        throw e
    }
  }

  private def nonce() = java.util.UUID.randomUUID().toString.take(8)

  /** Crash-injection seam for the atomicity spec: runs after the
    * segment is published, before the commit CAS. */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** Segment-file schema: payload + merge bookkeeping + routing
    * columns. `sortKeyType` rides along because `_sort_key` is a
    * struct whose exact shape comes from the decode. */
  private def segSchema(payload: StructType,
      sortKeyType: org.apache.spark.sql.types.DataType): StructType =
    StructType(
      StructField("table_name", org.apache.spark.sql.types.StringType) +:
        (payload.fields ++ Seq(
          StructField("_is_deleted", BooleanType),
          StructField("_sequence_num", LongType),
          StructField("_sort_key", sortKeyType),
          StructField("_bucket", org.apache.spark.sql.types.IntegerType))))

  /** Table names are manifest keys (`<table>/<bucket>=<segment>`,
    * parsed at the LAST `=` and the last `/` before it, so both may
    * appear in a name), JSON strings in `_ddl.jsonl` (unescaped) and
    * data values in segments — never paths. Only what those encodings
    * cannot carry is refused: an empty name, a control character
    * (one manifest entry per line), `"` or `\`. All-dot names stay
    * refused: they are path components, never table names. */
  private def storableName(n: String): Boolean =
    n.nonEmpty && !n.forall(_ == '.') &&
      !n.exists(c => c.isControl || c == '"' || c == '\\')

  /** Merge one multi-table micro-batch and commit the WHOLE fleet in
    * one CAS. Input shape is [[Decode]]'s multiplexed form:
    * `(table_name, row struct, op, sort_key)`. Returns the committed
    * version. At-least-once replays are idempotent on final state
    * (sort-key-guarded LWW). */
  def applyBatch(events: DataFrame, batchId: Long): Long =
    graft.util.Persist.scoped(events)(applyPersisted(_, batchId))

  private def applyPersisted(events: DataFrame, batchId: Long): Long = {
    val cur = currentVersion.map { v =>
      resolved(v).getOrElse(throw new IllegalStateException(
        s"consolidated store at version $v has a broken manifest chain " +
          "(a checkpoint link was removed outside vacuum's retention " +
          "rules) — cannot merge against unknown prior state"))
    }
    val next = cur.map(_.version).getOrElse(-1L) + 1
    val incoming = events.schema("row").dataType.asInstanceOf[StructType]
    val sortKeyType = events.schema("sort_key").dataType

    // ---- driver-side planning (bounded: T×B rows) ----------------
    val pk = cur.map(_.pk).getOrElse {
      val names0 = events.select(col("table_name")).distinct()
        .collect().map(_.getString(0))
      require(names0.nonEmpty, "empty first batch")
      pkColsFor(names0.head)
    }
    val bCol = pmod(xxhash64(pk.map(c => col(s"row.$c")): _*),
      lit(numBuckets)).cast("int")
    val touched = events.select(col("table_name"), bCol.as("_bucket"))
      .distinct().collect().map(r => (r.getString(0), r.getInt(1)))
    if (touched.isEmpty) return cur.map(_.version).getOrElse(-1L)
    val names = touched.map(_._1).distinct.sorted.toSeq
    names.foreach { n =>
      require(storableName(n),
        s"consolidated store: table name '$n' is empty, all dots, or " +
          "holds a control character, '\"' or '\\' (names are " +
          "manifest keys and DDL strings here)")
      require(pkColsFor(n) == pk,
        s"consolidated store: table '$n' declares pk ${pkColsFor(n)}, " +
          s"fleet pk is $pk — ONE store holds one PK shape (CdcRouter " +
          "routes mixed fleets into one store per PK-signature group " +
          "automatically)")
    }

    // widen-only drift, fleet-wide: validates via SchemaDrift (a type
    // change or drop throws — that fleet needs a migration, not a
    // silent rewrite)
    val payload = cur match {
      case None => incoming
      case Some(c) =>
        SchemaDrift.diff(c.payload, incoming) match {
          case None => c.payload
          case Some(changes) => SchemaDrift.widen(c.payload, changes)
        }
    }
    val drifted = cur.exists(_.payload.simpleString != payload.simpleString)

    // ---- prior state: only segments holding touched pairs --------
    val entries = cur.map(_.entries).getOrElse(Map.empty)
    val wanted = touched.flatMap { case (t, b) =>
      entries.get((t, b)).map(seg => (t, b, seg))
    }
    val prior: Option[DataFrame] =
      if (wanted.isEmpty) None
      else {
        val segs = wanted.map(_._3).distinct.sorted
        val tablesTouched = wanted.map(_._1).distinct.sorted
        import spark.implicits._
        val wantedDf = wanted.toSeq.toDF("table_name", "_bucket", "_seg")
        Some(spark.read.schema(segSchema(payload, sortKeyType))
          .parquet(segs.map(s => s"$path/$s").toIndexedSeq: _*)
          // pushed to the scan: sorted row groups make this the
          // row-group-pruning predicate
          .filter(col("table_name").isin(tablesTouched: _*))
          .withColumn("_seg",
            regexp_extract(input_file_name(), "/(seg-v[^/]+)/", 1))
          // exact pointer match: a segment also holds rows for pairs
          // re-pointed by LATER commits — those stale copies must not
          // re-enter the merge
          .join(broadcast(wantedDf),
            Seq("table_name", "_bucket", "_seg"), "left_semi"))
      }

    // ---- one distributed merge + one sorted segment write --------
    val merged = Apply.mergeMulti(prior, events, "table_name", pk,
        sequenceNum = batchId)
      .withColumn("_bucket",
        pmod(xxhash64(pk.map(col): _*), lit(numBuckets)).cast("int"))
      // co-locate and SORT each (table, bucket) so per-table readers
      // prune row groups; file count = shuffle partitions, not T×B.
      // Keyed by BOTH columns: hash-by-table-name alone serializes a
      // hot table's whole batch through one task (fine for the
      // 4,096-uniform-small-tables regime, a wall when one table
      // carries most of the volume) — `_bucket` is already computed,
      // so spreading a hot table across its buckets costs nothing and
      // keeps (table, bucket) row-group locality intact
      .repartition(col("table_name"), col("_bucket"))
      .sortWithinPartitions("table_name", "_bucket")
    val segName = s"seg-v$next-${nonce()}"
    val staging = dir.resolve(s"_staging-$segName")
    merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // the commit CAS is the fleet's single atomic visibility point
    publishSegment(staging, segName) {
      beforeCommitHook()
      val touchedEntries = touched.map { case (t, b) =>
        (t, b) -> segName
      }.toMap
      // Delta-log cadence: checkpoints (FULL manifests) every
      // `checkpointInterval` commits bound the resolution chain;
      // every other trigger writes only the touched pairs —
      // O(touched) driver bytes, not O(fleet)
      val checkpoint = cur.isEmpty || next % checkpointInterval == 0
      writeCommit(
        if (checkpoint) Commit(next, pk, payload, entries ++ touchedEntries)
        else Commit(next, pk, payload, touchedEntries, delta = true))
      resolveCache =
        Some(Commit(next, pk, payload, entries ++ touchedEntries))
    }
    // DDL history (post-commit, like CdcTable): CREATE_TABLE for
    // first-seen tables, one ALTER_TABLE on widen
    val known = entries.keys.map(_._1).toSet
    val ddl = names.filterNot(known).map { n =>
      s"""{"version": $next, "event": "CREATE_TABLE", "table": "$n", """ +
        s""""pk": ${pk.map(c => s"\"$c\"").mkString("[", ",", "]")}}"""
    } ++ (if (drifted)
      Seq(s"""{"version": $next, "event": "ALTER_TABLE", """ +
        s""""schema": ${payload.json}}""")
    else Nil)
    if (ddl.nonEmpty) Fs.appendLines(dir.resolve("_ddl.jsonl"), ddl)
    next
  }

  /** Tables present in the current commit. */
  def knownTables: Seq[String] =
    currentVersion.flatMap(resolved).map(_.tables).getOrElse(Nil)

  /** Tables present at commit `v` (empty when `v` is unreadable) —
    * the iteration set a fleet-feed follower fans a version out to. */
  def tablesAt(v: Long): Seq[String] =
    resolved(v).map(_.tables).getOrElse(Nil)

  def ddlEvents: Seq[String] = Fs.readLines(dir.resolve("_ddl.jsonl"))

  /** Current full state of one table (all buckets, soft-deletes
    * visible — [[Apply.liveView]] for the live rows). Reads only the
    * segments the manifest points this table's buckets at, with the
    * `table_name`/`_bucket` predicates pushed into the pruned scan. */
  def state(table: String): Option[DataFrame] =
    currentVersion.flatMap(v => stateAt(table, v))

  /** Time travel: one table's state at commit `v` (None if the table
    * was unknown then or the commit was vacuumed). */
  def stateAt(table: String, v: Long): Option[DataFrame] = {
    val c = resolved(v).getOrElse(return None)
    val mine = c.entries.collect { case ((t, b), seg) if t == table =>
      (b, seg)
    }.toSeq
    // an anchor-chain commit can outlive its segments (vacuum keeps
    // the FILE for delta resolution, not the data): vacuumed → None,
    // the same answer as a dropped commit
    if (mine.isEmpty ||
      !mine.map(_._2).distinct.forall(s => Files.exists(dir.resolve(s))))
      None
    else Some(readPairs(table, c.payload, mine))
  }

  /** One table's rows at the given (bucket, segment) pairs, read under
    * `payload` (older segments null-fill widened columns): one scan
    * per segment with the `table_name`/`_bucket` predicates pushed
    * into it, unioned. One footer probe for the sort-key shape is
    * shared by every segment group. `pairs` is non-empty and its
    * segments exist (the callers check). */
  private def readPairs(table: String, payload: StructType,
      pairs: Seq[(Int, String)]): DataFrame = {
    val schema = segSchema(payload, sortKeyTypeOf(pairs.head._2))
    pairs.groupBy(_._2).map { case (seg, ps) =>
      spark.read.schema(schema).parquet(s"$path/$seg")
        .filter(col("table_name") === table &&
          col("_bucket").isin(ps.map(_._1): _*))
    }.reduce(_ unionByName _).drop("table_name", "_bucket")
  }

  /** Fleet-wide current state (all tables, `table_name` kept) — the
    * whole-store scan for maintenance/export: segments are read once
    * each, pointer-matched via one broadcast semi-join. */
  def stateAll: Option[DataFrame] = currentVersion.map { v =>
    val c = resolved(v).getOrElse(throw new IllegalStateException(
      s"broken manifest chain at current version $v"))
    import spark.implicits._
    val wantedDf = c.entries.toSeq.map { case ((t, b), seg) => (t, b, seg) }
      .toDF("table_name", "_bucket", "_seg")
    val segs = c.entries.values.toSeq.distinct.sorted
    spark.read.schema(segSchema(c.payload,
        sortKeyTypeOf(segs.head))).parquet(segs.map(s => s"$path/$s"): _*)
      .withColumn("_seg",
        regexp_extract(input_file_name(), "/(seg-v[^/]+)/", 1))
      .join(broadcast(wantedDf),
        Seq("table_name", "_bucket", "_seg"), "left_semi")
      .drop("_seg")
  }


  // the sort-key struct shape is decode-defined; recover it from a
  // committed segment's footer once per read call (driver-side, one
  // footer) — segments always carry the column. The probe target must
  // be a segment the READ itself touches (existence-checked by the
  // caller): probing an arbitrary entry of the commit read a segment
  // vacuum legitimately removed while every needed one survived —
  // e.g. an untouched table's empty feed at a version whose OTHER
  // tables' segments aged out (found by the round-15 partial-gap leg)
  // memoized per instance: segments are immutable once published
  // (atomic move under a nonce'd name), so a footer-probed shape can
  // never go stale — and the probe costs a file listing + footer read
  // per call otherwise, paid on every stateAt/feed resolve
  private val sortKeyTypeCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.DataType]()
  private def sortKeyTypeOf(seg: String)
      : org.apache.spark.sql.types.DataType =
    sortKeyTypeCache.computeIfAbsent(seg, s =>
      spark.read.parquet(s"$path/$s").schema("_sort_key").dataType)

  /** Post-image change feed for one table at commit `v` —
    * [[Apply.feed]], the same rule as [[CdcTable.changeFeed]], so IVM
    * consumers keep working when a fleet moves to the consolidated
    * layout. Cost is bounded by the COMMIT, not the table (see
    * [[feedInputs]]). Version 0 (or a table's first appearance) is
    * the initial snapshot; a commit that did not re-point the table
    * is an empty feed. None if `v` (or its pre-image commit) was
    * vacuumed or the table is unknown at `v`. */
  def changeFeed(table: String, v: Long): Option[DataFrame] =
    feedInputs(table, v).map { case (post, pre, pk) =>
      Apply.feed(post, pre, pk) }

  /** CDF-style feed for one table at commit `v` ([[Apply.cdf]]'s
    * Delta-CDF row set), over the same reads as [[changeFeed]]. */
  def changeFeedCdf(table: String, v: Long): Option[DataFrame] =
    feedInputs(table, v).map { case (post, pre, pk) =>
      Apply.cdf(post, pre, pk) }

  /** (post, pre, pk) for the table's pairs RE-POINTED at commit `v`
    * — the shared pruning for both feed flavors: carried-forward
    * buckets never scan, and the pushed table/bucket predicates prune
    * the `v` and `v-1` segments. `pre` is None for the table's first
    * appearance. A commit that did not re-point the table reads as
    * the empty, correctly shaped post image. None when the table is
    * unknown at `v`, or `v`, `v-1` or a needed segment was vacuumed. */
  private def feedInputs(table: String, v: Long)
      : Option[(DataFrame, Option[DataFrame], Seq[String])] = {
    val c = resolved(v).getOrElse(return None)
    val mine = c.entries.collect { case ((t, b), seg) if t == table =>
      b -> seg
    }
    if (mine.isEmpty) return None
    if (v == 0) return stateAt(table, 0L).map(df => (df, None, c.pk))
    val prev = resolved(v - 1).getOrElse(return None)
    val repointed = mine.filter { case (b, seg) =>
      !prev.entries.get((table, b)).contains(seg)
    }.toSeq
    if (repointed.isEmpty)
      return stateAt(table, v).map(df => (df.limit(0), None, c.pk))
    val prePairs = repointed.flatMap { case (b, _) =>
      prev.entries.get((table, b)).map(b -> _)
    }
    // vacuumed segments on either side → None (same as a dropped
    // commit), never a mid-scan read error
    if (!(repointed ++ prePairs).forall(p => Files.exists(dir.resolve(p._2))))
      None
    else Some((readPairs(table, c.payload, repointed),
      if (prePairs.isEmpty) None
      else Some(readPairs(table, c.payload, prePairs)), c.pk))
  }

  /** Fold every table's live pointer set into ONE fresh segment — the
    * maintenance pass for sparse-touch fleets whose pointers scatter
    * across many old segments (read amplification grows with scatter;
    * compaction resets it to one segment). Commits like any batch:
    * one CAS, all-or-nothing. */
  def compact(): Option[Long] = currentVersion.map { v =>
    val c = resolved(v).getOrElse(throw new IllegalStateException(
      s"broken manifest chain at current version $v"))
    val next = v + 1
    val all = stateAll.get
      // same skew-proof keying as the apply write
      .repartition(col("table_name"), col("_bucket"))
      .sortWithinPartitions("table_name", "_bucket")
    val segName = s"seg-v$next-${nonce()}"
    val staging = dir.resolve(s"_staging-$segName")
    all.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    publishSegment(staging, segName) {
      // compaction is always a checkpoint: one FULL manifest, every
      // pointer on the fresh segment — the resolution chain restarts
      val full = Commit(next, c.pk, c.payload,
        c.entries.map { case (k, _) => k -> segName })
      writeCommit(full)
      resolveCache = Some(full)
    }
    next
  }

  /** Sparse-touch read-amplification report — the signal that drives
    * [[compact]] cadence, the way `VectorIndex.driftSignal` drives
    * retrains. Driver-side FS metadata only (no Spark job):
    *
    *  - `segments`: distinct segment dirs the current pointer set
    *    spans — every fleet-wide read opens all of them (1 right
    *    after [[compact]]).
    *  - `referencedBytes`: total bytes those segments hold — the scan
    *    volume of [[stateAll]].
    *  - `liveBytesEstimate`: per segment, bytes × (pairs still
    *    pointed at it / pairs it carried when written — its creating
    *    commit's own entry list; assumed fully live when that commit
    *    file was vacuumed, which UNDER-estimates amplification,
    *    never over).
    *  - `amplification` = referencedBytes / liveBytesEstimate: how
    *    many bytes a full read scans per live byte. Grows as sparse
    *    touches strand stale copies in old segments.
    *
    * `needsCompact` when either bar is crossed. Bars are operator
    * knobs like every maintenance cadence; the defaults say "reads
    * span >16 files or scan >2 bytes per live byte". */
  case class ScatterSignal(
      segments: Int,
      referencedBytes: Long,
      liveBytesEstimate: Long,
      amplification: Double,
      needsCompact: Boolean)

  def scatterSignal(maxSegments: Int = 16,
      maxAmplification: Double = 2.0): Option[ScatterSignal] =
    currentVersion.flatMap(resolved).map { c =>
      val pointed = c.entries.groupBy(_._2).map { case (s, m) => s -> m.size }
      val segBytes = pointed.keys.map(s => s -> Fs.sizeOf(dir.resolve(s)))
        .toMap
      val referenced = segBytes.values.sum
      val live = pointed.map { case (seg, p) =>
        val carried = "seg-v(\\d+)-".r.findFirstMatchIn(seg)
          .map(_.group(1).toLong)
          .filter(cv => Files.exists(dir.resolve(commitName(cv))))
          .map(cv => readCommit(cv).entries.count(_._2 == seg))
          .filter(_ > 0)
          .getOrElse(p)
        segBytes(seg) * (p.toDouble / carried)
      }.sum.toLong
      val amp = if (live <= 0L) 1.0 else referenced.toDouble / live
      ScatterSignal(pointed.size, referenced, math.max(live, 1L), amp,
        pointed.size > maxSegments || amp > maxAmplification)
    }

  /** Delete segments unreferenced by the newest `keepVersions`
    * commits, plus orphaned staging dirs — age-gated (newest nested
    * mtime) so a LIVE writer's just-published segment awaiting its
    * CAS, or an in-flight staged write, is never swept. Old commit
    * files beyond the retention window are dropped too (time travel
    * ends there, like CdcTable.vacuum) — EXCEPT the delta chain
    * anchoring the oldest kept version: a kept delta commit is only
    * readable through its checkpoint, so retention extends down to
    * that checkpoint (its intermediate deltas ride along; ≤
    * `checkpointInterval` extra small files, never data). Referenced
    * segments come from the RESOLVED maps — a delta commit's raw
    * entry list names only the touched pairs, and the carried-forward
    * pointers it inherits are live too. */
  def vacuum(keepVersions: Int = 1,
      maxAgeMs: Long = 60L * 60 * 1000): Seq[String] = currentVersion match {
    case None => Nil
    case Some(v) =>
      val keep = (math.max(0L, v - keepVersions + 1) to v)
        .filter(k => Files.exists(dir.resolve(commitName(k))))
      val referenced = keep.flatMap(k =>
        resolved(k).map(_.entries.values).getOrElse(Nil)).toSet
      // anchor: walk the oldest kept version's delta chain to its
      // checkpoint — every commit file at or above this stays
      val anchor = {
        var a = keep.head
        while (a > 0 && Files.exists(dir.resolve(commitName(a))) &&
          readCommit(a).delta) a -= 1
        a
      }
      val cutoff = System.currentTimeMillis() - maxAgeMs
      val removed = Fs.withListing(dir)(_.toSeq).filter { p =>
        val n = p.getFileName.toString
        ((n.startsWith("seg-v") && !referenced(n)) ||
          n.startsWith("_staging-")) && Fs.newestMtime(p) < cutoff
      }.map { p => Fs.deleteRecursively(p); p.getFileName.toString }
      val droppedCommits = Fs.withListing(dir)(_.toSeq).filter { p =>
        "commit-(\\d+)".r.findFirstMatchIn(p.getFileName.toString)
          .exists(m => m.matched == p.getFileName.toString &&
            m.group(1).toLong < anchor)
      }.map { p => Files.deleteIfExists(p); p.getFileName.toString }
      (removed ++ droppedCommits).sorted
  }
}
