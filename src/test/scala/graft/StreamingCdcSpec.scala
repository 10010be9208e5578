package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcTable
import graft.sources.DatastreamAvro
import graft.streaming.CdcStream

/** End-to-end streaming CDC: fixture files dropped into a watched
  * directory, streamed through decode + merge with checkpointed
  * exactly-once, including a stop/restart with late-arriving files. */
class StreamingCdcSpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("stream drains snapshot+CDC files; restart picks up only new files") {
    val root = Files.createTempDirectory(Paths.get("target"), "cdc-stream")
    val src = root.resolve("in"); Files.createDirectories(src)
    val ckpt = root.resolve("ckpt").toString
    val tableDir = root.resolve("table").toString

    def drop(fixture: String, as: String): Unit =
      Files.copy(Paths.get(s"$fixtures/$fixture"), src.resolve(as),
        StandardCopyOption.REPLACE_EXISTING)

    // phase 1: snapshot + first CDC file (production-style names)
    drop("dump.avro", "s1_oracle-backfill_0_0.avro")
    drop("insert.avro", "s1_oracle-cdc-logminer_0_1.avro")

    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
    val table = new CdcTable(spark, tableDir, Seq("EMPLOYEE_ID"))
    CdcStream.drain(CdcStream.start(
      spark, s"${src.toString}/*.avro", schema, table, ckpt))

    val ids1 = table.live.get.select("EMPLOYEE_ID")
      .collect().map(_.getLong(0)).toSet
    assert(ids1.contains(210L)) // insert applied
    assert(table.state.get.count() == 109)

    // phase 2: late files arrive; new stream instance, same checkpoint
    drop("update.avro", "s1_oracle-cdc-logminer_0_2.avro")
    drop("update-pk.avro", "s1_oracle-cdc-logminer_0_3.avro")
    drop("delete.avro", "s1_oracle-cdc-logminer_0_4.avro")
    CdcStream.drain(CdcStream.start(
      spark, s"${src.toString}/*.avro", schema, table, ckpt))

    val st = table.state.get.collect()
      .map(r => r.getAs[Long]("EMPLOYEE_ID") -> r).toMap
    assert(st(210L).getAs[Boolean]("_is_deleted"))
    assert(!st(211L).getAs[Boolean]("_is_deleted"))
    assert(st(211L).getAs[java.math.BigDecimal]("SALARY")
      .compareTo(new java.math.BigDecimal("12131.00")) == 0)
    // snapshot rows processed exactly once across restarts
    assert(table.state.get.count() == 110) // 108 dump + 210 + 211

    // phase 3: nothing new → no new version committed
    val v = table.currentVersion
    CdcStream.drain(CdcStream.start(
      spark, s"${src.toString}/*.avro", schema, table, ckpt))
    assert(table.currentVersion == v)
  }

  test("dump-first gating: refuses an incomplete backfill; the snapshot " +
      "commits atomically before any CDC batch; final state matches the " +
      "order-insensitive path") {
    val root = Files.createTempDirectory(Paths.get("target"), "dumpfirst")
    val src = root.resolve("in"); Files.createDirectories(src)
    def drop(fixture: String, as: String): Unit =
      Files.copy(Paths.get(s"$fixtures/$fixture"), src.resolve(as),
        StandardCopyOption.REPLACE_EXISTING)
    // dump AND CDC files are ALL present before anything starts — the
    // exact situation the reference's gating exists for
    drop("dump.avro", "s1_oracle-backfill_0_0.avro")
    drop("insert.avro", "s1_oracle-cdc-logminer_0_1.avro")
    drop("update.avro", "s1_oracle-cdc-logminer_0_2.avro")
    drop("delete.avro", "s1_oracle-cdc-logminer_0_3.avro")
    val glob = s"${src.toString}/*.avro"
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")

    val gated = new CdcTable(spark,
      root.resolve("gated").toString, Seq("EMPLOYEE_ID"))
    // control-plane says backfill not COMPLETED → refuse, apply nothing
    intercept[IllegalArgumentException] {
      CdcStream.startDumpFirst(spark, glob, schema, gated,
        root.resolve("ckpt0").toString, backfillComplete = () => false)
    }
    assert(gated.currentVersion.isEmpty)

    val p = CdcStream.startDumpFirst(spark, glob, schema, gated,
      root.resolve("ckpt1").toString)
    // phase 1 committed synchronously before the stream started: the
    // FIRST version is exactly the 108 snapshot rows, no CDC leakage
    val dumpVersion = gated.currentVersion.get
    CdcStream.drain(p)
    val v1 = gated.stateAt(dumpVersion).get
    assert(v1.count() == 108)
    assert(!v1.select("EMPLOYEE_ID").collect().map(_.getLong(0)).contains(210L))

    // the phase-2 stream never re-decodes the snapshot blob, yet the
    // final state equals the default interleaved (order-insensitive) path
    val plain = new CdcTable(spark,
      root.resolve("plain").toString, Seq("EMPLOYEE_ID"))
    CdcStream.drain(CdcStream.start(spark, glob, schema, plain,
      root.resolve("ckpt2").toString))
    def snap(t: CdcTable) = t.state.get
      .select("EMPLOYEE_ID", "_is_deleted").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(snap(gated) == snap(plain))
  }

  test("dump-first decodes each snapshot file once: the emptiness " +
      "probe and the apply share one persisted read") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory(Paths.get("target"), "dump-once")
    val src = root.resolve("in"); Files.createDirectories(src)
    // snapshot files only: the phase-2 stream plans nothing, so every
    // scan of `src` below is the dump phase's
    Files.copy(Paths.get(s"$fixtures/dump.avro"),
      src.resolve("s1_oracle-backfill_0_0.avro"))
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marker = s"dump_once_marker_${System.nanoTime()}"
    @volatile var flushed = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) flushed = true
        else { plans.add(qe.executedPlan); () }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val table = new CdcTable(spark, root.resolve("t").toString,
      Seq("EMPLOYEE_ID"))
    spark.listenerManager.register(listener)
    try {
      CdcStream.drain(CdcStream.startDumpFirst(spark, s"$src/*.avro",
        schema, table, root.resolve("ckpt").toString))
      // listener events arrive in order: once the marker action is
      // seen, every earlier action has been recorded
      spark.range(1).toDF(marker).collect()
      val deadline = System.currentTimeMillis() + 60000
      while (!flushed && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(flushed)
    } finally spark.listenerManager.unregister(listener)
    // every scan of `src` that ran, cached plans included, counted
    // once per plan instance: a scan's output rows are the binary
    // file rows it read, i.e. the files it decoded
    def scans(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: FileSourceScanExec =>
        if (s.relation.location.rootPaths.exists(_.toString.contains(
          src.toString))) Seq(s) else Nil
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case o => o.children.flatMap(scans)
    }
    val distinct = plans.asScala.toSeq.flatMap(scans)
      .foldLeft(List.empty[SparkPlan])((acc, s) =>
        if (acc.exists(_ eq s)) acc else s :: acc)
    val decoded = distinct.map(_.metrics("numOutputRows").value).sum
    assert(decoded == 1L, s"the one dump file was decoded $decoded times " +
      s"by ${distinct.size} scans")
    assert(table.currentVersion.contains(0L))
    assert(table.state.get.count() == 108)
  }

  test("processed-file TTL marking + age-gated purge (SetTTLTask analog): " +
      "only fully-processed files are reclaimed; the checkpoint keeps " +
      "exactly-once across the purge") {
    import graft.streaming.ProcessedFiles
    val root = Files.createTempDirectory(Paths.get("target"), "ttl-mark")
    val src = root.resolve("in"); Files.createDirectories(src)
    val ckpt = root.resolve("ckpt").toString
    val log = root.resolve("processed.log").toString
    def drop(fixture: String, as: String): Unit =
      Files.copy(Paths.get(s"$fixtures/$fixture"), src.resolve(as),
        StandardCopyOption.REPLACE_EXISTING)
    drop("dump.avro", "s1_oracle-backfill_0_0.avro")
    drop("insert.avro", "s1_oracle-cdc-logminer_0_1.avro")
    val glob = s"${src.toString}/*.avro"
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
    val table = new CdcTable(spark,
      root.resolve("table").toString, Seq("EMPLOYEE_ID"))
    CdcStream.drain(CdcStream.start(spark, glob, schema, table, ckpt,
      processedLog = Some(log)))

    def names(ps: Iterable[String]): Set[String] =
      ps.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    val now = System.currentTimeMillis()
    assert(names(ProcessedFiles.stamps(log).keys) ==
      Set("s1_oracle-backfill_0_0.avro", "s1_oracle-cdc-logminer_0_1.avro"))

    // TTL not reached → nothing reclaimed (the 30-day rule)
    assert(ProcessedFiles.sweep(log, ttlMs = 86400000L, nowMs = now).isEmpty)

    // a new, NOT-yet-processed file must survive any sweep
    drop("update.avro", "s1_oracle-cdc-logminer_0_2.avro")
    val deleted = ProcessedFiles.sweep(log, ttlMs = 0L,
      nowMs = System.currentTimeMillis())
    assert(names(deleted) ==
      Set("s1_oracle-backfill_0_0.avro", "s1_oracle-cdc-logminer_0_1.avro"))
    assert(names(Files.list(src).iterator().asScala.map(_.toString).toSeq) ==
      Set("s1_oracle-cdc-logminer_0_2.avro"))

    // restart over the purged directory: the checkpoint's exactly-once
    // is undisturbed — only the new file processes, then gets stamped
    CdcStream.drain(CdcStream.start(spark, glob, schema, table, ckpt,
      processedLog = Some(log)))
    assert(names(ProcessedFiles.stamps(log).keys)
      .contains("s1_oracle-cdc-logminer_0_2.avro"))
    // the purge cost no data and created no duplicates: 108 dump rows
    // + the one insert, with the update merged on top (same PK set)
    assert(table.state.get.count() == 109)
    assert(table.live.get.select("EMPLOYEE_ID").collect()
      .map(_.getLong(0)).toSet.contains(210L))
  }

  test("snapshot files are classified from production-style paths") {
    val root = Files.createTempDirectory(Paths.get("target"), "cdc-snap")
    Files.copy(Paths.get(s"$fixtures/insert.avro"),
      root.resolve("s1_oracle-backfill_0_0.avro"))
    val df = graft.cdc.Decode.fromAvro(spark, s"${root.toString}/*.avro")
    assert(df.collect().forall(_.getAs[Boolean]("is_snapshot")))
  }

  test("CdfFollow streams each commit's CDF exactly once, in version " +
      "order, and resumes from the checkpoint") {
    import graft.streaming.CdfFollow
    val dir = Files.createTempDirectory(Paths.get("target"), "cdf-follow")
      .toString
    val ckpt = Files.createTempDirectory(Paths.get("target"), "cdf-ckpt")
      .toString
    val table = new CdcTable(spark, dir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    Seq("dump.avro", "insert.avro", "update.avro").zipWithIndex.foreach {
      case (f, i) =>
        table.applyBatch(graft.cdc.Decode.fromAvro(spark, s"$fixtures/$f"),
          i.toLong)
    }
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def drain(): Unit = {
      val q = CdfFollow.run(spark, table, ckpt, (v, cdf) =>
        seen.synchronized { seen += ((v, cdf.count())) })
      q.awaitTermination(60000); ()
    }
    drain()
    // versions 0..2, ascending, counts matching the direct reads
    assert(seen.map(_._1).toSeq == Seq(0L, 1L, 2L))
    seen.foreach { case (v, n) =>
      assert(n == table.changeFeedCdf(v).get.count(), s"v$v")
    }
    // two more commits; a resumed follow must deliver ONLY the new
    // versions (the file source's checkpointed log, not a rescan)
    Seq("update-pk.avro", "delete.avro").zipWithIndex.foreach {
      case (f, i) =>
        table.applyBatch(graft.cdc.Decode.fromAvro(spark, s"$fixtures/$f"),
          (3 + i).toLong)
    }
    seen.clear()
    drain()
    assert(seen.map(_._1).toSeq == Seq(3L, 4L))
    // a fresh subscription delivers every version regardless of age
    // (first-listing accepts all mtimes)
    import java.nio.file.attribute.FileTime
    Files.list(Paths.get(dir)).iterator().forEachRemaining { p =>
      if (p.getFileName.toString.matches("manifest-[012]\\.json"))
        Files.setLastModifiedTime(p,
          FileTime.fromMillis(System.currentTimeMillis() - 10L * 86400 * 1000))
    }
    val ckpt2 = Files.createTempDirectory(Paths.get("target"), "cdf-ckpt2")
      .toString
    seen.clear()
    val q2 = graft.streaming.CdfFollow.run(spark, table, ckpt2,
      (v, cdf) => seen.synchronized { seen += ((v, cdf.count())) })
    q2.awaitTermination(60000)
    assert(seen.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      "aged manifests must not be age-pruned for a fresh follower")
    // the REAL age-pruning loss case: a resumed follower whose seen-
    // files threshold (newest mtime − maxFileAge) has already advanced
    // past a never-seen manifest's mtime — the shape of a >7-day
    // outage during which commits kept landing. Without CdfFollow's
    // explicit maxFileAge override, v5 here is silently skipped.
    val extra = graft.cdc.Decode.fromAvro(spark, s"$fixtures/insert.avro")
    assert(table.applyBatch(extra, 5L) == 5L)
    Files.setLastModifiedTime(Paths.get(dir, "manifest-5.json"),
      FileTime.fromMillis(System.currentTimeMillis() - 10L * 86400 * 1000))
    seen.clear()
    drain() // resumes from ckpt, whose newest-seen mtime is current
    assert(seen.map(_._1).toSeq == Seq(5L),
      "a backdated never-seen manifest must survive the resume threshold")
  }

  test("ManifestTail: pointer anchor, crash-lag roll-forward, empty dir") {
    import graft.cdc.ManifestTail
    val dir = Files.createTempDirectory(Paths.get("target"), "tail-unit")
    // empty table: no pointer, no manifests
    assert(ManifestTail.latest(dir, -1L) == -1L)
    // pointer current
    Files.write(dir.resolve("manifest-0.json"), "{}".getBytes)
    Files.write(dir.resolve("manifest-1.json"), "{}".getBytes)
    Files.write(dir.resolve("_LATEST"), "1".getBytes)
    assert(ManifestTail.latest(dir, -1L) == 1L)
    // crash lag: manifests published past the pointer are found by
    // the roll-forward probe
    Files.write(dir.resolve("manifest-2.json"), "{}".getBytes)
    Files.write(dir.resolve("manifest-3.json"), "{}".getBytes)
    assert(ManifestTail.latest(dir, -1L) == 3L)
    // a known lower bound below the pointer is ignored (pointer wins);
    // one above it is trusted as the probe start
    assert(ManifestTail.latest(dir, 0L) == 3L)
    assert(ManifestTail.latest(dir, 3L) == 3L)
    // corrupt pointer degrades to the lower bound, not a crash
    Files.write(dir.resolve("_LATEST"), "not-a-number".getBytes)
    assert(ManifestTail.latest(dir, 2L) == 3L)
  }

  test("writeManifest CAS: two writers racing one version — exactly " +
      "one commits, with its own map, and no tmp file is left") {
    import scala.util.{Failure, Success, Try}
    import graft.cdc.ConcurrentCommitException
    val rounds = 200
    val maps = Seq(Map(0 -> "b0-v1-a", 1 -> "b1-v1-a"),
      Map(2 -> "b2-v1-b", 3 -> "b3-v1-b"))
    val broken = (1 to rounds).flatMap { round =>
      val dir = Files.createTempDirectory(Paths.get("target"), "cas-race")
      val writers = maps.map(_ =>
        new CdcTable(spark, dir.toString, Seq("id"), numBuckets = 4))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val out = new Array[Try[Unit]](2)
      val threads = (0 to 1).map(i => new Thread(() => {
        barrier.await()
        out(i) = Try(writers(i).writeManifest(1L, maps(i)))
      }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      val winners = (0 to 1).filter(out(_).isSuccess)
      val problem =
        if (winners.size != 1) Some(s"${winners.size} writers returned")
        else out(1 - winners.head) match {
          case Failure(_: ConcurrentCommitException) =>
            val t = new CdcTable(spark, dir.toString, Seq("id"), numBuckets = 4)
            val committed = t.currentVersion.map(v => (v, t.manifest(v)))
            val leftover = graft.util.Fs.withListing(dir)(_.toSeq)
              .map(_.getFileName.toString)
              .filterNot(Set("manifest-1.json", "_LATEST"))
            if (!committed.contains((1L, maps(winners.head))))
              Some(s"committed $committed, winner wrote ${maps(winners.head)}")
            else if (leftover.nonEmpty) Some(s"left behind $leftover")
            else None
          case other => Some(s"loser saw $other")
        }
      graft.util.Fs.deleteRecursively(dir)
      problem.map(p => s"round $round: $p")
    }
    if (broken.nonEmpty)
      fail(s"${broken.size} of $rounds rounds broke the CAS, e.g. " +
        broken.take(3).mkString("; "))
  }

  test("CdfFollow discovery cost is tail-sized, not history-sized") {
    import graft.streaming.CdfFollow
    import graft.cdc.ManifestTail
    val dir = Files.createTempDirectory(Paths.get("target"), "cdf-tail")
    val ckpt = Files.createTempDirectory(Paths.get("target"), "cdf-tail-ck")
      .toString
    val table = new CdcTable(spark, dir.toString, Seq("id"), numBuckets = 2)
    // a long history: 40 synthetic commits (empty manifests are enough
    // for discovery — delivery degrades gracefully like vacuumed
    // versions, which is itself part of the contract under test)
    (0L to 39L).foreach(v => table.writeManifest(v, Map.empty))
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def drain(): Unit = {
      val q = CdfFollow.run(spark, table, ckpt,
        (v, _) => seen.synchronized { seen += v })
      q.awaitTermination(60000); ()
    }
    drain() // checkpoint now at version 39
    table.writeManifest(40L, Map.empty)
    table.writeManifest(41L, Map.empty)
    ManifestTail.probes.set(0)
    drain()
    val probes = ManifestTail.probes.get()
    // discovery must touch the _LATEST pointer and the unseen tail
    // only — a 40-commit history re-listed per batch would be 40+
    // filesystem touches right here
    assert(probes > 0 && probes <= 10,
      s"discovery cost grew with history: $probes probes for a 2-commit tail")
  }

  test("CdfFollow watermark suppresses redelivery when the engine replays") {
    import graft.streaming.CdfFollow
    val dir = Files.createTempDirectory(Paths.get("target"), "cdf-replay")
    val ckpt = Files.createTempDirectory(Paths.get("target"), "cdf-replay-ck")
    val table = new CdcTable(spark, dir.toString, Seq("EMPLOYEE_ID"),
      numBuckets = 4)
    Seq("dump.avro", "insert.avro").zipWithIndex.foreach { case (f, i) =>
      table.applyBatch(graft.cdc.Decode.fromAvro(spark, s"$fixtures/$f"),
        i.toLong)
    }
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    def drain(): Unit = {
      val q = CdfFollow.run(spark, table, ckpt.toString,
        (v, _) => seen.synchronized { seen += v })
      q.awaitTermination(60000); ()
    }
    drain()
    assert(seen.toSeq == Seq(0L, 1L))
    // simulate an engine-level replay (foreachBatch is at-least-once):
    // wipe Spark's offset/commit logs but keep the delivered-watermark
    // — the batch re-runs from scratch, and the watermark alone must
    // keep already-delivered versions away from the consumer
    Seq("offsets", "commits").foreach { d =>
      val p = ckpt.resolve(d)
      if (Files.exists(p)) {
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
    }
    seen.clear()
    drain()
    assert(seen.isEmpty,
      s"watermark must suppress redelivered versions, got $seen")
    // new commits still flow after the replayed batch
    table.applyBatch(
      graft.cdc.Decode.fromAvro(spark, s"$fixtures/update.avro"), 2L)
    seen.clear()
    drain()
    assert(seen.toSeq == Seq(2L))
  }

  /** The stream's file log in `ckpt`: source file name → the log
    * batches it was planned in. */
  private def plannedIn(ckpt: String): Map[String, Seq[Long]] = {
    val log = new org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog(
      org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog.VERSION,
      spark, s"$ckpt/sources/0")
    log.get(None, None).toSeq.flatMap(_._2)
      .map(e => e.path.substring(e.path.lastIndexOf('/') + 1) -> e.batchId)
      .groupMap(_._1)(_._2)
  }

  test("restart, then late files behind the checkpoint's newest folder: " +
      "every file is applied, each planned exactly once") {
    val root = Files.createTempDirectory(Paths.get("target"), "cdc-window")
    val src = root.resolve("in")
    val ckpt = root.resolve("ckpt").toString
    // Datastream's layout: <table>/yyyy/MM/dd/HH/mm/<file>
    def drop(fixture: String, minute: String, as: String): Unit = {
      val d = src.resolve("HR_EMPLOYEES").resolve(minute)
      Files.createDirectories(d)
      Files.copy(Paths.get(s"$fixtures/$fixture"), d.resolve(as))
      ()
    }
    val glob = s"$src/*/*/*/*/*/*/*.avro"
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
    val table = new CdcTable(spark, root.resolve("table").toString,
      Seq("EMPLOYEE_ID"))
    drop("dump.avro", "2026/10/19/09/58", "s1_oracle-backfill_0_0.avro")
    drop("insert.avro", "2026/10/19/10/00", "s1_oracle-cdc-logminer_0_1.avro")
    CdcStream.drain(CdcStream.start(spark, glob, schema, table, ckpt))
    assert(table.state.get.count() == 109)
    // the checkpoint's newest folder is 10/00; a late file lands behind
    // it, under the previous hour, and newer files after it
    drop("update.avro", "2026/10/19/09/59", "s1_oracle-cdc-logminer_0_2.avro")
    drop("update-pk.avro", "2026/10/19/10/01", "s1_oracle-cdc-logminer_0_3.avro")
    drop("delete.avro", "2026/10/19/10/01", "s1_oracle-cdc-logminer_0_4.avro")
    CdcStream.drain(CdcStream.start(spark, glob, schema, table, ckpt))
    val st = table.state.get.collect()
      .map(r => r.getAs[Long]("EMPLOYEE_ID") -> r).toMap
    assert(st(210L).getAs[Boolean]("_is_deleted"))
    assert(!st(211L).getAs[Boolean]("_is_deleted"))
    assert(st(211L).getAs[java.math.BigDecimal]("SALARY")
      .compareTo(new java.math.BigDecimal("12131.00")) == 0)
    assert(table.state.get.count() == 110)
    val planned = plannedIn(ckpt)
    assert(planned.size == 5 && planned.values.forall(_.size == 1))
  }

  test("a micro-batch decodes its files once: numInputRows is the file " +
      "count on CdcStream (with processedLog) and on CdcRouter") {
    import graft.streaming.CdcRouter
    val root = Files.createTempDirectory(Paths.get("target"), "cdc-once")
    val src = root.resolve("in"); Files.createDirectories(src)
    Seq("dump.avro", "insert.avro", "update.avro", "delete.avro").zipWithIndex
      .foreach { case (f, i) =>
        Files.copy(Paths.get(s"$fixtures/$f"), src.resolve(s"s1_oracle-cdc-logminer_0_$i.avro"))
      }
    val glob = s"$src/*.avro"
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
    val p = CdcStream.start(spark, glob, schema,
      new CdcTable(spark, root.resolve("table").toString, Seq("EMPLOYEE_ID")),
      root.resolve("ckpt").toString,
      processedLog = Some(root.resolve("processed.log").toString))
    CdcStream.drain(p)
    val streamRows = p.query.recentProgress.map(_.numInputRows).toSeq
    assert(streamRows.sum == 4, streamRows)
    val r = new CdcRouter(spark, root.resolve("store").toString,
      _ => Seq("EMPLOYEE_ID"), numBuckets = 2)
    val q = r.start(glob, schema, root.resolve("ckpt-router").toString)
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val routerRows = q.recentProgress.map(_.numInputRows).toSeq
    assert(routerRows.sum == 4, routerRows)
    assert(r.store.state("EMPLOYEES").get.count() == 109)
  }
}
