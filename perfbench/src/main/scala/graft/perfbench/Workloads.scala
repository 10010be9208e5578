package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcTable, ConsolidatedStore, Decode}
import graft.sources.DatastreamAvro
import graft.streaming.{CdcRouter, CdcStream, CdfFollow}

/** Shared shape of the two single-table workloads: a [[CdcTable]]
  * target fed by [[CdcStream]] with a `processedLog`, and a
  * [[CdfFollow.run]] follower folding a per-status aggregate. */
abstract class TableWorkload(p: Params, t: Tracer, val tdef: TableDef,
    statusCol: String, val priceCol: String) extends Workload(p, t) {
  var tbl: CdcTable = _
  var fold: Fold = _
  var src: Gen.Source = _
  var streamSchema: StructType = _
  var ingestId = ""
  var followId = ""
  /** Version committed by setup (-1: the stream makes the first). */
  def preloadVersion: Long

  def newFold(): Fold = new Fold(col(statusCol), priceCol, tracer)

  def startStream(trig: Trigger): CdcStream.Pipeline = {
    val pl = CdcStream.start(spark, Envelope.glob(srcRoot), streamSchema, tbl,
      checkpoint.toString, trigger = trig,
      processedLog = Some(processedLog.toString))
    ingestId = pl.query.id.toString
    pl
  }

  def startFollower(): StreamingQuery = {
    val q = CdfFollow.run(spark, tbl, followCk.toString, fold.apply,
      Trigger.ProcessingTime(Knobs.FollowTriggerMs))
    followId = q.id.toString
    q
  }

  /** Commit and freshness samples, and throughput, from the stamps. */
  def latencyMetrics(): Map[String, Double] = {
    val st = stamps
    val planned = Support.sourceBatches(checkpoint)
    val versions = batchVersions(planned, preloadVersion + 1)
    val commit = latencies(f => st.get(f.path))
    val fresh = latencies(f => planned.get(f.path)
      .flatMap(bs => fold.foldedAt.get(versions(bs.head))))
    extra("commit_samples") = commit.size
    extra("fresh_samples") = fresh.size
    Map(
      "ingest_eps" -> eventsPerSecond(st.values.max),
      "commit_p50_s" -> Support.median(commit),
      "commit_p90_s" -> Support.quantile(commit, 0.9),
      "fresh_p50_s" -> Support.median(fresh),
      "fresh_p90_s" -> Support.quantile(fresh, 0.9))
  }

  def globs: Seq[String] = Seq(Envelope.glob(srcRoot))

  def check(): Unit = {
    val live = tbl.live.get
    checks += ("live state equals a one-shot Apply.merge of every event" ->
      sameRows(live, oneShotLive(globs, streamSchema, tdef.pk)))
    checks += ("live state matches the generator's final source rows" ->
      matchesSource(live, priceCol, tdef.cols.indexWhere(_.name == priceCol),
        src.rows.values))
    checks += ("follower aggregate equals a batch recompute" -> fold.matches(live))
    checkExactlyOnce()
    val st = stamps
    checks += ("every file stamped in processedLog" -> pubs.forall(f => st.contains(f.path)))
  }

  def attempted: Long =
    pubs.size + Support.sourceBatches(checkpoint).values.flatten.toSet.size

  def layers(): Map[String, Double] = {
    val planned = Support.sourceBatches(checkpoint)
    val byBatch = planned.toSeq.groupMap(_._2.head)(_._1).toSeq.sortBy(_._1)
    val versions = batchVersions(planned, preloadVersion + 1)
    val lay = sourcePass(Seq(Envelope.glob(srcRoot)), streamSchema, tdef.pk,
      byBatch.map(_._2.sorted))
    val changed = batchCollapsed.keys.toSeq.map(i =>
      tbl.changeFeed(versions(byBatch(i)._1)).map(_.count().toDouble).getOrElse(0.0))
    val eff = changed.sum / math.max(1.0, batchCollapsed.values.sum)
    val st = stamps
    val runVersions = versions.values.toSeq.sorted
    val table = tableLayer(tbl, runVersions)
    val stream = streamLayer(ingestId, "stream", byBatch.map(_._2.size),
      backlogMax(ingestId, f => st.get(f.path)))
    val follow = followLayer(fold, followId,
      runVersions.takeRight(Knobs.LayerBatches).map(v => () => tbl.changeFeedCdf(v)))
    val commitTotal = measured("table.applyBatch").map(_.seconds).sum
    val trig = measuredTriggers(ingestId)
    val all = lay ++ table ++ stream ++ follow + ("apply.effective_ratio" -> eff)
    selfTimes(all, commitTotal, "cdc.CdcTable",
      math.max(0.0, trig.map(_.triggerMs / 1000.0).sum - commitTotal),
      Map("streaming.CdfFollow" -> tracer.selfTimes.getOrElse("follow.fold", 0.0)))
    withAllLayers(all)
  }
}

/** First sync of a new table: the lineitem backfill drained by one
  * AvailableNow run into an empty [[CdcTable]], then pre-generated CDC
  * files (≈20 % of rows, some published late) drained by a second. */
final class SnapshotDrain(p: Params, t: Tracer)
    extends TableWorkload(p, t, Gen.Lineitem, "L_LINESTATUS", "L_EXTENDEDPRICE") {
  val BackfillFiles = 8
  val CdcFiles = 12
  val CdcShare = 0.2
  var backfill: Seq[Envelope.Staged] = Nil
  var cdc: Seq[Envelope.Staged] = Nil
  def preloadVersion: Long = -1L

  def generate(): Unit = {
    val rows = Gen.lineitem(rnd, p.sf)
    src = new Gen.Source(rnd, r => r(0).asInstanceOf[Long] * 8 + r(1).asInstanceOf[Long], rows,
      clock = Gen.logicalClock())
    var nextOrder = rows.map(_(0).asInstanceOf[Long]).max + 1
    val snap = src.snapshot()
    backfill = snap.grouped(math.max(1, (snap.size + BackfillFiles - 1) / BackfillFiles))
      .zipWithIndex.map { case (evs, i) =>
        Envelope.write(staging, srcRoot, tdef, "LINEITEM", snapshot = true, i, evs)
      }.toSeq
    val fresh = (r: SplittableRandom) => { nextOrder += 1; Gen.lineRow(r, nextOrder, 1, p.sf) }
    val touch = (r: SplittableRandom, row: Array[Any]) => {
      val x = row.clone()
      x(4) = java.math.BigDecimal.valueOf(1 + r.nextInt(50)).setScale(2)
      x(5) = java.math.BigDecimal.valueOf(90000L + r.nextLong(10000000L), 2)
      x(9) = if (r.nextBoolean()) "O" else "F"
      x
    }
    val rekey = (_: SplittableRandom, row: Array[Any]) => {
      val x = row.clone(); nextOrder += 1; x(0) = nextOrder; x
    }
    val evs = mutable.ArrayBuffer.empty[Ev]
    while (evs.size < CdcShare * rows.length) evs ++= src.next(fresh, touch, Some(rekey))
    val files = evs.grouped(math.max(1, (evs.size + CdcFiles - 1) / CdcFiles)).toSeq
    // late files keep their older sort keys but publish after newer ones
    val late = (0 until math.max(1, files.size / 10)).map(_ => rnd.nextInt(files.size)).toSet
    val order = files.indices.filterNot(late) ++ late.toSeq.sorted
    cdc = order.map(i => Envelope.write(staging, srcRoot, tdef, "LINEITEM",
      snapshot = false, 100 + i, files(i).toSeq))
    extra("late_files") = late.size
    streamSchema = DatastreamAvro.sparkSchema(backfill.head.tmp.toString)
  }

  def setupOnce(k: Int): Unit = {
    tbl = newTable(p.work.resolve(s"target-$k"), tdef.pk)
    fold = newFold()
  }

  def measure(): Map[String, Double] = {
    measureStartNs = System.nanoTime()
    val follower = startFollower()
    backfill.foreach(s => publish(s, System.currentTimeMillis()))
    CdcStream.drain(startStream(Trigger.AvailableNow()))
    cdc.foreach(s => publish(s, System.currentTimeMillis()))
    CdcStream.drain(startStream(Trigger.AvailableNow()))
    val last = tbl.currentVersion.getOrElse(-1L)
    await("follower")(fold.lastFolded >= last)
    stop(follower)
    latencyMetrics()
  }
}

/** Steady-state replication: ORDERS preloaded, then an open-loop
  * generator publishes small CDC files on a fixed schedule (hot keys,
  * late files, widened files from half-way) while a follower folds
  * each version.
  *
  * The rate sits well under capacity: a one-file trigger takes about
  * half the period, so the ingest query idles between files and a
  * file's latency is its own commit, not the queue ahead of it
  * (`ingest_busy_share` in the report). */
final class CdcTrickle(p: Params, t: Tracer)
    extends TableWorkload(p, t, Gen.Orders, "O_ORDERSTATUS", "O_TOTALPRICE") {
  /** One file is due every PeriodMs with EventsPerFile events. */
  val PeriodMs = 2500L
  val EventsPerFile = 100
  val HotShare = 0.5
  /** A late file is published this many slots after it was written. */
  val LateSlots = 3
  /** Files published before the schedule; not sampled. */
  val WarmupFiles = 6
  override def sampled: Seq[Pub] = pubs.toSeq.drop(WarmupFiles)
  val bfRoot: Path = p.work.resolve("backfill")
  var narrowSchema: StructType = _
  val wide: TableDef = tdef.widened(Gen.OrdersComment)
  def preloadVersion: Long = 0L
  override def globs: Seq[String] = Seq(Envelope.glob(bfRoot), Envelope.glob(srcRoot))

  def generate(): Unit = {
    val rows = Gen.orders(rnd, p.sf)
    src = new Gen.Source(rnd, _(0).asInstanceOf[Long], rows, HotShare)
    val snap = src.snapshot()
    val bf = snap.grouped(math.max(1, (snap.size + 3) / 4)).zipWithIndex.map {
      case (evs, i) => Envelope.write(staging, bfRoot, tdef, "ORDERS", snapshot = true, i, evs)
    }.toSeq
    bf.foreach(Envelope.publish)
    narrowSchema = DatastreamAvro.sparkSchema(bf.head.dest.toString)
    val sampleDir = Files.createDirectories(p.work.resolve("sample"))
    val sample = Envelope.write(sampleDir, sampleDir, wide, "ORDERS", snapshot = false, 0,
      Seq(Ev("INSERT", rows.head :+ "x", System.currentTimeMillis(), 1L, 0L, "0x0")))
    streamSchema = DatastreamAvro.sparkSchema(sample.tmp.toString)
  }

  def setupOnce(k: Int): Unit = {
    tbl = newTable(p.work.resolve(s"target-$k"), tdef.pk)
    tbl.applyBatch(Decode.changeEvents(
      DatastreamAvro.read(spark, Envelope.glob(bfRoot), Some(narrowSchema))), 0L)
    fold = newFold()
  }

  def measure(): Map[String, Double] = {
    val follower = startFollower()
    val pipeline = startStream(trigger)
    var nextKey = src.rows.keys.max + 1
    /** The CDC file of slot `i`; warm-up files take negative slots. */
    def nextFile(i: Int, widened: Boolean): Envelope.Staged = {
      val fresh = (r: SplittableRandom) => {
        nextKey += 1
        val row = Gen.orderRow(r, nextKey, 1L + r.nextInt(15000))
        if (widened) row :+ s"c${r.nextInt(1000)}" else row
      }
      val touch = (r: SplittableRandom, row: Array[Any]) => {
        val x = if (widened && row.length < 7) row :+ null else row.clone()
        x(2) = if (r.nextBoolean()) "O" else "F"
        x(3) = java.math.BigDecimal.valueOf(90000L + r.nextLong(50000000L), 2)
        if (widened) x(6) = s"c${r.nextInt(1000)}"
        x
      }
      val rekey = (_: SplittableRandom, row: Array[Any]) => {
        val x = row.clone(); nextKey += 1; x(0) = nextKey; x
      }
      val evs = mutable.ArrayBuffer.empty[Ev]
      while (evs.size < EventsPerFile) evs ++= src.next(fresh, touch, Some(rekey))
      Envelope.write(staging, srcRoot, if (widened) wide else tdef,
        "ORDERS", snapshot = false, WarmupFiles + i, evs.toSeq)
    }
    // closed-loop warm-up: a new query's first triggers run several
    // times slower than later ones (code generation, JIT)
    for (i <- -WarmupFiles until 0) {
      val f = publish(nextFile(i, widened = false), System.currentTimeMillis())
      await("warm-up")(stamps.contains(f.path))
    }
    await("follower warm-up")(fold.lastFolded >= tbl.currentVersion.getOrElse(-1L))
    measureStartNs = System.nanoTime()
    val slots = math.max(4, (p.seconds * 1000 / PeriodMs).toInt)
    val held = mutable.Map.empty[Int, List[Envelope.Staged]]
    // PeriodMs is a multiple of the trigger interval: every file is due
    // on a grid slot
    val t0 = gridSlot() + Knobs.TriggerMs
    for (i <- 0 until slots) {
      val due = t0 + i * PeriodMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val staged = nextFile(i, widened = i >= slots / 2)
      if (rnd.nextInt(10) == 0 && i > 0 && i + LateSlots < slots)
        held(i + LateSlots) = staged :: held.getOrElse(i + LateSlots, Nil)
      else publish(staged, due)
      held.remove(i).foreach(_.reverse.foreach(publish(_, due)))
    }
    val scheduleEnd = System.currentTimeMillis()
    val st0 = stamps
    extra("backlog_files_at_schedule_end") = pubs.count(f => !st0.contains(f.path))
    extra("generator_lateness_p90_s") =
      Support.quantile(sampled.map(f => (f.pubMs - f.dueMs) / 1000.0), 0.9)
    extra("offered_eps") = 1000.0 * EventsPerFile / PeriodMs
    await("ingest")(stamps.size >= pubs.size)
    val last = tbl.currentVersion.getOrElse(-1L)
    await("follower")(fold.lastFolded >= last)
    stop(pipeline.query)
    stop(follower)
    // the share of the schedule the ingest query spent in triggers that
    // had data: below 1 it idled between files
    def triggersOf(id: String) = tracer.triggers.asScala.toSeq
      .filter(r => r.query == id && r.inputRows > 0 && r.startMs >= t0)
    val busy = triggersOf(ingestId).filter(_.startMs < scheduleEnd)
    extra("ingest_busy_share") = busy.map(_.triggerMs).sum.toDouble / (scheduleEnd - t0)
    extra("ingest_trigger_s") = busy.map(_.triggerMs / 1000.0)
    extra("follow_trigger_s") = triggersOf(followId).map(_.triggerMs / 1000.0)
    latencyMetrics()
  }

  /** The stream's declared schema is the widened one from its first
    * trigger, so the one ALTER_TABLE lands on the first streamed
    * version, against the narrow preload. The generator's switch to
    * widened files half-way is checked through the column's values. */
  override def check(): Unit = {
    super.check()
    val alters = tbl.ddlEvents.filter(_.contains("ALTER_TABLE"))
    checks += ("exactly one ALTER_TABLE, adding O_COMMENT on the first streamed version" ->
      (alters.size == 1 && alters.head.contains(Gen.OrdersComment.name) &&
        alters.head.contains(s""""version": ${preloadVersion + 1}""")))
    val commented = src.rows.values.count(r => r.length > 6 && r(6) != null)
    checks += ("live O_COMMENT values match the generator's widened rows" -> (commented > 0 &&
      tbl.live.get.filter(col(Gen.OrdersComment.name).isNotNull).count() == commented))
  }
}

/** The many-tables regime: ORDERS split into 32 tables by
  * `o_custkey % 32`, filename-keyed, committed through
  * `CdcRouter(consolidated = true)`. One closed-loop client: a
  * backfill wave (not measured), then CDC waves of one small file per
  * touched table, each published only after the previous wave
  * committed.
  *
  * The downstream consumer is a snapshot reader: a thread that reads
  * the whole fleet (`ConsolidatedStore.stateAll`) after every new
  * version; the client's next wave waits for that read too. A
  * `CdfFollow.runStore` follower resolves every table's feed on every
  * version, which here costs far more than a wave, so it would fall
  * ever further behind and its lag would measure run length, not the
  * system. */
final class FleetWaves(p: Params, t: Tracer) extends Workload(p, t) {
  val Tables = 32
  val WaveTables = 8
  val EventsPerWaveFile = 8
  /** CDC waves published after the backfill and before the measured
    * ones; not sampled. */
  val WarmupWaves = 3
  /** The router's trigger interval: an empty trigger lists all the
    * table trees (~0.3 s here), so a longer interval than the other
    * workloads' leaves an idle window in which a wave can be published
    * whole. */
  val TriggerMs = 1000L
  /** A wave is published this long before a trigger-grid point. */
  val PublishLeadMs = 100L
  override def trigger: Trigger = Trigger.ProcessingTime(TriggerMs)
  val pk = Seq("O_ORDERKEY")
  val defs: IndexedSeq[TableDef] =
    (0 until Tables).map(i => Gen.Orders.copy(table = f"O$i%03d"))
  var sources: IndexedSeq[Gen.Source] = _
  var backfill: Seq[Envelope.Staged] = Nil
  var schema: StructType = _
  var router: CdcRouter = _
  var store: ConsolidatedStore = _
  var ingestId = ""
  val waveOf = mutable.Map.empty[String, Int]
  /** store version → when the reader finished reading it (epoch ms). */
  val readAt = scala.collection.concurrent.TrieMap.empty[Long, Long]
  val readSeconds = mutable.ArrayBuffer.empty[Double]

  def generate(): Unit = {
    val rows = Gen.orders(rnd, p.sf)
    val byTable = rows.groupBy(r => (r(1).asInstanceOf[Long] % Tables).toInt)
    val clock = Gen.logicalClock()
    sources = (0 until Tables).map(i => new Gen.Source(rnd.split(),
      _(0).asInstanceOf[Long], byTable.getOrElse(i, Array.empty), clock = clock))
    backfill = (0 until Tables).filter(byTable.contains).map(i =>
      Envelope.write(staging, srcRoot, defs(i), defs(i).table, snapshot = true, 0,
        sources(i).snapshot()))
    schema = DatastreamAvro.sparkSchema(backfill.head.tmp.toString)
  }

  /** A consolidated [[CdcRouter]] whose batches are spans (a plain call
    * when tracing is off). */
  def newRouter(dir: Path): CdcRouter =
    new CdcRouter(spark, dir.toString, _ => pk,
      filenameKeyed = true, consolidated = true) {
      override def applyBatch(events: DataFrame, batchId: Long): Unit =
        tracer.span("router.applyBatch", Some(spark.sparkContext))(
          super.applyBatch(events, batchId))
    }

  def setupOnce(k: Int): Unit = {
    router = newRouter(p.work.resolve(s"target-$k"))
    store = router.storeFor(pk)
  }

  /** Read the whole fleet after every new version until `stop`. */
  def startReader(stop: AtomicBoolean): Thread = {
    val th = new Thread(() => {
      var seen = -1L
      while (!stop.get) {
        val v = store.currentVersion.getOrElse(-1L)
        if (v <= seen) Thread.sleep(10)
        else tracer.span("reader.read", Some(spark.sparkContext)) {
          val t0 = System.nanoTime()
          store.stateAll.foreach(Support.noop)
          readSeconds.synchronized(readSeconds += (System.nanoTime() - t0) / 1e9)
          readAt(v) = System.currentTimeMillis()
          seen = v
        }
      }
    }, "fleet-reader")
    th.start()
    th
  }

  /** The first time from now that lies [[PublishLeadMs]] before a
    * point of the trigger grid (processing-time triggers fire on the
    * epoch grid of their interval). The client publishes a wave then,
    * once `processAllAvailable` has returned (the empty trigger after
    * the wave's batch has run, so the query idles until the grid
    * point): every wave waits the same lead time for its trigger
    * instead of a random share of the interval. */
  def publishSlot(): Long = {
    val earliest = System.currentTimeMillis() + PublishLeadMs
    (earliest + PublishLeadMs + TriggerMs - 1) / TriggerMs * TriggerMs - PublishLeadMs
  }

  /** The files of the measured waves. */
  def sampledPubs: Seq[Pub] = pubs.toSeq.filter(f => waveOf(f.path) > WarmupWaves)

  /** When version `v` first became visible to the reader. */
  def readTime(v: Long): Option[Long] =
    readAt.collect { case (u, t) if u >= v => t }.minOption

  def measure(): Map[String, Double] = {
    val q = router.start(Envelope.glob(srcRoot), schema, checkpoint.toString,
      trigger = trigger)
    ingestId = q.id.toString
    backfill.foreach { s => waveOf(publish(s, System.currentTimeMillis()).path) = 0 }
    q.processAllAvailable()
    val stopReader = new AtomicBoolean(false)
    val reader = startReader(stopReader)
    await("reader backfill")(readAt.nonEmpty)
    var nextKey = sources.flatMap(_.rows.keys).max + 1
    /** Publish one wave and wait until it has committed; a `paced` wave
      * waits for its publish slot, and then for the reader too. */
    def runWave(wave: Int, paced: Boolean): Unit = {
      val touched = Iterator.continually(rnd.nextInt(Tables)).distinct.take(WaveTables)
        .toSeq.sorted
      val files = touched.map { ti =>
        val fresh = (r: SplittableRandom) => {
          nextKey += 1
          Gen.orderRow(r, nextKey, Tables * (1L + r.nextInt(50)) + ti)
        }
        val touch = (r: SplittableRandom, row: Array[Any]) => {
          val x = row.clone()
          x(2) = if (r.nextBoolean()) "O" else "F"
          x(3) = java.math.BigDecimal.valueOf(90000L + r.nextLong(50000000L), 2)
          x
        }
        val rekey = (_: SplittableRandom, row: Array[Any]) => {
          val x = row.clone(); nextKey += 1; x(0) = nextKey; x
        }
        val evs = mutable.ArrayBuffer.empty[Ev]
        while (evs.size < EventsPerWaveFile)
          evs ++= sources(ti).next(fresh, touch, Some(rekey))
        Envelope.write(staging, srcRoot, defs(ti), defs(ti).table, snapshot = false,
          wave, evs.toSeq)
      }
      val wait = if (paced) publishSlot() - System.currentTimeMillis() else 0L
      if (wait > 0) Thread.sleep(wait)
      // a listing still running would see only part of the wave
      while (q.status.isTriggerActive) Thread.sleep(2)
      val due = System.currentTimeMillis()
      files.foreach(s => waveOf(publish(s, due).path) = wave)
      q.processAllAvailable()
      // the reader's whole-fleet scan would otherwise overlap the next
      // wave's trigger by a varying amount
      val v = store.currentVersion.getOrElse(-1L)
      if (paced) await("reader")(readAt.keys.maxOption.exists(_ >= v))
    }
    // closed-loop warm-up: the first waves after the backfill run up to
    // twice as slow as later ones (code generation, JIT)
    (1 to WarmupWaves).foreach(runWave(_, paced = false))
    val v0 = store.currentVersion.getOrElse(-1L)
    await("reader warm-up")(readAt.keys.maxOption.exists(_ >= v0))
    measureStartNs = System.nanoTime()
    val end = System.currentTimeMillis() + p.seconds * 1000L
    var wave = WarmupWaves + 1
    while (System.currentTimeMillis() < end) {
      runWave(wave, paced = true)
      wave += 1
    }
    extra("waves") = wave - 1 - WarmupWaves
    stopReader.set(true)
    reader.join()
    stop(q)

    val planned = Support.sourceBatches(checkpoint)
    val commits = Support.commitTimes(checkpoint)
    val versions = batchVersions(planned, 0L)
    def commitOf(f: Pub) = planned.get(f.path).flatMap(bs => commits.get(bs.head))
    val cdcPubs = sampledPubs
    val commit = cdcPubs.flatMap(f => commitOf(f).map(c => (c - f.dueMs) / 1000.0))
    val fresh = cdcPubs.flatMap(f => planned.get(f.path)
      .flatMap(bs => readTime(versions(bs.head))).map(c => (c - f.dueMs) / 1000.0))
    val bf = pubs.filter(f => waveOf(f.path) == 0)
    extra("backfill_wave_commit_s") = (bf.flatMap(commitOf).max - bf.map(_.pubMs).min) / 1000.0
    extra("reader_read_p50_s") = Support.median(readSeconds.toSeq)
    extra("commit_samples") = commit.size
    // publish to last commit of each wave: the client's waits between
    // waves (for the reader and the grid point) are its own pacing and
    // would tie throughput to how cycle times round to the grid
    val waveCommitS = cdcPubs.groupBy(f => waveOf(f.path)).toSeq.sortBy(_._1).map {
      case (_, fs) => (fs.flatMap(commitOf).max - fs.map(_.dueMs).min) / 1000.0
    }
    extra("wave_commit_s") = waveCommitS
    Map(
      "ingest_eps" -> cdcPubs.map(_.events).sum / math.max(1e-3, waveCommitS.sum),
      "commit_p50_s" -> Support.median(commit),
      "commit_p90_s" -> Support.quantile(commit, 0.9),
      "fresh_p50_s" -> Support.median(fresh),
      "fresh_p90_s" -> Support.quantile(fresh, 0.9))
  }

  def check(): Unit = {
    val all = store.stateAll.get
    val payload = Gen.Orders.cols.map(_.name)
    val live = all.filter(!col("_is_deleted"))
      .select((col("table_name") +: payload.map(col)): _*)
    val expected = oneShotLive(Seq(Envelope.glob(srcRoot)), schema, pk)
      .withColumn("table_name", format_string("O%03d", col("O_CUSTKEY") % Tables))
    checks += ("every table equals its one-shot Apply.merge" -> sameRows(live, expected))
    checks += ("live state matches the generator's final source rows" ->
      matchesSource(live, "O_TOTALPRICE", 3, sources.flatMap(_.rows.values)))
    checkExactlyOnce()
  }

  def attempted: Long =
    pubs.size + Support.sourceBatches(checkpoint).values.flatten.toSet.size

  def layers(): Map[String, Double] = {
    val planned = Support.sourceBatches(checkpoint)
    val byBatch = planned.toSeq.groupMap(_._2.head)(_._1).toSeq.sortBy(_._1)
    val versions = batchVersions(planned, 0L)
    val lay = sourcePass(Seq(Envelope.glob(srcRoot)), schema, pk, byBatch.map(_._2.sorted))
    val changed = batchCollapsed.keys.toSeq.map { i =>
      val v = versions(byBatch(i)._1)
      byBatch(i)._2.map(f => f.split('/').last.takeWhile(_ != '_')).distinct
        .flatMap(tb => store.changeFeed(tb, v)).map(_.count().toDouble).sum
    }
    val eff = changed.sum / math.max(1.0, batchCollapsed.values.sum)
    // each router batch splits at the end of its last routing job:
    // before it is routing, after it the store's merge and commit
    val mStart = tracer.wallMs(measureStartNs)
    val calls = measured("router.applyBatch")
    val phases = calls.map { s =>
      val (a, b) = (tracer.wallMs(s.startNs), tracer.wallMs(s.endNs))
      val js = tracer.jobsIn(j => j.span == "router.applyBatch" && j.startMs >= a && j.startMs <= b)
      val storeStart = js.find(_.module == "cdc.ConsolidatedStore").map(_.startMs).getOrElse(b)
      val routeEnd = (a +: js.filter(j => j.module == "streaming.CdcRouter" &&
        j.endMs <= storeStart).map(_.endMs)).max
      ((routeEnd - a) / 1000.0, (b - routeEnd) / 1000.0)
    }
    val n = math.max(1, calls.size).toDouble
    val storeJobs = tracer.jobsIn(j => j.span == "router.applyBatch" &&
      j.module == "cdc.ConsolidatedStore" && j.startMs >= mStart)
    val runBatches = sampledPubs.flatMap(f => planned.get(f.path)).map(_.head).toSet
    val runVersions = runBatches.toSeq.map(versions).sorted
    val segs = Support.filesUnder(java.nio.file.Paths.get(store.location))
      .filter(f => f.getFileName.toString.startsWith("part-") &&
        runVersions.exists(v => f.toString.contains(s"/seg-v$v-")))
    val commitLog = Support.commitTimes(checkpoint)
    val stream = streamLayer(ingestId, "stream", byBatch.map(_._2.size),
      backlogMax(ingestId, f => planned.get(f.path).flatMap(bs => commitLog.get(bs.head))))
    val tablesPer = byBatch.filter(b => runBatches(b._1)).map(_._2.size.toDouble)
    val perVersion = math.max(1.0, runVersions.size)
    val all = lay ++ stream ++ Map(
      "apply.effective_ratio" -> eff,
      "store.commit_s" -> Support.median(phases.map(_._2)),
      "store.jobs_per_commit" -> storeJobs.size / n,
      "store.tasks_per_commit" -> storeJobs.map(_.tasks).sum / n,
      "store.files_written" -> segs.size / perVersion,
      "store.bytes_written" -> segs.map(Files.size).sum / perVersion,
      "router.route_s" -> Support.median(phases.map(_._1)),
      "router.tables_per_batch" -> Support.median(tablesPer))
    val trig = measuredTriggers(ingestId)
    selfTimes(all, phases.map(_._2).sum, "cdc.ConsolidatedStore",
      math.max(0.0, trig.map(_.triggerMs / 1000.0).sum - calls.map(_.seconds).sum),
      Map("streaming.CdcRouter" -> phases.map(_._1).sum))
    withAllLayers(all)
  }
}
