package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.{Apply, CdcTable, ConcurrentCommitException, Decode}
import graft.sources.DatastreamAvro

/** Run parameters. `sf` scales the generated tables (TPC-H scale
  * factor); `cores` is the local[N] width. */
case class Params(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cores: Int, sf: Double)

/** A published source file: when it was due, when it became visible. */
case class Pub(path: String, dueMs: Long, pubMs: Long, events: Int,
    bytes: Long)

/** What one run measured and checked. */
case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
    extra: Map[String, Any], attempted: Long, checks: Seq[(String, Boolean)])

/** Benchmark constants shared by the workloads. */
object Knobs {
  /** Warm setups per run, after the cold first one: at least
    * MinWarmSetups, and more while together they took under
    * WarmSetupBudgetS (a setup of a fraction of a second is noisy), up
    * to MaxWarmSetups. setup_s is their median. */
  val MinWarmSetups = 3
  val MaxWarmSetups = 15
  val WarmSetupBudgetS = 2.0
  /** Trigger interval of the ingest queries (fleet-waves sets its own). */
  val TriggerMs = 500L
  /** Trigger interval of the follower: short, so a version's fold
    * starts soon after its commit whatever the commit's phase. */
  val FollowTriggerMs = 100L
  /** Bucket count of every CdcTable target. */
  val Buckets = 4
  /** How long a run may wait for the tail of its work to commit. */
  val DrainTimeoutMs = 90000L
  /** Batches replayed by the traced layer pass (evenly sampled). */
  val LayerBatches = 12
}

/** Folds each committed version's change feed into a small aggregate
  * per group — count and price sum — the way an incremental view is
  * maintained: insert and update_postimage rows add, update_preimage
  * and delete rows retract. */
final class Fold(groupCol: Column, priceCol: String, tracer: Tracer) {
  val state = mutable.Map.empty[String, (Long, java.math.BigDecimal)]
  /** version → when its fold finished (epoch ms). */
  val foldedAt = scala.collection.concurrent.TrieMap.empty[Long, Long]
  @volatile var cdfRows = 0L
  val foldSeconds = mutable.ArrayBuffer.empty[Double]

  def lastFolded: Long =
    if (foldedAt.isEmpty) -1L else foldedAt.keys.max

  def apply(v: Long, cdf: DataFrame): Unit = tracer.span("follow.fold",
      Some(cdf.sparkSession.sparkContext)) {
    val t0 = System.nanoTime()
    // feeds are commit-sized: pull (group, change type, price) and fold
    // on the driver, one single-stage job per feed
    val rows = cdf.select(groupCol, col("_change_type"), col(priceCol)).collect()
    synchronized {
      rows.foreach { r =>
        val add = r.getString(1) == "insert" || r.getString(1) == "update_postimage"
        val (n0, p0) = state.getOrElse(r.getString(0), (0L, java.math.BigDecimal.ZERO))
        val price = Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO)
        state(r.getString(0)) =
          if (add) (n0 + 1, p0.add(price)) else (n0 - 1, p0.subtract(price))
      }
      cdfRows += rows.length
      foldSeconds += (System.nanoTime() - t0) / 1e9
    }
    foldedAt.put(v, System.currentTimeMillis())
    ()
  }

  /** The aggregate recomputed in one batch over a live state. */
  def matches(live: DataFrame): Boolean = {
    val want = live.groupBy(groupCol.as("g"))
      .agg(count(lit(1)).as("n"), sum(col(priceCol)).as("p")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    val have = synchronized(state.filter(_._2._1 != 0).toMap)
    want.keySet == have.keySet && want.forall { case (g, (n, p)) =>
      have(g)._1 == n && have(g)._2.compareTo(p) == 0
    }
  }
}

/** Shared machinery: generation, repeated setup, streaming
  * bookkeeping, correctness checks and the traced layer pass. Each
  * workload supplies [[generate]], [[setupOnce]] and [[measure]]. */
abstract class Workload(val p: Params, val tracer: Tracer) {

  val rnd = new SplittableRandom(p.seed)
  val staging: Path = p.work.resolve("staging")
  val srcRoot: Path = p.work.resolve("src")
  val checkpoint: Path = p.work.resolve("ck-ingest")
  val followCk: Path = p.work.resolve("ck-follow")
  val processedLog: Path = p.work.resolve("processed.log")
  Seq(staging, srcRoot).foreach(Files.createDirectories(_))

  var spark: SparkSession = _
  val pubs = mutable.ArrayBuffer.empty[Pub]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]

  /** Counts per-commit facts the traced run reports. */
  var casConflicts = 0L

  def generate(): Unit
  /** One setup (after the session exists); `k` numbers the attempt. */
  def setupOnce(k: Int): Unit
  def measure(): Map[String, Double]
  def check(): Unit
  def layers(): Map[String, Double]
  /** Published files plus applied batches. */
  def attempted: Long

  def publish(s: Envelope.Staged, dueMs: Long): Pub = {
    Envelope.publish(s)
    val pub = Pub(s.dest.toAbsolutePath.toString, dueMs,
      System.currentTimeMillis(), s.events, s.bytes)
    pubs.synchronized(pubs += pub)
    pub
  }

  /** Run setup once cold and then warm (see [[Knobs.MinWarmSetups]]),
    * each from a fresh session and target; returns the median of the
    * warm ones. The cold one (first session and JIT warm-up of the JVM)
    * is reported, not returned: it varies with the host far more than
    * the setup work does. The last setup is the one used. */
  def setup(): Double = {
    def once(k: Int): Double = {
      val t0 = System.nanoTime()
      tracer.span("setup_once") {
        if (spark != null) spark.stop()
        spark = Support.session(p.cores, tracer)
        setupOnce(k)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val cold = once(0)
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < Knobs.MinWarmSetups ||
        (warm.size < Knobs.MaxWarmSetups && warm.sum < Knobs.WarmSetupBudgetS))
      warm += once(warm.size + 1)
    extra("setup_cold_s") = cold
    extra("setup_warm_s") = warm.toSeq
    Support.median(warm.toSeq)
  }

  /** Run a phase of the run, recording its wall time in the report. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name)(f)
    finally extra(s"phase_${name}_s") = (System.nanoTime() - t0) / 1e9
  }

  def run(): Outcome = {
    phase("generate")(generate())
    val setupS = phase("setup")(setup())
    val e2e = phase("measure")(measure())
    phase("check")(check())
    val lay = if (p.trace) phase("layer_pass")(layers()) else Map.empty[String, Double]
    Outcome(e2e + ("setup_s" -> setupS) + ("peak_rss_mb" -> Support.peakRssMb()),
      lay, extra.toMap, attempted, checks.toSeq)
  }

  // ---- streaming bookkeeping -------------------------------------

  def trigger: Trigger = Trigger.ProcessingTime(Knobs.TriggerMs)

  /** The first time from now that lies half a trigger interval after a
    * point of the trigger grid. Processing-time triggers fire on the
    * epoch grid of their interval, so a file published then waits the
    * same half interval for its trigger as every other file. */
  def gridSlot(): Long = {
    val t = Knobs.TriggerMs
    (System.currentTimeMillis() + t / 2) / t * t + t / 2
  }

  /** A [[CdcTable]] whose commits are spans (a plain call when tracing
    * is off). */
  def newTable(dir: Path, pk: Seq[String]): CdcTable =
    new CdcTable(spark, dir.toString, pk, Knobs.Buckets) {
      override def applyBatch(events: DataFrame, batchId: Long): Long =
        tracer.span("table.applyBatch", Some(spark.sparkContext)) {
          try super.applyBatch(events, batchId)
          catch { case e: ConcurrentCommitException => casConflicts += 1; throw e }
        }
    }

  /** Poll until `done`, or fail the run's drain check. */
  def await(what: String, timeoutMs: Long = Knobs.DrainTimeoutMs)(done: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < end) Thread.sleep(20)
    val ok = done
    if (!ok) checks += (s"drained: $what" -> false)
    ok
  }

  def stamps: Map[String, Long] =
    graft.streaming.ProcessedFiles.stamps(processedLog.toString)
      .map { case (f, t) => Support.norm(f) -> t }

  def stop(q: StreamingQuery): Unit = { q.stop(); q.awaitTermination() }

  /** Exactly-once delivery: every published file was planned into
    * exactly one batch, that batch committed, and nothing else was. */
  def checkExactlyOnce(): Map[String, Seq[Long]] = {
    val planned = Support.sourceBatches(checkpoint)
    val commits = Support.commitTimes(checkpoint)
    val published = pubs.map(_.path).toSet
    checks += ("every file planned exactly once" ->
      (planned.keySet == published && planned.values.forall(_.size == 1)))
    checks += ("every planned batch committed" ->
      planned.values.flatten.forall(commits.contains))
    planned
  }

  /** Version of each batch: non-empty batches commit one version each,
    * in batch order, starting at `firstVersion`. */
  def batchVersions(planned: Map[String, Seq[Long]], firstVersion: Long): Map[Long, Long] =
    planned.values.flatten.toSeq.distinct.sorted.zipWithIndex
      .map { case (b, i) => b -> (firstVersion + i) }.toMap

  /** The published files the end-to-end metrics sample. */
  def sampled: Seq[Pub] = pubs.toSeq

  /** Latency samples in seconds from each sampled file's due time to `at`. */
  def latencies(at: Pub => Option[Long]): Seq[Double] =
    sampled.flatMap(f => at(f).map(t => (t - f.dueMs) / 1000.0))

  def eventsPerSecond(lastCommitMs: Long): Double = {
    val first = sampled.map(_.pubMs).min
    sampled.map(_.events).sum / math.max(1e-3, (lastCommitMs - first) / 1000.0)
  }

  /** A one-shot [[Apply.merge]] of every generated event, decoded by
    * the batch reader, as live rows. */
  def oneShotLive(globs: Seq[String], schema: StructType, pk: Seq[String]): DataFrame = {
    val events = globs.map(g => Decode.changeEvents(
      DatastreamAvro.read(spark, g, Some(schema)))).reduce(_ unionByName _)
    Apply.liveView(Apply.merge(None, events, pk, 0L))
  }

  /** Multiset equality of two frames with the same columns, by row
    * count and the sum of a 64-bit hash of every row (two aggregate
    * jobs instead of two shuffled set differences). */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq.sorted.map(col)
    def fingerprint(df: DataFrame) =
      df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    a.columns.toSet == b.columns.toSet && fingerprint(a) == fingerprint(b)
  }

  /** Count and price sum of a live state against the generator's own
    * final source rows — a check that does not go through the decoder. */
  def matchesSource(live: DataFrame, priceCol: String, priceIdx: Int,
      rows: Iterable[Array[Any]]): Boolean = {
    val r = live.agg(count(lit(1)), sum(col(priceCol))).head()
    val want = rows.foldLeft(java.math.BigDecimal.ZERO)((s, x) =>
      s.add(x(priceIdx).asInstanceOf[java.math.BigDecimal]))
    r.getLong(0) == rows.size && r.getDecimal(1).compareTo(want) == 0
  }

  // ---- traced layer pass -----------------------------------------

  private def jobsOf(span: String) = tracer.jobsIn(_.span == span)
  private def cpuS(js: Seq[JobRec]) = js.map(_.cpuNs).sum / 1e9

  /** Time `f` under a span that tags its jobs; returns seconds. */
  def timed(name: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span(name, Some(spark.sparkContext))(f)
    (System.nanoTime() - t0) / 1e9
  }

  /** Self times of read, decode and collapse over the run's inputs,
    * each forced with the noop sink, plus the per-batch collapse
    * counts behind the waste ratio. */
  def sourcePass(globs: Seq[String], schema: StructType,
      pk: Seq[String], batches: Seq[Seq[String]]): Map[String, Double] = {
    def read() = globs.map(g => DatastreamAvro.read(spark, g, Some(schema)))
      .reduce(_ unionByName _)
    // two rounds: the first warms code generation and the page cache,
    // the second is timed (tagging its jobs for CPU and shuffle bytes)
    val Seq(readS, decS, colS) = (1 to 2).map { round =>
      def pass(name: String)(df: => DataFrame): Double =
        if (round == 1) { Support.noop(df); 0.0 } else timed(name)(Support.noop(df))
      Seq(pass("layer.sources.read")(read()),
        pass("layer.decode")(Decode.changeEvents(read())),
        pass("layer.apply.collapse")(Apply.collapse(Decode.changeEvents(read()), pk)))
    }.last
    val rowsOut = Decode.changeEvents(read()).count().toDouble
    val collapsed = Apply.collapse(Decode.changeEvents(read()), pk).count().toDouble
    val step = math.max(1, batches.size / Knobs.LayerBatches)
    val sampled = batches.indices.filter(_ % step == 0).take(Knobs.LayerBatches)
    val perBatch = sampled.map { i =>
      val fs = batches(i)
      val g = if (fs.size == 1) fs.head else fs.mkString("{", ",", "}")
      i -> Apply.collapse(Decode.changeEvents(
        DatastreamAvro.read(spark, g, Some(schema))), pk).count().toDouble
    }.toMap
    extra("layer_batches_sampled") = sampled.size
    batchCollapsed = perBatch
    val colJobs = jobsOf("layer.apply.collapse")
    Map(
      "sources.files" -> pubs.size.toDouble,
      "sources.bytes" -> pubs.map(_.bytes).sum.toDouble,
      "sources.records" -> pubs.map(_.events).sum.toDouble,
      "sources.read_s" -> readS,
      "sources.exec_cpu_s" -> cpuS(jobsOf("layer.sources.read")),
      "decode.self_s" -> math.max(0.0, decS - readS),
      "decode.rows_out" -> rowsOut,
      "apply.collapse_s" -> math.max(0.0, colS - decS),
      "apply.shuffle_bytes" -> colJobs.map(_.shuffleBytes).sum.toDouble,
      "apply.spill_bytes" -> colJobs.map(_.spillBytes).sum.toDouble,
      "apply.collapse_ratio" -> rowsOut / math.max(1.0, collapsed))
  }
  /** Sampled batch index → rows after collapse (set by [[sourcePass]]). */
  var batchCollapsed: Map[Int, Double] = Map.empty

  /** Per-trigger machinery of one query, from its progress events. */
  def streamLayer(queryId: String, prefix: String,
      filesPerBatch: Seq[Int], backlogMax: Double): Map[String, Double] = {
    val ts = measuredTriggers(queryId)
    Map(
      s"$prefix.triggers" -> ts.size.toDouble,
      s"$prefix.trigger_s" -> Support.median(ts.map(_.triggerMs / 1000.0)),
      s"$prefix.add_batch_s" -> Support.median(ts.map(_.addBatchMs / 1000.0)),
      s"$prefix.overhead_s" -> Support.median(ts.map(t => (t.triggerMs - t.addBatchMs) / 1000.0)),
      s"$prefix.files_per_trigger" -> Support.median(filesPerBatch.map(_.toDouble)),
      s"$prefix.backlog_files_max" -> backlogMax)
  }

  /** Most files published but not yet committed at any trigger start. */
  def backlogMax(queryId: String, commitOf: Pub => Option[Long]): Double = {
    val starts = tracer.triggers.asScala.toSeq.filter(_.query == queryId).map(_.startMs)
    (0L +: starts.map(t => pubs.count(f =>
      f.pubMs <= t && commitOf(f).forall(_ > t)).toLong)).max.toDouble
  }

  /** Follower layer: versions, rows, fold time, trigger overhead and
    * the change-feed read time (`cdf` forced with the noop sink). */
  def followLayer(fold: Fold, followQuery: String,
      cdfs: Seq[() => Option[DataFrame]]): Map[String, Double] = {
    val reads = cdfs.flatMap(f => f().map(df => timed("layer.follow.cdf")(Support.noop(df))))
    val ts = measuredTriggers(followQuery)
    Map(
      "follow.versions" -> fold.foldedAt.size.toDouble,
      "follow.cdf_rows" -> fold.cdfRows.toDouble,
      "follow.cdf_read_s" -> Support.median(reads),
      "follow.fold_s" -> Support.median(fold.foldSeconds.toSeq),
      "follow.trigger_overhead_s" ->
        Support.median(ts.map(t => (t.triggerMs - t.addBatchMs) / 1000.0)))
  }

  /** Triggers of a query that had data, in the measured window. */
  def measuredTriggers(queryId: String): Seq[TriggerRec] =
    tracer.triggers.asScala.toSeq.filter(t => t.query == queryId && t.inputRows > 0 &&
      t.startMs >= tracer.wallMs(measureStartNs))

  /** Spans of the measured window only (setup also commits). */
  def measured(name: String): Seq[Span] =
    tracer.spansNamed(name).filter(_.startNs >= measureStartNs)
  var measureStartNs = Long.MaxValue

  /** [[CdcTable]] commit numbers: p50 `applyBatch` time; jobs, tasks
    * and executor CPU per call; buckets, files and bytes each commit
    * wrote (from the manifests). */
  def tableLayer(tbl: CdcTable, versions: Seq[Long]): Map[String, Double] = {
    val calls = measured("table.applyBatch")
    val n = math.max(1, calls.size).toDouble
    val js = tracer.jobsIn(j => j.span == "table.applyBatch" &&
      j.startMs >= tracer.wallMs(measureStartNs))
    val dir = java.nio.file.Paths.get(tbl.location)
    val entry = "\"(\\d+)\"\\s*:\\s*\"([^\"]+)\"".r
    def manifest(v: Long): Map[Int, String] =
      if (v < 0 || !Files.exists(dir.resolve(s"manifest-$v.json"))) Map.empty
      else entry.findAllMatchIn(new String(Files.readAllBytes(
        dir.resolve(s"manifest-$v.json")))).map(m => m.group(1).toInt -> m.group(2)).toMap
    val written = versions.map { v =>
      val prev = manifest(v - 1)
      val dirs = manifest(v).collect { case (b, d) if !prev.get(b).contains(d) => d }
      val parts = dirs.toSeq.flatMap(d => Support.filesUnder(dir.resolve(d)))
        .filter(_.getFileName.toString.startsWith("part-"))
      (dirs.size.toDouble, parts.size.toDouble, parts.map(Files.size).sum.toDouble)
    }
    val m = math.max(1, written.size).toDouble
    Map(
      "table.commit_s" -> Support.median(calls.map(_.seconds)),
      "table.jobs_per_commit" -> js.size / n,
      "table.tasks_per_commit" -> js.map(_.tasks).sum / n,
      "table.exec_cpu_s_per_commit" -> cpuS(js) / n,
      "table.buckets_touched" -> written.map(_._1).sum / m,
      "table.files_written" -> written.map(_._2).sum / m,
      "table.bytes_written" -> written.map(_._3).sum / m,
      "table.cas_conflicts" -> casConflicts.toDouble)
  }

  /** Module self times (seconds over the run) from the spans and the
    * layer pass, and the module that spent the most. */
  def selfTimes(lay: Map[String, Double], commitTotal: Double,
      commitModule: String, streamTotal: Double, extraSelf: Map[String, Double]): Unit = {
    val inside = lay("sources.read_s") + lay("decode.self_s") + lay("apply.collapse_s")
    val self = Map(
      "sources.DatastreamAvro" -> lay("sources.read_s"),
      "cdc.Decode" -> lay("decode.self_s"),
      "cdc.Apply" -> lay("apply.collapse_s"),
      commitModule -> math.max(0.0, commitTotal - inside)) ++
      extraSelf + ("streaming.CdcStream" -> streamTotal)
    extra("self_s") = self
    extra("jobs_by_module") = tracer.jobsIn(_ => true).groupBy(j => s"${j.span}|${j.module}")
      .map { case (k, js) => k -> Map("jobs" -> js.size, "tasks" -> js.map(_.tasks).sum,
        "cpu_s" -> cpuS(js), "run_s" -> js.map(_.runMs).sum / 1000.0,
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum, "spill_bytes" -> js.map(_.spillBytes).sum) }
    extra("largest_self_module") = self.maxBy(_._2)._1
    extra("span_self_s") = tracer.selfTimes
  }

  /** Every per-layer metric, zero where this workload bypasses the
    * module. */
  def withAllLayers(m: Map[String, Double]): Map[String, Double] =
    Main.LayerMetrics.map(k => k -> m.get(k).filterNot(_.isNaN).getOrElse(0.0)).toMap
}
