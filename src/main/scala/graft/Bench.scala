package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.obs.{Probe, Work}
import graft.util.Fs

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR in one window and prints one JSON line, last.
  * Each query is fully materialized through the noop sink (count()
  * would let Catalyst prune the measured work down to row counting).
  *
  * A query's time is an adaptive in-run min-of-n (see `main`). A
  * [[Probe]] tags every sample's jobs and streams, and the work record
  * of a query's last sample — always a warm one — rides beside its
  * time in the `layers` map of the run record, so a slow number says
  * whether the query did more work or the host was slower. The record
  * is read after `spark.stop()`, which drains the listener bus.
  *
  * `--family=q,d` runs those family prefixes and `--only=<names>` runs
  * exact names: the single-query min-of-n tool. A subset run writes its
  * record to `target/bench-subset.json`, never to the committed
  * `BENCH_FULL.json`.
  */
object Bench {

  /** The query names a run measures, sorted: all of `names`, or the
    * `--family=` prefixes and `--only=` names of `args`. A family or
    * name that matches no query, or any other argument, fails the run
    * before it starts, listing every one of them. */
  private[graft] def select(names: Seq[String], args: Seq[String]): Seq[String] = {
    def list(flag: String): Option[Seq[String]] = args.collectFirst {
      case a if a.startsWith(flag) =>
        a.stripPrefix(flag).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    def family(n: String) = n.takeWhile(!_.isDigit)
    val families = list("--family=")
    val only = list("--only=")
    val unknown = args.filterNot(a =>
      a.startsWith("--family=") || a.startsWith("--only="))
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(" ")}")
    val unmatched =
      families.getOrElse(Nil).filterNot(f => names.exists(family(_) == f)) ++
        only.getOrElse(Nil).filterNot(names.contains)
    require(unmatched.isEmpty, s"no query matches: ${unmatched.mkString(", ")}")
    val picked = names.sorted.filter(n =>
      families.forall(_.contains(family(n))) && only.forall(_.contains(n)))
    require(picked.nonEmpty, "the selection names no query")
    picked
  }

  /** 1-minute system load, or -1 where /proc is unavailable. */
  private[graft] def load1(): Double =
    try new String(Files.readAllBytes(
      Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** First line of /proc/stat → (idle+iowait, steal, total) jiffies.
    * Steal is the decisive field on this box: it is HOST-side
    * co-tenancy — cycles the hypervisor ran someone else — which a
    * fully idle guest (loadavg 0.0) still pays. The round-13/14
    * "same code, same data, verified-idle box, 1.5–4× slower"
    * windows are only explainable by fields like this one. */
  private[graft] def parseProcStat(line: String)
      : Option[(Long, Long, Long)] = {
    val parts = line.trim.split("\\s+")
    if (!parts.headOption.contains("cpu") || parts.length < 5) None
    else {
      val xs = parts.tail.map(_.toLong)
      // total = user..steal (first 8 fields): the kernel already folds
      // guest/guest_nice into user/nice, so summing all fields double-
      // counts guest time and deflates idle%/steal% on guest-running
      // hosts — standard /proc/stat accounting
      Some((xs(3) + (if (xs.length > 4) xs(4) else 0L),
        if (xs.length > 7) xs(7) else 0L, xs.take(8).sum))
    }
  }

  private[graft] def procStat(): Option[(Long, Long, Long)] =
    try parseProcStat(new String(Files.readAllBytes(
      Paths.get("/proc/stat"))).linesIterator.next())
    catch { case _: Throwable => None }

  /** cpu0's current scaling frequency in kHz, -1 where unavailable
    * (containers often hide cpufreq). */
  private[graft] def curFreqKhz(): Long =
    try new String(Files.readAllBytes(
      Paths.get(
        "/sys/devices/system/cpu/cpu0/cpufreq/scaling_cur_freq")))
      .trim.toLong
    catch { case _: Throwable => -1L }

  /** System-wide idle % between two /proc/stat samples (co-tenant
    * load shows up as a LOW number); -1 if either sample is missing. */
  private[graft] def idlePct(a: Option[(Long, Long, Long)],
      b: Option[(Long, Long, Long)]): Double =
    (for ((i0, _, t0) <- a; (i1, _, t1) <- b if t1 > t0)
      yield (i1 - i0).toDouble / (t1 - t0) * 100).getOrElse(-1.0)

  /** HOST-side steal % between two /proc/stat samples; -1 if either
    * sample is missing. Nonzero steal on an idle-guest window is the
    * hypervisor's co-tenancy — the one machine-state signal guest
    * loadavg cannot see. */
  private[graft] def stealPct(a: Option[(Long, Long, Long)],
      b: Option[(Long, Long, Long)]): Double =
    (for ((_, s0, t0) <- a; (_, s1, t1) <- b if t1 > t0)
      yield (s1 - s0).toDouble / (t1 - t0) * 100).getOrElse(-1.0)

  /** The machine-state telemetry fragment embedded in every artifact
    * line: data about the window, not a verdict on it. */
  private[graft] def telemetryJson(loadStart: Double, loadEnd: Double,
      idlePct: Double, stealPct: Double, freqStart: Long,
      freqEnd: Long): String =
    f""","load_start":$loadStart%.1f,"load_end":$loadEnd%.1f""" +
      f""","idle_pct":$idlePct%.1f,"steal_pct":$stealPct%.2f""" +
      s""","freq_khz_start":$freqStart,"freq_khz_end":$freqEnd"""

  /** The run's totals over the queries' work records. */
  private[graft] def workJson(records: Seq[Work]): String =
    s""","work":{"jobs":${records.map(_.jobs).sum}""" +
      s""","tasks":${records.map(_.tasks).sum}""" +
      f""","job_s":${records.map(_.jobSec).sum}%.3f""" +
      f""","cpu_s":${records.map(_.cpuSec).sum}%.3f}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val selected = select(SparkEntry.queries.keys.toSeq, args.toSeq)
    val subsetRun = args.nonEmpty
    // telemetry anchors: the idle%/steal% window covers exactly the run
    val load0 = load1()
    val stat0 = procStat()
    val freq0 = curFreqKhz()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = Probe.install(spark)

    // JVM/codegen warmup on the smallest SF so per-query numbers
    // reflect the engine, not first-use class loading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Adaptive min-of-n per query: co-tenant bursts only ADD time, so
    // the min must be CONFIRMED by a second sample within 1.5x —
    // otherwise take more samples (bounded at 5) and keep the min.
    // Each sample is its own probe tag; the last one names the record.
    val measured = selected.map { name =>
      val fn = SparkEntry.queries(name)
      var n = 0
      def once(): Double = {
        n += 1
        Probe.tagged(spark, s"$name#$n") {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }
      val t =
        try {
          var runs = List(once(), once())
          while (runs.size < 5 &&
              runs.sorted.tail.head > runs.min * 1.5) runs ::= once()
          runs.min
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
      // inter-query hygiene: one query's leftovers (leaked cache
      // entries, a streaming query that failed before its stop())
      // must not tax the next query's measurement
      spark.sharedState.cacheManager.clearCache()
      spark.streams.active.foreach(_.stop())
      (name, t, s"$name#$n")
    }
    // Unload state-store providers before stopping the context: a
    // streaming query that died during setup never reaches its stop(),
    // and its maintenance thread would otherwise outlive spark.stop()
    // and stack-trace "SparkEnv not active" into the harness capture.
    // A failed stop costs the records their last events, not the line.
    try {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      spark.stop()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stop failed: ${e.getMessage}") }
    val results = measured.map { case (name, t, _) => name -> t }
    val layers = measured.map { case (name, _, tag) => name -> probe.record(tag) }

    // The harness captures only the last ~2000 chars of output, and a
    // 109-entry per-query map (~2.9 KB even at ms precision) pushed
    // the line's START out of the capture — rounds 1-3 all recorded
    // parsed:null. The printed line therefore carries the total,
    // per-FAMILY group sums, a fixed headline subset and the work
    // totals (~1.5 KB); the per-query map and the work records go to
    // the record file next to the run.
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val headline = Set(
      "c01_decode_dump", "c02_cdc_final_state", "c09_router_multiplex",
      "c16_stream_e2e", "d01_exact_dedup", "d02_minhash_pairs",
      "d04_blocked_jaccard", "d05_cosine_pairs", "d06_dup_clusters",
      "d09_decontam", "d17_strip_boilerplate", "d18_stream_near_dup",
      "s13_ivf_pq", "m01_media_meta",
      "m04_media_dedup", "m06_crossmodal_check", "p01_train_pipeline",
      "p02_stream_pipeline", "q01_pricing_summary",
      "q05_regional_revenue", "q09_top_orders_per_cust", "q18_sessions",
      "q23_percentiles", "q30_approx_sketches", "q31_salted_join",
      "q45_stream_join", "q46_sliding_window", "q55_stream_sliding",
      "s01_cosine_topk", "s03_ann_lsh", "s07_quantize", "t01_token_stats",
      "t03_langid", "t07_char_trigrams", "t09_tfidf", "t13_lm_score")
    val total = results.map(_._2).filter(_ >= 0).sum
    val groups = results.groupBy(_._1.takeWhile(!_.isDigit)).toSeq
      .sortBy(_._1).map { case (g, rs) => g -> rs.map(_._2).filter(_ >= 0).sum }
    val stat1 = procStat()
    val tail = telemetryJson(load0, load1(), idlePct(stat0, stat1),
      stealPct(stat0, stat1), freq0, curFreqKhz()) + workJson(layers.map(_._2))
    val recordFile = if (subsetRun) "target/bench-subset.json" else "BENCH_FULL.json"
    val record = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
      s""","n_queries":${results.size},"queries":${jmap(results)}""" +
      layers.map { case (k, w) => "\"" + k + "\":" + w.json }
        .mkString(""","layers":{""", ",", "}") +
      tail + s""","sf":"$sfDir"}"""
    val recordPath = Paths.get(recordFile).toAbsolutePath
    Files.createDirectories(recordPath.getParent)
    Fs.writeAtomic(recordPath, (record + "\n").getBytes)
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
      s""","n_queries":${results.size}""" +
      s""","groups":${jmap(groups)}""" +
      s""","queries":${jmap(
        if (subsetRun) results else results.filter(r => headline(r._1)))}""" +
      tail + s""","full":"$recordFile","sf":"$sfDir"}""")
  }
}
