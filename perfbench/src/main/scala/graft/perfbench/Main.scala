package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The CDC ingest benchmark's JVM entry point (started by `run.py`).
  *
  * {{{
  *   Main --workload snapshot-drain|cdc-trickle|fleet-waves --seed N
  *        --seconds S --trace 0|1 --work DIR [--cores N] [--sf X]
  * }}}
  *
  * Prints a `report` JSON line (every measured number, the checks, the
  * machine state) and, last, the result line: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. */
object Main {

  /** End-to-end metrics of the result line (gated by BENCHMARK.json). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ingest_eps" -> "1/s", "commit_p50_s" -> "s",
    "commit_p90_s" -> "s", "fresh_p50_s" -> "s", "fresh_p90_s" -> "s")
  /** Printed and kept in the report, not gated: peak RSS varies by more
    * than a tenth between runs of the same code. */
  val Reported: Seq[(String, String)] = EndToEnd :+ ("peak_rss_mb" -> "MiB")

  val LayerUnits: Seq[(String, String)] = Seq(
    "sources.files" -> "count", "sources.bytes" -> "B", "sources.records" -> "count",
    "sources.read_s" -> "s", "sources.exec_cpu_s" -> "s",
    "decode.self_s" -> "s", "decode.rows_out" -> "count",
    "apply.collapse_s" -> "s", "apply.shuffle_bytes" -> "B", "apply.spill_bytes" -> "B",
    "apply.collapse_ratio" -> "ratio", "apply.effective_ratio" -> "ratio",
    "table.commit_s" -> "s", "table.jobs_per_commit" -> "count",
    "table.tasks_per_commit" -> "count", "table.exec_cpu_s_per_commit" -> "s",
    "table.buckets_touched" -> "count", "table.files_written" -> "count",
    "table.bytes_written" -> "B", "table.cas_conflicts" -> "count",
    "store.commit_s" -> "s", "store.jobs_per_commit" -> "count",
    "store.tasks_per_commit" -> "count", "store.files_written" -> "count",
    "store.bytes_written" -> "B",
    "stream.triggers" -> "count", "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.overhead_s" -> "s", "stream.files_per_trigger" -> "count",
    "stream.backlog_files_max" -> "count",
    "router.route_s" -> "s", "router.tables_per_batch" -> "count",
    "follow.versions" -> "count", "follow.cdf_rows" -> "count",
    "follow.cdf_read_s" -> "s", "follow.fold_s" -> "s",
    "follow.trigger_overhead_s" -> "s")
  val LayerMetrics: Seq[String] = LayerUnits.map(_._1)

  /** Input scale of each workload (TPC-H scale factor), sized so a run
    * takes about 50 s on 4 cores; `--sf` overrides it. */
  val DefaultSf: Map[String, Double] = Map(
    "snapshot-drain" -> 0.02, "cdc-trickle" -> 0.01, "fleet-waves" -> 0.02)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val p = Params(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("work")).toAbsolutePath,
      a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      a.get("sf").map(_.toDouble).getOrElse(DefaultSf(a("workload"))))
    val machineStart = Support.machine()
    val tracer = new Tracer(p.trace, s"${p.workload}-${p.seed}-${System.currentTimeMillis()}")
    val w: Workload = p.workload match {
      case "snapshot-drain" => new SnapshotDrain(p, tracer)
      case "cdc-trickle" => new CdcTrickle(p, tracer)
      case "fleet-waves" => new FleetWaves(p, tracer)
      case other => sys.error(s"unknown workload '$other'")
    }
    val t0 = System.nanoTime()
    val out = tracer.span("run")(w.run())
    val wallS = (System.nanoTime() - t0) / 1e9
    if (w.spark != null) w.spark.stop()
    val machineEnd = Support.machine()

    val measured = EndToEnd.forall(m => out.e2e.get(m._1).exists(v => !v.isNaN && v > 0))
    val correct = measured && out.checks.nonEmpty && out.checks.forall(_._2)
    val failed = if (correct) 0L else out.attempted
    val units = (Reported ++ LayerUnits).toMap
    val shown = if (p.trace) LayerMetrics else EndToEnd.map(_._1)
    val metrics = shown.map(k => k -> Map("value" -> out.e2e.getOrElse(k,
      out.layers.getOrElse(k, 0.0)), "unit" -> units(k)))
    val report = Json.obj(
      "report" -> p.workload, "seed" -> p.seed, "trace" -> p.trace,
      "cores" -> p.cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "sf" -> p.sf, "run_wall_s" -> wallS,
      "e2e" -> out.e2e, "failed_share" -> failed.toDouble / math.max(1L, out.attempted),
      "layers" -> out.layers, "extra" -> out.extra,
      "checks" -> out.checks.map { case (n, ok) => Map("check" -> n, "ok" -> ok) },
      "machine_start" -> machineStart, "machine_end" -> machineEnd,
      "jvm_gc_s" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum / 1000.0)
    Files.write(p.work.resolve("report.json"), report.getBytes)
    if (p.trace)
      Files.write(p.work.resolve("spans.jsonl"), (tracer.spansJson.mkString("\n") + "\n").getBytes)
    Reported.foreach { case (k, u) =>
      out.e2e.get(k).foreach(v => println(f"# ${p.workload} $k%-14s $v%.4f $u"))
    }
    println(f"# ${p.workload} failed_share   ${failed.toDouble / math.max(1L, out.attempted)}%.4f ratio")
    println(report)
    println(Json.obj("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> failed, "metrics" -> metrics.toMap))
    System.out.flush()
  }
}
