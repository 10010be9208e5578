package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.{Probe, Work}

/** The bench harness writes the committed artifact the next change is
  * measured against: its query selection, its telemetry and the probe
  * behind its work records get the same unit coverage as an operator.
  * The probe legs build and stop their own session, and read the
  * record after `spark.stop()` (which drains the listener bus), just
  * as `Bench` does. */
class BenchHarnessSpec extends AnyFunSuite {

  private val names = Seq("q02_b", "c01_a", "q01_a", "d01_a", "q10_c")

  test("select: the full surface sorted; --family by prefix, --only by " +
      "name; every unmatched name fails the run and is listed") {
    assert(Bench.select(names, Nil) ==
      Seq("c01_a", "d01_a", "q01_a", "q02_b", "q10_c"))
    assert(Bench.select(names, Seq("--family=q,c")) ==
      Seq("c01_a", "q01_a", "q02_b", "q10_c"))
    assert(Bench.select(names, Seq("--only=q10_c, d01_a")) ==
      Seq("d01_a", "q10_c"))
    assert(Bench.select(names, Seq("--family=q", "--only=q01_a,q02_b")) ==
      Seq("q01_a", "q02_b"))
    def failure(args: String*): String =
      intercept[IllegalArgumentException](Bench.select(names, args)).getMessage
    // a run that would publish n_queries 0 and a total of 0 never starts
    val m = failure("--family=q,x,zz", "--only=q01_a,q99_nope")
    assert(m.endsWith("no query matches: x, zz, q99_nope"), m)
    assert(failure("--family=c", "--only=q01_a").contains("no query"))
    assert(failure("--only=").contains("no query"))
    assert(failure("--famly=q").contains("--famly=q"))
  }

  test("telemetry fields ride in every artifact line (load, idle%, " +
      "steal%, cpu frequency) as data, with no verdict on the window") {
    val frag = Bench.telemetryJson(3.2, 4.0, 87.5, 2.31, 2400000L, 2200000L)
    for (f <- Seq("\"load_start\":3.2", "\"load_end\":4.0",
      "\"idle_pct\":87.5", "\"steal_pct\":2.31", "\"freq_khz_start\":2400000",
      "\"freq_khz_end\":2200000"))
      assert(frag.contains(f), s"missing $f in $frag")
    assert(frag.count(_ == ':') == 6, frag)
    // the work totals sum the per-query records
    assert(Bench.workJson(Seq(Work(jobs = 2, tasks = 5, jobSec = 0.25,
      cpuSec = 1.5), Work(jobs = 1, tasks = 3, jobSec = 0.5))) ==
      ""","work":{"jobs":3,"tasks":8,"job_s":0.750,"cpu_s":1.500}""")
    // /proc/stat parsing: idle = idle + iowait, steal = field 8,
    // total = user..steal (first 8)
    assert(Bench.parseProcStat(
      "cpu  100 0 50 800 50 0 0 20 0 0") == Some((850L, 20L, 1020L)))
    // guest/guest_nice are already folded into user/nice by the
    // kernel: the total must NOT double-count them
    assert(Bench.parseProcStat(
      "cpu  100 0 50 800 50 0 0 20 30 10") == Some((850L, 20L, 1020L)))
    assert(Bench.parseProcStat("cpu0 1 2 3 4") == None) // per-core line
    assert(Bench.parseProcStat("garbage") == None)
    // idle%/steal% across two samples; missing samples degrade to -1
    assert(Bench.idlePct(Some((850L, 0L, 1000L)),
      Some((1750L, 0L, 2000L))) == 90.0)
    assert(Bench.stealPct(Some((850L, 10L, 1000L)),
      Some((1750L, 60L, 2000L))) == 5.0)
    assert(Bench.idlePct(None, Some((1L, 0L, 2L))) == -1.0)
    assert(Bench.stealPct(None, Some((1L, 0L, 2L))) == -1.0)
    assert(Bench.idlePct(Some((1L, 0L, 2L)), Some((1L, 0L, 2L))) == -1.0)
    // the live samplers never throw, whatever the host exposes
    Bench.procStat(); Bench.curFreqKhz(); Bench.load1(); ()
  }

  private def session(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("probe: a tagged groupBy records its jobs, tasks and shuffle " +
      "bytes under its tag; an idle tag records nothing") {
    val spark = session()
    val probe = Probe.install(spark)
    try {
      val n = Probe.tagged(spark, "A") {
        spark.range(1000).groupBy(col("id") % 7).count().collect().length
      }
      assert(n == 7)
      spark.range(10).count() // untagged: summed under _untagged
    } finally spark.stop()
    val a = probe.record("A")
    assert(a.jobs >= 1 && a.stages >= 1 && a.tasks >= 1, a)
    assert(a.shuffleBytes > 0 && a.jobSec >= 0 && a.cpuSec > 0, a)
    assert(a.triggers == 0, a)
    assert(probe.record("B") == Work())
    assert(probe.record(Probe.Untagged).jobs >= 1)
  }

  test("probe: a tagged stateful stream records its triggers and state " +
      "rows under the tag that started it") {
    val spark = session()
    val probe = Probe.install(spark)
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Int]
      input.addData(1, 2, 3, 1)
      val q = Probe.tagged(spark, "S") {
        input.toDF().groupBy($"value").count()
          .writeStream.format("memory").queryName("probe_counts")
          .outputMode("complete").start()
      }
      try q.processAllAvailable() finally q.stop()
      assert(spark.table("probe_counts").count() == 3)
    } finally spark.stop()
    val s = probe.record("S")
    assert(s.triggers >= 1 && s.triggerSec > 0, s)
    assert(s.stateRows > 0, s)
    assert(s.jobs >= 1 && s.tasks >= 1, s) // the micro-batch's own jobs
  }
}
