package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcTable
import graft.sources.DatastreamAvro
import graft.streaming.{CdcStream, LocalDirSourceAdmin, SourceAdmin}
import graft.util.Retry

/** Control-plane lifecycle (SURVEY §2.1's promised thin adapter over
  * the reference's stream CRUD, util/Utils.java:548-561): state
  * machine, retry taxonomy on waits, and a pause/resume cycle driving
  * a real checkpointed pipeline exactly-once. */
class SourceAdminSpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("state machine: create -> start -> pause -> resume -> delete") {
    val admin = new LocalDirSourceAdmin(
      Files.createTempDirectory(Paths.get("target"), "admin").toString)
    admin.create("s1", "/tmp/in/*.avro")
    assert(admin.state("s1") == SourceAdmin.Created)
    assert(admin.sourceGlob("s1") == "/tmp/in/*.avro")
    admin.start("s1")
    assert(admin.state("s1") == SourceAdmin.Running)
    // illegal transitions are fatal (config error, not retryable)
    intercept[Retry.FatalPipelineException](admin.start("s1"))
    intercept[Retry.FatalPipelineException](admin.resume("s1"))
    admin.pause("s1")
    assert(admin.state("s1") == SourceAdmin.Paused)
    intercept[Retry.FatalPipelineException](admin.pause("s1"))
    admin.resume("s1")
    assert(admin.state("s1") == SourceAdmin.Running)
    admin.delete("s1")
    assert(!admin.exists("s1"))
    intercept[Retry.FatalPipelineException](admin.state("s1"))
    admin.create("s1", "y") // id reusable after delete
    assert(admin.state("s1") == SourceAdmin.Created)
  }

  test("awaitState retries transient mismatch with backoff, then succeeds") {
    val admin = new LocalDirSourceAdmin(
      Files.createTempDirectory(Paths.get("target"), "admin-wait").toString)
    admin.create("s2", "/tmp/in/*.avro")
    var slept = 0
    // flip the stream to RUNNING from "another worker" after two polls
    val s = admin.awaitState("s2", SourceAdmin.Running, sleep = { _ =>
      slept += 1
      if (slept == 2) admin.start("s2")
    })
    assert(s == SourceAdmin.Running && slept >= 2)
  }

  test("managed pipeline: pause stops intake, resume picks up new files exactly-once") {
    val root = Files.createTempDirectory(Paths.get("target"), "admin-pipe")
    val src = root.resolve("in"); Files.createDirectories(src)
    Files.copy(Paths.get(s"$fixtures/dump.avro"),
      src.resolve("s1_oracle-backfill_0_0.avro"))
    val admin = new LocalDirSourceAdmin(root.resolve("admin").toString)
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
    val table = new CdcTable(spark, root.resolve("table").toString,
      Seq("EMPLOYEE_ID"))
    val ckpt = root.resolve("ckpt").toString

    val p1 = CdcStream.startManaged(spark, admin, "pipe", s"$src/*.avro",
      schema, table, ckpt)
    p1.query.processAllAvailable()
    CdcStream.pauseManaged(p1, admin, "pipe")
    assert(admin.state("pipe") == SourceAdmin.Paused)
    assert(table.state.get.count() == 108)

    // file lands while paused; resume drains it from the same checkpoint
    Files.copy(Paths.get(s"$fixtures/insert.avro"),
      src.resolve("s1_oracle-cdc-logminer_0_1.avro"))
    val p2 = CdcStream.startManaged(spark, admin, "pipe", s"$src/*.avro",
      schema, table, ckpt)
    CdcStream.drain(p2)
    assert(admin.state("pipe") == SourceAdmin.Running)
    assert(table.state.get.count() == 109) // dump replayed 0 times, insert once
  }

  // ---- gRPC-shaped fault taxonomy (round-11 verdict item 5) ----
  // The seam has never met a real control-plane error surface; these
  // legs drive the reference's abort-code predicate
  // (util/Utils.java:901-925) through Retry via a fault-injecting
  // SourceAdmin, mirroring DatastreamTableRegistryTest.java:75-155:
  // permanent codes abort on the FIRST attempt (times(1), direct or
  // wrapped), nested NOT_FOUND retries (the one code abortOn's nested
  // list drops), and transient codes back off exponentially.

  /** Wraps a delegate; `faults` scripts exceptions thrown by state()
    * before it succeeds. Counts attempts. */
  private class FaultInjectingAdmin(delegate: SourceAdmin,
      faults: scala.collection.mutable.Queue[Throwable])
      extends SourceAdmin {
    var attempts = 0
    override def create(id: String, g: String): Unit = delegate.create(id, g)
    override def start(id: String): Unit = delegate.start(id)
    override def pause(id: String): Unit = delegate.pause(id)
    override def resume(id: String): Unit = delegate.resume(id)
    override def delete(id: String): Unit = delegate.delete(id)
    override def exists(id: String): Boolean = delegate.exists(id)
    override def sourceGlob(id: String): String = delegate.sourceGlob(id)
    override def state(id: String): SourceAdmin.State = {
      attempts += 1
      if (faults.nonEmpty) throw faults.dequeue()
      delegate.state(id)
    }
  }

  private def freshAdmin(tag: String): SourceAdmin = {
    val root = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), tag).toString
    val a = new LocalDirSourceAdmin(root)
    a.create("s1", "glob"); a.start("s1")
    a
  }

  test("abort codes fail a control-plane read on the FIRST attempt, " +
      "direct or nested under an execution wrapper") {
    val codes = Seq("NOT_FOUND", "INVALID_ARGUMENT",
      "FAILED_PRECONDITION", "ALREADY_EXISTS", "PERMISSION_DENIED")
    for (c <- codes) {
      val fi = new FaultInjectingAdmin(freshAdmin("srcadm-abort"),
        scala.collection.mutable.Queue(
          new Retry.ControlPlaneException(c, s"$c from control plane")))
      val e = intercept[Retry.FatalPipelineException] {
        Retry.controlPlaneCall(sleep = _ => ())(fi.state("s1"))
      }
      assert(fi.attempts == 1, s"$c must not retry (got ${fi.attempts})")
      assert(e.getCause.asInstanceOf[Retry.ControlPlaneException].code == c)
    }
    // nested: wrapper -> ExecutionException -> coded fault (the
    // reference's DatastreamDeltaSourceException shape); NOT_FOUND is
    // absent from the nested abort list and must RETRY
    for (c <- codes.filterNot(_ == "NOT_FOUND")) {
      val nested = new RuntimeException("wrapped",
        new java.util.concurrent.ExecutionException("exec",
          new Retry.ControlPlaneException(c, c)))
      val fi = new FaultInjectingAdmin(freshAdmin("srcadm-nested"),
        scala.collection.mutable.Queue(nested))
      intercept[Retry.FatalPipelineException] {
        Retry.controlPlaneCall(sleep = _ => ())(fi.state("s1"))
      }
      assert(fi.attempts == 1, s"nested $c must not retry")
    }
    val nestedNf = new RuntimeException("wrapped",
      new java.util.concurrent.ExecutionException("exec",
        new Retry.ControlPlaneException("NOT_FOUND", "gone mid-flight")))
    val fi = new FaultInjectingAdmin(freshAdmin("srcadm-nested-nf"),
      scala.collection.mutable.Queue(nestedNf))
    assert(Retry.controlPlaneCall(sleep = _ => ())(fi.state("s1")) ==
      SourceAdmin.Running)
    assert(fi.attempts == 2, "nested NOT_FOUND is transient in abortOn")
    // bare IllegalArgumentException aborts too (abortOn lists it)
    val fiIae = new FaultInjectingAdmin(freshAdmin("srcadm-iae"),
      scala.collection.mutable.Queue(
        new IllegalArgumentException("bad create argument")))
    intercept[Retry.FatalPipelineException] {
      Retry.controlPlaneCall(sleep = _ => ())(fiIae.state("s1"))
    }
    assert(fiIae.attempts == 1)
  }

  test("SourceAdmin.withRetries composes the taxonomy onto every op") {
    val fi = new FaultInjectingAdmin(freshAdmin("srcadm-deco"),
      scala.collection.mutable.Queue(
        new Retry.ControlPlaneException("UNAVAILABLE", "brownout")))
    val deco = SourceAdmin.withRetries(fi, sleep = _ => ())
    assert(deco.state("s1") == SourceAdmin.Running) // retried through
    assert(fi.attempts == 2)
    val fi2 = new FaultInjectingAdmin(freshAdmin("srcadm-deco2"),
      scala.collection.mutable.Queue(
        new Retry.ControlPlaneException("PERMISSION_DENIED", "no iam")))
    val deco2 = SourceAdmin.withRetries(fi2, sleep = _ => ())
    intercept[Retry.FatalPipelineException](deco2.state("s1"))
    assert(fi2.attempts == 1) // aborted first-attempt
    // lifecycle ops pass through to the underlying state machine
    deco2.pause("s1"); assert(deco2.state("s1") == SourceAdmin.Paused)
  }

  test("transient codes back off exponentially 1s -> 60s cap and " +
      "recover within the budget") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val fi = new FaultInjectingAdmin(freshAdmin("srcadm-transient"),
      scala.collection.mutable.Queue(
        new Retry.ControlPlaneException("UNAVAILABLE", "brownout"),
        new Retry.ControlPlaneException("DEADLINE_EXCEEDED", "slow rpc"),
        new Retry.ControlPlaneException("RESOURCE_EXHAUSTED", "quota")))
    val s = Retry.controlPlaneCall(sleep = sleeps.+=(_))(fi.state("s1"))
    assert(s == SourceAdmin.Running)
    assert(fi.attempts == 4)
    assert(sleeps.toSeq == Seq(1000L, 2000L, 4000L)) // 2x from 1s
    // a sustained transient fault exhausts the 5-minute budget and
    // surfaces as fatal — the taxonomy's other terminal
    val endless = scala.collection.mutable.Queue.fill(1000)(
      new Retry.ControlPlaneException("UNAVAILABLE", "down"):
        Throwable)
    val fi2 = new FaultInjectingAdmin(freshAdmin("srcadm-budget"), endless)
    intercept[Retry.FatalPipelineException] {
      Retry.controlPlaneCall(
        policy = Retry.Policy(maxElapsedMs = 1), sleep = _ => ())(
        fi2.state("s1"))
    }
  }
}
