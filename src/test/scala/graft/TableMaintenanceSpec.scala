package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcTable, Decode}
import graft.streaming.CdcRouter

class TableMaintenanceSpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String) =
    Files.createTempDirectory(Paths.get("target"), prefix).toString

  test("compact coalesces buckets; vacuum removes unreferenced versions") {
    val t = new CdcTable(spark, tmp("maint"), Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/insert.avro"), 1L)
    val before = t.state.get.orderBy("EMPLOYEE_ID").collect().map(_.toString)

    val cv = t.compact(minFiles = 1) // force: AQE already writes 1 file/bucket
    assert(cv.contains(2L))
    val after = t.state.get.orderBy("EMPLOYEE_ID").collect().map(_.toString)
    assert(before.toSeq == after.toSeq) // compaction is content-neutral
    // every bucket is a single file: the default threshold finds
    // nothing to rewrite and commits no version (maintenance cost
    // tracks fragmentation, not table size)
    assert(t.compact().isEmpty)

    val removed = t.vacuum(keepVersions = 1)
    assert(removed.nonEmpty) // v0/v1 bucket dirs dropped
    // current version still fully readable after vacuum
    assert(t.state.get.count() == before.length)
  }

  test("age-based vacuum keeps versions inside the retention window") {
    val t = new CdcTable(spark, tmp("maint-age"), Seq("EMPLOYEE_ID"),
      numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/insert.avro"), 1L)
    // everything is seconds old: a 30-day window removes nothing
    assert(t.vacuumOlderThan(30L * 86400 * 1000).isEmpty)
    // a zero-width window keeps only the current version's buckets
    val removed = t.vacuumOlderThan(-1000L)
    assert(removed.nonEmpty)
    assert(t.state.get.count() == 109) // current version intact
  }

  test("time travel and change feed: pruned feed equals full-state diff; " +
      "feeds replay to the final state; compaction feeds empty") {
    import spark.implicits._
    val t = new CdcTable(spark, tmp("cf"), Seq("EMPLOYEE_ID"), numBuckets = 4)
    val batches = Seq("dump.avro", "insert.avro", "update.avro",
      "update-pk.avro", "delete.avro")
    batches.zipWithIndex.foreach { case (f, i) =>
      t.applyBatch(Decode.fromAvro(spark, s"$fixtures/$f"), i.toLong)
    }
    // (a) stateAt(head) is the current state; stateAt(0) is the snapshot
    assert(t.stateAt(4L).get.count() == t.state.get.count())
    assert(t.stateAt(0L).get.count() == 108)
    // (b) the bucket-pruned feed equals an unpruned full-table diff,
    // for every version (different code path: full states + except)
    (1L to 4L).foreach { v =>
      val feedKeys = t.changeFeed(v).get
        .select($"EMPLOYEE_ID".cast("long")).as[Long].collect().sorted.toSeq
      val cur = t.stateAt(v).get
        .select($"EMPLOYEE_ID", $"_sort_key", $"_is_deleted")
      val prev = t.stateAt(v - 1).get
        .select($"EMPLOYEE_ID", $"_sort_key", $"_is_deleted")
      val diffKeys = cur.exceptAll(prev)
        .select($"EMPLOYEE_ID".cast("long")).as[Long].collect().sorted.toSeq
      assert(feedKeys == diffKeys, s"version $v feed != diff")
    }
    // (c) concatenated feeds, collapsed to the last write per PK,
    // reproduce the final state exactly
    val allFeeds = (0L to 4L).map(v => t.changeFeed(v).get)
      .reduce(_.unionByName(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"EMPLOYEE_ID")
      .orderBy($"_sequence_num".desc)
    val replayed = allFeeds
      .withColumn("__rn", row_number().over(w)).filter($"__rn" === 1)
      .select($"EMPLOYEE_ID".cast("long"), $"_is_deleted")
    val finalState = t.state.get
      .select($"EMPLOYEE_ID".cast("long"), $"_is_deleted")
    assert(replayed.exceptAll(finalState).isEmpty &&
      finalState.exceptAll(replayed).isEmpty)
    // (d) a pure compaction commit produces an empty feed
    val cv = t.compact(minFiles = 1).get
    assert(t.changeFeed(cv).get.isEmpty)
  }

  test("change feed degrades to None when the pre-image manifest is gone") {
    val dir = tmp("cfvac")
    val t = new CdcTable(spark, dir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/insert.avro"), 1L)
    assert(t.changeFeed(1L).nonEmpty)
    // a manifest-pruning cleanup dropped v0: the feed for v1 can no
    // longer resolve its pre-image — graceful None, like stateAt
    Files.delete(Paths.get(dir, "manifest-0.json"))
    assert(t.changeFeed(1L).isEmpty)
    assert(t.changeFeed(0L).isEmpty) // and the vacuumed version itself
  }

  test("a commit that re-points nothing yields an empty feed, not None") {
    import spark.implicits._
    val t = new CdcTable(spark, tmp("cfnoop"), Seq("id"), numBuckets = 2)
    val events = Seq((1L, "a"), (2L, "b")).toDF("id", "val")
      .select(struct($"id", $"val").as("row"), lit("INSERT").as("op"),
        struct(lit(1L).as("ts_ms"), lit(1L).as("scn"), lit("").as("rs_id"),
          lit(0L).as("ssn")).as("sort_key"))
    assert(t.applyBatch(events, 0L) == 0L)
    val v = t.applyBatch(events.limit(0), 1L)
    assert(v == 1L && t.stateAt(v).isDefined)
    // None would read as "vacuumed" and a follower would skip a
    // committed version
    val feed = t.changeFeed(v)
    val cdf = t.changeFeedCdf(v)
    assert(feed.exists(_.isEmpty) && cdf.exists(_.isEmpty))
    assert(feed.get.columns.toSeq == t.stateAt(v).get.columns.toSeq)
    assert(cdf.get.columns.last == "_change_type")
  }

  test("maintenance rewrites never clobber a concurrently committed bucket dir") {
    val dir = tmp("maintrace")
    val t = new CdcTable(spark, dir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    // simulate a racing writer that already PUBLISHED a bucket dir for
    // the version this compaction will target (v1)
    val foreign = Paths.get(dir, "b0-v1")
    Files.createDirectories(foreign)
    val marker = foreign.resolve("committed-by-other-writer")
    Files.write(marker, "x".getBytes)
    intercept[graft.cdc.ConcurrentCommitException] { t.compact(minFiles = 1) }
    // the other writer's data is intact and no manifest was committed
    assert(Files.exists(marker), "racing writer's published data was clobbered")
    assert(t.currentVersion.contains(0L))
    assert(t.state.get.count() == 108)
    // clusterZOrder takes the same staged-publish path
    intercept[graft.cdc.ConcurrentCommitException] { t.clusterBy("EMPLOYEE_ID") }
    assert(Files.exists(marker))
    assert(t.currentVersion.contains(0L))
    // the LOSER cleaned up the v1 dirs it had already published before
    // hitting the conflict: only the foreign writer's dir squats on
    // the version namespace (its own writer is responsible for it)
    val v1Dirs = java.nio.file.Files.list(Paths.get(dir)).iterator()
    val v1Names = scala.jdk.CollectionConverters
      .IteratorHasAsScala(v1Dirs).asScala.map(_.getFileName.toString)
      .filter(_.endsWith("-v1")).toSeq
    assert(v1Names == Seq("b0-v1"), v1Names)
  }

  test("sweepStaging GCs aged published-but-uncommitted bucket dirs, " +
      "unblocking the version a crashed writer squatted on") {
    val dir = tmp("orphan")
    val t = new CdcTable(spark, dir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    val old = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2L * 3600 * 1000)
    // a writer died between publishing b0-v1 and the manifest CAS:
    // manifest-1.json never landed, so every later writer of v1 hits
    // the publish exists-guard — the livelock sweepStaging must break
    val orphan = Paths.get(dir, "b0-v1")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1))
    Files.setLastModifiedTime(orphan.resolve("part-0.parquet"), old)
    Files.setLastModifiedTime(orphan, old)
    // a LIVE writer's just-published (uncommitted) dir is too young
    val live = Paths.get(dir, "b1-v1")
    Files.createDirectories(live)
    // a COMMITTED dir never sweeps however old: the manifest check,
    // not the age gate, protects it
    val committed = t.state.get // force-resolve, then age a v0 dir
    assert(committed.count() == 108)
    val v0dir = java.nio.file.Files.list(Paths.get(dir)).iterator()
    val aged0 = scala.jdk.CollectionConverters
      .IteratorHasAsScala(v0dir).asScala
      .find(_.getFileName.toString.endsWith("-v0")).get
    Files.setLastModifiedTime(aged0, old)
    assert(t.sweepStaging() == Seq("b0-v1"))
    assert(!Files.exists(orphan) && Files.exists(live) && Files.exists(aged0))
    // once the young squatter ages out too, version 1 commits again
    Files.setLastModifiedTime(live, old)
    assert(t.sweepStaging() == Seq("b1-v1"))
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/insert.avro"), 1L)
    assert(t.currentVersion.contains(1L))
    assert(t.state.get.count() == 109)
  }

  test("clone-as-of-version: sidecar schema and DDL history are " +
      "reconstructed at v, not copied from the source head") {
    import spark.implicits._
    def ev(withExtra: Boolean, seq: Long) = {
      val base = Seq((1L, 10.0), (2L, 20.0))
        .toDF("pk", "v")
      val payload =
        if (withExtra) struct($"pk", $"v", lit("x").as("extra")).as("row")
        else struct($"pk", $"v").as("row")
      base.select(payload, lit("INSERT").as("op"),
        struct(lit(seq).as("ts_ms"), lit(seq).as("scn"),
          lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key"))
    }
    val t = new CdcTable(spark, tmp("cloneasof"), Seq("pk"), numBuckets = 2)
    t.applyBatch(ev(withExtra = false, 0L), 0L) // v0: CREATE (pk, v)
    t.applyBatch(ev(withExtra = true, 1L), 1L)  // v1: ALTER adds "extra"
    assert(t.ddlEvents.size == 2)
    assert(t.payloadSchema.get.fieldNames.contains("extra"))
    // clone of the PRE-drift version: its fast-path schema must
    // describe the referenced data dirs, not the source's head
    val c0 = t.cloneAt(0L, tmp("cloneasof0")).get
    assert(c0.ddlEvents.size == 1, c0.ddlEvents)
    assert(!c0.payloadSchema.get.fieldNames.contains("extra"),
      c0.payloadSchema.get.treeString)
    // so the clone re-detects the SAME drift on its own next commit
    c0.applyBatch(ev(withExtra = true, 2L), 2L)
    assert(c0.ddlEvents.size == 2)
    assert(c0.payloadSchema.get.fieldNames.contains("extra"))
    // a head clone carries the drifted schema and full history
    val c1 = t.cloneAt(1L, tmp("cloneasof1")).get
    assert(c1.ddlEvents.size == 2)
    assert(c1.payloadSchema.get.fieldNames.contains("extra"))
  }

  test("NESTED schema drift through applyBatch: ALTER_TABLE records the " +
      "qualified column and old rows null-fill the nested add") {
    import spark.implicits._
    def ev(pk: Long, withPlan: Boolean, seq: Long) = {
      val props =
        if (withPlan) struct(lit("gold").as("tier"), lit("pro").as("plan"))
        else struct(lit("gold").as("tier"))
      Seq(pk).toDF("pk")
        .select(struct($"pk", props.as("props")).as("row"),
          lit("INSERT").as("op"),
          struct(lit(seq).as("ts_ms"), lit(seq).as("scn"),
            lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key"))
    }
    // ONE bucket: the drifted batch and the pre-drift rows meet inside
    // the same merge, so the nested alignment (not just parquet
    // mergeSchema across bucket dirs) is what's under test
    val t = new CdcTable(spark, tmp("nesteddrift"), Seq("pk"), numBuckets = 1)
    t.applyBatch(ev(1L, withPlan = false, 0L), 0L) // v0: CREATE
    t.applyBatch(ev(2L, withPlan = true, 1L), 1L)  // v1: nested ALTER
    val alter = t.ddlEvents.find(_.contains("ALTER_TABLE")).get
    assert(alter.contains("\"props.plan\""), alter)
    // committed schema carries the nested add, nullable
    val propsT = t.payloadSchema.get("props").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(propsT.fieldNames.toSeq == Seq("tier", "plan"))
    assert(propsT("plan").nullable)
    // old row null-fills the nested field; new row carries it
    val byPk = t.state.get.select($"pk", $"props.tier", $"props.plan")
      .as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(byPk(1L) == (("gold", None)), byPk)
    assert(byPk(2L) == (("gold", Some("pro"))), byPk)
    // a nested DROP batch is NOT drift: no new DDL, column survives
    t.applyBatch(ev(3L, withPlan = false, 2L), 2L)
    assert(t.ddlEvents.count(_.contains("ALTER_TABLE")) == 1)
    val byPk2 = t.state.get.select($"pk", $"props.tier", $"props.plan")
      .as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(byPk2(3L) == (("gold", None)), byPk2)
    assert(byPk2(2L) == (("gold", Some("pro"))), byPk2)
  }

  test("shallow clone reads the source version zero-copy and evolves " +
      "independently") {
    val srcDir = tmp("clonesrc")
    val dstDir = tmp("clonedst")
    val t = new CdcTable(spark, srcDir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    val clone = t.cloneAt(0L, dstDir).get
    assert(clone.state.get.count() == 108)
    // zero-copy: the clone root holds metadata only, no bucket dirs
    val localDirs = java.nio.file.Files.list(Paths.get(dstDir)).iterator()
    val names = scala.jdk.CollectionConverters
      .IteratorHasAsScala(localDirs).asScala.map(_.getFileName.toString).toSeq
    assert(!names.exists(_.startsWith("b")), names)
    // the clone commits independently: source version does not move,
    // and the clone's new data lands under its own root
    clone.applyBatch(Decode.fromAvro(spark, s"$fixtures/insert.avro"), 1L)
    assert(clone.state.get.count() == 109)
    assert(clone.currentVersion.contains(1L))
    assert(t.currentVersion.contains(0L))
    assert(t.state.get.count() == 108)
    // a missing source version clones to None
    assert(t.cloneAt(7L, tmp("clonenone")).isEmpty)
  }

  test("vacuum-safe clones: the source keeps clone-pinned dirs until " +
      "forgetClone releases them") {
    val srcDir = tmp("clonevac")
    val dstDir = tmp("clonevacdst")
    val t = new CdcTable(spark, srcDir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    val clone = t.cloneAt(0L, dstDir).get
    // source moves on: v1 re-points every touched bucket, so with
    // keepVersions=1 the v0 dirs are vacuum candidates — exactly the
    // dirs the clone's manifest references
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/insert.avro"), 1L)
    val removed = t.vacuum(keepVersions = 1)
    // the clone's pinned version survived the vacuum wholesale
    assert(clone.state.get.count() == 108,
      s"clone broken after source vacuum (removed: $removed)")
    assert(t.state.get.count() == 109) // source unaffected
    assert(t.cloneRefs.map(_._2) == Seq(0L))
    // releasing the pin lets the next vacuum reclaim the v0 dirs
    assert(t.forgetClone(dstDir))
    assert(!t.forgetClone(dstDir)) // idempotent
    val removed2 = t.vacuum(keepVersions = 1)
    assert(removed2.exists(_.endsWith("-v0")), removed2)
    // and the source's current state is still intact
    assert(t.state.get.count() == 109)
  }

  test("a lost commit race is recoverable: Retry re-reads and lands on " +
      "the next version") {
    val dir = tmp("casretry")
    val t = new CdcTable(spark, dir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    val m0 = Paths.get(dir, "manifest-0.json")
    // another writer beats us to version 1
    Files.copy(m0, Paths.get(dir, "manifest-1.json"))
    var attempt = 0
    val committed = graft.util.Retry.withBackoff(
      graft.util.Retry.Policy(initialDelayMs = 1), _ => ()) {
      attempt += 1
      // first attempt uses the STALE version read (the race); the
      // retry re-reads and commits past the other writer
      val next = if (attempt == 1) 1L else t.currentVersion.get + 1
      t.writeManifest(next, Map(0 -> "b0-v0"))
      next
    }
    assert(attempt == 2 && committed == 2L)
    assert(t.currentVersion.contains(2L))
  }

  test("sweepStaging removes only aged-out crashed-writer staging dirs") {
    val dir = tmp("sweep")
    val t = new CdcTable(spark, dir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    val old = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2L * 3600 * 1000)
    val dead = Paths.get(dir, "_staging-batch-v9-deadbeef")
    Files.createDirectories(dead)
    Files.write(dead.resolve("part-0.parquet"), Array[Byte](1))
    Files.setLastModifiedTime(dead.resolve("part-0.parquet"), old)
    Files.setLastModifiedTime(dead, old)
    val fresh = Paths.get(dir, "_staging-zorder-v9-cafecafe")
    Files.createDirectories(fresh) // a live writer: too young to sweep
    // a LONG write: the root mtime aged out but a nested task file is
    // still being written — a root-mtime age gate would sweep this
    // live writer mid-write and fail its commit
    val live = Paths.get(dir, "_staging-merge-v9-baadf00d")
    Files.createDirectories(live.resolve("_bucket=0").resolve("_temporary"))
    Files.write(live.resolve("_bucket=0").resolve("_temporary")
      .resolve("task-0.parquet"), Array[Byte](1))
    Files.setLastModifiedTime(live, old) // root looks idle
    assert(t.sweepStaging() == Seq("_staging-batch-v9-deadbeef"))
    assert(!Files.exists(dead) && Files.exists(fresh) && Files.exists(live))
    assert(t.state.get.count() == 108) // committed data untouched
  }

  test("two THREADS racing applyBatch on one bucket: the loser retries " +
      "past the winner; both batches land, nothing is lost") {
    // the specs above simulate races sequentially; this is the real
    // thing — numBuckets=1 forces both writers onto the same bucket
    // dir and the same next version, so one MUST hit the publish/CAS
    // conflict and recover through the production Retry wrapper
    import spark.implicits._
    val dir = tmp("race")
    val t = new CdcTable(spark, dir, Seq("id"), numBuckets = 1)
    def key(scn: Long) =
      struct(lit(0L).as("ts_ms"), lit(scn).as("scn"),
        lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key")
    def batch(off: Long) = (0L until 10L).map(i => (off + i, s"p${off + i}"))
      .toDF("id", "p")
      .select(struct($"id", $"p").as("row"), lit("INSERT").as("op"), key(off))
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq(0L, 100L).map { off =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            latch.await()
            graft.util.Retry.withBackoff(
              graft.util.Retry.Policy(initialDelayMs = 1), _ => ()) {
              t.applyBatch(batch(off), off)
            }
          }
        })
      }
      latch.countDown()
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      // one writer took v0, the loser retried onto v1 — in either order
      assert(versions.toSet == Set(0L, 1L), versions)
      assert(t.currentVersion.contains(1L))
      // both batches fully present: the loser's retry re-read the
      // winner's committed state before merging
      val ids = t.state.get.select("id").as[Long].collect().sorted.toSeq
      assert(ids == ((0L until 10L) ++ (100L until 110L)).toSeq, ids)
    } finally pool.shutdownNow()
  }

  test("stress: 4 writers + compact + zorder racing one table — every " +
      "committed row survives, versions are gap-free, history readable") {
    import spark.implicits._
    val dirS = tmp("stress")
    val t = new CdcTable(spark, dirS, Seq("id"), numBuckets = 2)
    def key(scn: Long) =
      struct(lit(0L).as("ts_ms"), lit(scn).as("scn"),
        lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key")
    def batch(off: Long) = (0L until 20L).map(i => (off + i, off + i))
      .toDF("id", "v")
      .select(struct($"id", $"v").as("row"), lit("INSERT").as("op"), key(off))
    t.applyBatch(batch(0L), 0L) // seed v0 so maintenance has work
    val policy = graft.util.Retry.Policy(initialDelayMs = 1)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    def submit[T](body: => T) =
      pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = { latch.await(); body }
      })
    try {
      val writers = Seq(100L, 200L, 300L, 400L).map { off =>
        submit(graft.util.Retry.withBackoff(policy, _ => ()) {
          t.applyBatch(batch(off), off)
        })
      }
      // each maintenance thread lands 3 commits through the SAME
      // retry discipline a production maintenance job would use
      val maint = Seq(true, false).map { isCompact =>
        submit((0 until 3).map { _ =>
          graft.util.Retry.withBackoff(policy, _ => ()) {
            if (isCompact) t.compact(minFiles = 1).get
            else t.clusterBy("id")
          }
        })
      }
      latch.countDown()
      writers.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      maint.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))

      // versions are LINEAR: 0 (seed) + 4 writers + 6 maintenance
      // commits, consecutively numbered, no gaps, no extras
      assert(t.currentVersion.contains(10L), t.currentVersion)
      for (k <- 0L to 10L)
        assert(t.stateAt(k).isDefined, s"version $k unreadable")
      // every committed row survived every race and rewrite, with the
      // value each writer committed
      val rows = t.state.get.select("id", "v").as[(Long, Long)]
        .collect().sorted.toSeq
      val want = (Seq(0L, 100L, 200L, 300L, 400L)
        .flatMap(off => (0L until 20L).map(i => (off + i, off + i)))).sorted
      assert(rows == want,
        s"missing=${(want.toSet -- rows.toSet).size} " +
          s"extra=${(rows.toSet -- want.toSet).size}")
      // no abandoned version-squatting dirs: every b*-vN on disk is
      // referenced by some manifest (losers cleaned up after themselves)
      val manifests = (0L to 10L).flatMap { k =>
        val txt = new String(Files.readAllBytes(
          Paths.get(dirS, s"manifest-$k.json")))
        "\"(b\\d+-v\\d+)\"".r.findAllMatchIn(txt).map(_.group(1))
      }.toSet
      val onDisk = java.nio.file.Files.list(Paths.get(dirS)).iterator()
      val bucketDirs = scala.jdk.CollectionConverters
        .IteratorHasAsScala(onDisk).asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("b") && n.contains("-v")).toSet
      assert((bucketDirs -- manifests).isEmpty,
        s"orphaned dirs: ${bucketDirs -- manifests}")
    } finally pool.shutdownNow()
  }

  test("publishing onto an EMPTY already-published dir is a conflict, " +
      "not a silent rename-replace") {
    // Linux rename(2) silently replaces an empty destination directory,
    // so without an explicit exists guard this race would clobber the
    // (empty) published name without any ConcurrentCommitException
    val dir = tmp("emptydest")
    val t = new CdcTable(spark, dir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    Files.createDirectories(Paths.get(dir, "b0-v1")) // empty foreign publish
    intercept[graft.cdc.ConcurrentCommitException] { t.compact(minFiles = 1) }
    assert(Files.exists(Paths.get(dir, "b0-v1")))
    assert(t.currentVersion.contains(0L))
  }

  test("commit is a version CAS: concurrent writers conflict, crashed " +
      "_LATEST pointers roll forward") {
    val dir = tmp("cas")
    val t = new CdcTable(spark, dir, Seq("EMPLOYEE_ID"), numBuckets = 4)
    t.applyBatch(Decode.fromAvro(spark, s"$fixtures/dump.avro"), 0L)
    // two writers race the same next version: the second manifest move
    // must surface as a conflict, never a silent overwrite
    t.writeManifest(1L, Map(0 -> "b0-v1"))
    intercept[graft.cdc.ConcurrentCommitException] {
      t.writeManifest(1L, Map(0 -> "b0-v1-other"))
    }
    // _LATEST says 1 now; simulate a writer that died after committing
    // manifest-2 but before moving the pointer: readers and the next
    // commit both roll forward past it
    val m2 = Paths.get(dir, "manifest-2.json")
    Files.copy(Paths.get(dir, "manifest-0.json"), m2)
    assert(t.currentVersion.contains(2L))
    assert(t.state.get.count() == 108) // reads manifest-2's buckets
    val v3 = t.applyBatch(
      Decode.fromAvro(spark, s"$fixtures/insert.avro"), 1L)
    assert(v3 == 3L) // committed past the orphan, no conflict loop
  }

  test("changeFeedCdf: pre/post images reconcile any version's aggregate " +
      "to the next — the incremental-view-maintenance identity") {
    val t = new CdcTable(spark, tmp("cdf"), Seq("EMPLOYEE_ID"), numBuckets = 4)
    Seq("dump.avro", "insert.avro", "update.avro", "update-pk.avro",
      "delete.avro").zipWithIndex.foreach { case (f, i) =>
      t.applyBatch(Decode.fromAvro(spark, s"$fixtures/$f"), i.toLong)
    }
    def agg(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
      val r = df.filter(!col("_is_deleted"))
        .agg(count(lit(1)), sum(col("SALARY").cast("decimal(18,4)")))
        .collect().head
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    // fold the CDF deltas of v over the v-1 aggregate and compare to
    // the direct stateAt(v) aggregate, for every version transition
    (1L to t.currentVersion.get).foreach { v =>
      val (n0, s0) = agg(t.stateAt(v - 1).get)
      val cdf = t.changeFeedCdf(v).get
        .withColumn("sign", when(col("_change_type")
          .isin("insert", "update_postimage"), lit(1L)).otherwise(lit(-1L)))
      val d = cdf.agg(sum(col("sign")),
          sum(col("SALARY").cast("decimal(18,4)") * col("sign")))
        .collect().head
      val (dn, ds) = (Option(d.get(0)).fold(0L)(_ => d.getLong(0)),
        Option(d.get(1)).fold(BigDecimal(0))(_ => BigDecimal(d.getDecimal(1))))
      val (n1, s1) = agg(t.stateAt(v).get)
      assert(n0 + dn == n1, s"row count at v$v")
      assert(s0 + ds == s1, s"salary sum at v$v")
    }
    // the PK-update commit must decompose into delete (old PK) +
    // insert (new PK)
    val v3types = t.changeFeedCdf(3L).get.groupBy(col("_change_type"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v3types.contains("insert") && v3types.contains("delete"), v3types)
    // the fixture's delete batch re-deletes the row the PK-update
    // already tombstoned (the out-of-order-delivery scenario): the
    // sort-key-guarded merge makes it a no-op, and a dead→dead rewrite
    // must be CDF-INVISIBLE — consumers see no phantom retraction
    assert(t.changeFeedCdf(4L).get.isEmpty)
    // a pure compaction commit is CDF-invisible
    t.compact(minFiles = 1).foreach { cv =>
      assert(t.changeFeedCdf(cv).get.isEmpty)
    }
  }

  test("multiplexed stream routes events to per-table targets") {
    val root = tmp("router")
    val router = new CdcRouter(spark, root, _ => Seq("EMPLOYEE_ID"),
      numBuckets = 4)
    // synthesize a 2-table batch: the fixture events + a renamed copy
    val base = Decode.fromAvro(spark, s"$fixtures/{dump,insert}.avro")
    val tableA = base.withColumn("table_name", lit("EMPLOYEES"))
    val tableB = base.filter(col("op") === "INSERT")
      .withColumn("table_name", lit("EMPLOYEES_AUDIT"))
      .limit(5)
    router.applyBatch(tableA.unionByName(tableB), 0L)

    assert(router.knownTables == Seq("EMPLOYEES", "EMPLOYEES_AUDIT"))
    assert(router.stateOf("EMPLOYEES").get.count() == 109)
    assert(router.stateOf("EMPLOYEES_AUDIT").get.count() <= 5)
    assert(router.store.ddlEvents.exists(l => l.contains("CREATE_TABLE") &&
      l.contains("\"table\": \"EMPLOYEES_AUDIT\"")))
  }
}
