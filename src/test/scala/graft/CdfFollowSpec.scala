package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.ConsolidatedStore
import graft.streaming.{CdcRouter, CdfFollow, DurableMart}

/** The durable fleet-IVM consumer (round-13 verdict item 2, hardened
  * round 15). CdfFollow's delivered-watermark survives restarts while
  * a naive consumer's fold state does not — so a kill+restart silently
  * loses every version the marker already covers. runStoreDurable +
  * DurableMart commit (state, version) as ONE atomic rename per
  * version, BEFORE the watermark advances; these legs prove the
  * resulting contract: exactly-once fold per (version, table) across
  * a hard kill, redelivery absorbed, lost marts refused loudly,
  * vacuumed versions recorded as explicit SKIPS (never a partial
  * fold, never a false lost-mart refusal), one writer per mart dir,
  * and the composition over mixed-PK fleets (one consumer per
  * PK-group store). */
class CdfFollowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def key(seq: Long) = struct(lit(seq).as("ts_ms"),
    lit(seq).as("scn"), lit("").as("rs_id"), lit(0L).as("ssn"))
    .as("sort_key")

  /** One op for `ids` in each of `tables`. */
  private def batch(tables: Seq[String], ids: Seq[Long], op: String,
      seq: Long): DataFrame = {
    import spark.implicits._
    tables.flatMap(t => ids.map(t -> _))
      .toDF("table_name", "id0")
      .select($"table_name",
        struct($"id0".as("id"),
          concat(lit(s"$op-v$seq-"), $"id0").as("val")).as("row"),
        lit(op).as("op"), key(seq))
  }

  private def batch2(ids: Seq[Long], op: String, seq: Long): DataFrame =
    batch(Seq("t0", "t1"), ids, op, seq)

  private def freshDir(tag: String): String =
    Files.createTempDirectory(Paths.get("target"), tag).toString

  private def countMart(dir: String, sync: Boolean = false): DurableMart[Long] =
    new DurableMart[Long](dir, 0L,
      n => n.toString.getBytes("UTF-8"),
      b => new String(b, "UTF-8").toLong, sync)

  /** Live-row delta of one (version, table) CDF slice. */
  private def signDelta(cdf: DataFrame): Long = {
    val r = cdf.agg(sum(when(col("_change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L)))
      .collect().head
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Live-row count of one store at head, straight from state reads —
    * the from-scratch answer a correctly-resumed mart must equal. */
  private def liveAtHead(store: ConsolidatedStore): Long = {
    val head = store.currentVersion.get
    store.tablesAt(head).flatMap(store.stateAt(_, head))
      .map(_.filter(!col("_is_deleted")).count()).sum
  }

  test("kill-restart: a hard kill MID-version discards only the " +
      "in-memory partial fold; the restarted consumer resumes from " +
      "the durable (state, version), the killed version redelivers " +
      "IN FULL, and the fold lands from-scratch state exactly " +
      "(exactly-once per (version, table))") {
    val store = new ConsolidatedStore(spark, freshDir("cdf-durable"),
      _ => Seq("id"), numBuckets = 2)
    store.applyBatch(batch2(Seq(0L, 1L, 2L), "INSERT", 0L), 0L) // +6
    store.applyBatch(batch2(Seq(1L), "DELETE", 1L), 1L) //          -2
    store.applyBatch(batch2(Seq(3L, 4L), "INSERT", 2L), 2L) //      +4
    val ckpt = freshDir("cdf-durable-ckpt")
    val martDir = freshDir("cdf-durable-mart")
    val folded = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def fold(kill: Boolean)(st: Long, v: Long, t: String,
        cdf: DataFrame): Long = {
      if (kill && v == 1L && t == "t1")
        throw new RuntimeException("injected kill mid-version")
      folded += ((v, t))
      st + signDelta(cdf)
    }
    // run 1: dies mid-version 1, after t0's delta folded IN MEMORY
    // (never committed — the version commit is all-or-nothing)
    val mart1 = countMart(martDir)
    val q1 = CdfFollow.runStoreDurable(spark, store, ckpt,
      mart1, fold(kill = true))
    intercept[Exception](q1.awaitTermination())
    // the crashed consumer's writer lock: in production the OS
    // releases it with the dead process; here close() stands in
    mart1.close()
    val mart2 = countMart(martDir)
    assert(mart2.version == 0L,
      s"v1 never committed, mart must hold v0: ${mart2.version}")
    assert(mart2.state == 6L)
    // run 2: fresh mart instance, same checkpoint — v1 redelivers in
    // full (both tables), v2 follows
    val q2 = CdfFollow.runStoreDurable(spark, store, ckpt,
      mart2, fold(kill = false))
    assert(q2.awaitTermination(60000), "restarted follower didn't drain")
    assert(mart2.version == 2L)
    assert(mart2.state == 8L, // 6 - 2 + 4, from-scratch
      s"resumed fold diverged: ${mart2.state}")
    assert(mart2.skipped.isEmpty, "nothing was vacuumed here")
    // the redelivery REALLY happened: (1, t0) folded in both runs —
    // once into discarded in-memory state, once into the commit
    assert(folded.count(_ == (1L, "t0")) == 2,
      s"expected (1, t0) folded twice across the kill: $folded")
    // ...and every commit folded each table exactly once EFFECTIVELY:
    // run-2's log alone is the committed history for v1..v2
    assert(folded.toSeq == Seq((0L, "t0"), (0L, "t1"), (1L, "t0"),
      (1L, "t0"), (1L, "t1"), (2L, "t0"), (2L, "t1")))
    mart2.close()
  }

  test("a checkpoint whose watermark is AHEAD of the mart (mart dir " +
      "lost or swapped) is refused loudly before the query starts — " +
      "the silent-loss trap runStoreDurable exists to close") {
    val store = new ConsolidatedStore(spark, freshDir("cdf-lost"),
      _ => Seq("id"), numBuckets = 2)
    store.applyBatch(batch2(Seq(0L, 1L), "INSERT", 0L), 0L)
    val ckpt = freshDir("cdf-lost-ckpt")
    val martDir = freshDir("cdf-lost-mart")
    val mart1 = countMart(martDir)
    val q = CdfFollow.runStoreDurable(spark, store, ckpt,
      mart1, (st: Long, _: Long, _: String, cdf: DataFrame) =>
        st + signDelta(cdf))
    assert(q.awaitTermination(60000))
    assert(mart1.version == 0L)
    mart1.close()
    // simulate the ops accident: the mart dir vanishes, checkpoint stays
    Files.delete(Paths.get(martDir, "mart"))
    val mart2 = countMart(martDir)
    val e = intercept[IllegalArgumentException] {
      CdfFollow.runStoreDurable(spark, store, ckpt, mart2,
        (st: Long, _: Long, _: String, cdf: DataFrame) =>
          st + signDelta(cdf))
    }
    assert(e.getMessage.contains("never redeliver"),
      s"unexpected message: ${e.getMessage}")
    mart2.close()
  }

  test("vacuumed history: a version ANY of whose feeds is gone is " +
      "recorded as an explicit durable SKIP — no partial fold ever " +
      "commits, available versions still fold, and a restart against " +
      "the skip-advanced mart is NOT refused (the false-positive the " +
      "watermark-only advance used to cause)") {
    // one bucket so every write re-points the same pair, making the
    // retention arithmetic exact: t0 mutates at v1..v3, t1 only at
    // v0/v3 — vacuum(keep=2) then removes exactly the segments v1's
    // and v2's t0 feeds need while t1's feeds stay resolvable, the
    // PARTIAL-gap shape the round-14 advice flagged as silently
    // committing a version missing one table's delta
    val store = new ConsolidatedStore(spark, freshDir("cdf-vac"),
      _ => Seq("id"), numBuckets = 1)
    store.applyBatch(batch(Seq("t0", "t1"), Seq(0L, 1L), "INSERT", 0L), 0L)
    store.applyBatch(batch(Seq("t0"), Seq(0L), "UPDATE", 1L), 1L)
    store.applyBatch(batch(Seq("t0"), Seq(1L), "UPDATE", 2L), 2L)
    store.applyBatch(batch(Seq("t0", "t1"), Seq(0L), "UPDATE", 3L), 3L)
    val gone = store.vacuum(keepVersions = 2, maxAgeMs = 0)
    assert(gone.nonEmpty, "vacuum removed nothing — scenario broken")
    assert(store.changeFeedCdf("t0", 1L).isEmpty,
      "t0's v1 feed must be vacuumed for this leg to bite")
    assert(store.changeFeedCdf("t1", 1L).nonEmpty,
      "t1's v1 feed must SURVIVE for the partial-gap shape")
    val ckpt = freshDir("cdf-vac-ckpt")
    val martDir = freshDir("cdf-vac-mart")
    val folded = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def fold(st: Long, v: Long, t: String, cdf: DataFrame): Long = {
      folded += ((v, t)); st + signDelta(cdf)
    }
    val mart1 = countMart(martDir)
    val q1 = CdfFollow.runStoreDurable(spark, store, ckpt, mart1, fold)
    assert(q1.awaitTermination(60000))
    assert(mart1.version == 3L, "skips must advance the mart version")
    assert(mart1.skipped == Seq(1L, 2L),
      s"v1/v2 carry vacuumed feeds: ${mart1.skipped}")
    assert(mart1.state == 4L, s"v0's 4 inserts, v3's updates net 0")
    // the partial gap NEVER leaked: t1's available v1 feed was not
    // folded without t0's lost one
    assert(folded.toSeq == Seq((0L, "t0"), (0L, "t1"),
      (3L, "t0"), (3L, "t1")), s"partial fold leaked: $folded")
    mart1.close()
    // restart: watermark (3) == mart.version (3) — no refusal, and a
    // new commit folds normally on top of the skip-advanced state
    store.applyBatch(batch(Seq("t0", "t1"), Seq(7L), "INSERT", 4L), 4L)
    val mart2 = countMart(martDir)
    val q2 = CdfFollow.runStoreDurable(spark, store, ckpt, mart2, fold)
    assert(q2.awaitTermination(60000), "restart was refused or hung")
    assert(mart2.version == 4L && mart2.state == 6L)
    assert(mart2.skipped == Seq(1L, 2L), "skip record must persist")
    mart2.close()
  }

  test("mixed-PK fleet composition: one durable consumer per PK-group " +
      "store; a kill in ONE group's consumer mid-version leaves the " +
      "other group untouched, and after restart BOTH marts land their " +
      "group's from-scratch aggregate") {
    val root = freshDir("cdf-mixed")
    val pkFor: String => Seq[String] =
      n => if (n.startsWith("a")) Seq("id") else Seq("id", "val")
    val router = new CdcRouter(spark, root, pkFor, numBuckets = 2)
    val tables = Seq("a0", "a1", "b0", "b1")
    router.applyBatch(batch(tables, Seq(0L, 1L, 2L), "INSERT", 0L), 0L)
    router.applyBatch(batch(tables, Seq(1L), "DELETE", 1L), 1L)
    router.applyBatch(batch(tables, Seq(3L, 4L), "INSERT", 2L), 2L)
    val stores = router.allStores
    assert(stores.size == 2, s"expected 2 PK groups: ${stores.keys}")
    // the production consumer for a mixed fleet IS this composition:
    // one follower + one mart per group store, each on its own
    // checkpoint — group A's consumer gets the injected kill
    val dirs = stores.map { case (name, st) =>
      name -> (st, freshDir(s"cdf-mixed-ckpt"), freshDir(s"cdf-mixed-mart"))
    }
    val killGroup = stores.collect {
      case (name, st) if st.knownTables.contains("a0") => name
    }.head
    def fold(kill: Boolean)(st: Long, v: Long, t: String,
        cdf: DataFrame): Long = {
      if (kill && v == 1L && t == "a1")
        throw new RuntimeException("injected kill mid-version")
      st + signDelta(cdf)
    }
    // first pass: group A dies mid-v1, group B drains clean
    for ((name, (st, ckpt, martDir)) <- dirs) {
      val m = countMart(martDir)
      val q = CdfFollow.runStoreDurable(spark, st, ckpt, m,
        fold(kill = name == killGroup))
      if (name == killGroup) intercept[Exception](q.awaitTermination())
      else assert(q.awaitTermination(60000))
      m.close()
    }
    // restart every consumer (idempotent for the clean one)
    for ((name, (st, ckpt, martDir)) <- dirs) {
      val m = countMart(martDir)
      val q = CdfFollow.runStoreDurable(spark, st, ckpt, m,
        fold(kill = false))
      assert(q.awaitTermination(60000), s"$name restart didn't drain")
      assert(m.version == 2L, s"$name mart stopped at ${m.version}")
      assert(m.state == liveAtHead(st),
        s"$name mart diverged from its group's from-scratch aggregate")
      assert(m.skipped.isEmpty)
      m.close()
    }
  }

  test("DurableMart: commit is guarded (v <= version is a no-op that " +
      "leaves state untouched), stage tmp files are invisible to " +
      "load, skips persist, and a fresh instance reads exactly the " +
      "committed triple") {
    val dir = freshDir("mart-unit")
    val m = countMart(dir)
    assert(m.version == -1L && m.state == 0L && m.skipped.isEmpty)
    assert(m.commit(0L)(_ + 5))
    assert(!m.commit(0L)(_ + 100), "redelivered version must be a no-op")
    assert(!m.commit(-1L)(_ + 100))
    assert(m.state == 5L && m.version == 0L)
    // a vacuumed version: state untouched, version advanced, recorded
    assert(m.commitSkipped(1L))
    assert(!m.commitSkipped(1L), "redelivered skip must be a no-op")
    assert(m.version == 1L && m.state == 5L && m.skipped == Seq(1L))
    m.close()
    // a crashed stage leaves .mart.tmp behind; load must ignore it
    Files.write(Paths.get(dir, ".mart.tmp"), "garbage".getBytes)
    val m2 = countMart(dir)
    assert(m2.version == 1L && m2.state == 5L && m2.skipped == Seq(1L))
    assert(m2.commit(3L)(_ + 1)) // versions may jump past the skip
    m2.close()
    val m3 = countMart(dir)
    assert(m3.state == 6L && m3.version == 3L && m3.skipped == Seq(1L))
    m3.close()
  }

  test("DurableMart single-writer: a second instance on a LIVE dir " +
      "refuses loudly (two interleaving writers would commit a mart " +
      "reflecting neither fold sequence); close() releases the lock") {
    val dir = freshDir("mart-lock")
    val m1 = countMart(dir)
    val e = intercept[IllegalStateException](countMart(dir))
    assert(e.getMessage.contains("another DurableMart"),
      s"unexpected message: ${e.getMessage}")
    assert(m1.commit(0L)(_ + 1), "the holder keeps working")
    m1.close()
    m1.close() // idempotent
    // a closed instance must not write lock-free into a dir another
    // instance may now own
    val e2 = intercept[IllegalArgumentException](m1.commit(1L)(_ + 1))
    assert(e2.getMessage.contains("closed"))
    val m2 = countMart(dir)
    assert(m2.version == 0L && m2.state == 1L)
    m2.close()
  }

  test("DurableMart sync=true: the fsync-hardened commit path round-" +
      "trips (state, version, skips) exactly — the opt-in for OS-" +
      "crash/power-loss durability the default rename commit scopes " +
      "out") {
    val dir = freshDir("mart-sync")
    val m = countMart(dir, sync = true)
    assert(m.commit(0L)(_ + 7))
    assert(m.commitSkipped(1L))
    assert(m.commit(2L)(_ + 1))
    m.close()
    val m2 = countMart(dir, sync = true)
    assert(m2.version == 2L && m2.state == 8L && m2.skipped == Seq(1L))
    m2.close()
  }
}
