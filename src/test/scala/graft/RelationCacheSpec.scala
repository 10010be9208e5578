package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcTable, ConsolidatedStore}

/** The relation memo behind every CdcTable and ConsolidatedStore read
  * is keyed by session: an entry of a stopped session can never hit
  * again and pins a dead context's plan. This suite stops its own
  * sessions, so it builds them itself instead of sharing a suite-wide
  * one, and it stops any session left running first, so no live entry
  * of another suite counts toward the memo's cap. */
class RelationCacheSpec extends AnyFunSuite {

  private def session(): SparkSession = {
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def key(seq: Long) = struct(lit(seq).as("ts_ms"),
    lit(seq).as("scn"), lit("").as("rs_id"), lit(0L).as("ssn"))
    .as("sort_key")

  test("a read purges the entries of stopped sessions, below the cap too") {
    val dir = Files.createTempDirectory(Paths.get("target"), "relcache")
      .toString
    val first = session()
    try {
      import first.implicits._
      val t = new CdcTable(first, dir, Seq("id"), numBuckets = 2)
      t.applyBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "val")
        .select(struct($"id", $"val").as("row"), lit("INSERT").as("op"),
          struct(lit(1L).as("ts_ms"), lit(1L).as("scn"),
            lit("").as("rs_id"), lit(0L).as("ssn")).as("sort_key")), 0L)
      assert(t.state.get.count() == 2)
      assert(CdcTable.relationCacheSessions.contains(first))
    } finally first.stop()
    val second = session()
    try {
      assert(second ne first)
      assert(new CdcTable(second, dir, Seq("id"), numBuckets = 2)
        .state.get.count() == 2)
      // one read of one dir set from the one live session: one entry
      assert(CdcTable.relationCacheSessions == Seq(second))
    } finally second.stop()
  }

  test("a dir the driver cannot stat is read fresh, not memoized") {
    val spark = session()
    try {
      var reads = 0
      def read(paths: Seq[String]): Unit = {
        CdcTable.cachedRead(spark, paths) { reads += 1; spark.range(1).toDF() }
        ()
      }
      // a URI-schemed path is not a local file name: no mtime to key on
      val unstatable = Seq("file:/no/such/bucket-0")
      read(unstatable); read(unstatable)
      assert(reads == 2)
      assert(!CdcTable.relationCacheSessions.contains(spark))
      val dir = Files.createTempDirectory(Paths.get("target"), "relcache-stat")
      read(Seq(dir.toString)); read(Seq(dir.toString))
      assert(reads == 3)
    } finally spark.stop()
  }

  test("past the cap a new read is served uncached; a live session's " +
      "entry is never evicted") {
    val spark = session()
    try {
      var reads = 0
      def read(p: String): Unit = {
        CdcTable.cachedRead(spark, Seq(p)) { reads += 1; spark.range(1).toDF() }
        ()
      }
      val root = Files.createTempDirectory(Paths.get("target"), "relcache-cap")
      val dirs = (0 to CdcTable.RelationCacheMax)
        .map(i => Files.createDirectory(root.resolve(s"b$i")).toString)
      dirs.foreach(read)
      assert(reads == dirs.size)
      read(dirs.head)
      assert(reads == dirs.size, "the first entry must still hit")
      val held = CdcTable.relationCacheSessions.size
      assert(held == CdcTable.RelationCacheMax)
      read(dirs.last)
      assert(reads == dirs.size + 1, "the read past the cap stays uncached")
    } finally spark.stop()
  }

  test("a repeated ConsolidatedStore read at one version hits the memo; " +
      "a widening commit's read never reuses a narrower relation") {
    val spark = session()
    try {
      import spark.implicits._
      def entries = CdcTable.relationCacheSessions.count(_ eq spark)
      def batch(tables: Seq[String], extra: Boolean, seq: Long) =
        tables.map(t => (t, seq)).toDF("table_name", "id").select($"table_name",
          (if (extra) struct($"id", lit("v").as("val"), lit(7L).as("extra"))
          else struct($"id", lit("v").as("val"))).as("row"),
          lit("INSERT").as("op"), key(seq))
      val store = new ConsolidatedStore(spark,
        Files.createTempDirectory(Paths.get("target"), "relcache-store")
          .toString, _ => Seq("id"), numBuckets = 2)
      store.applyBatch(batch(Seq("t0", "t1"), extra = false, 1L), 0L)
      assert(store.state("t0").get.count() == 1)
      val once = entries
      assert(once >= 1, "the segment read is memoized")
      assert(store.state("t0").get.count() == 1)
      assert(entries == once, "the same read at the same version hits")
      // the widening commit re-points t1 only: t0 still reads the old
      // segment, now under the widened payload
      store.applyBatch(batch(Seq("t1"), extra = true, 2L), 1L)
      val t0 = store.state("t0").get
      assert(t0.columns.contains("extra"))
      assert(t0.select($"extra".isNull).as[Boolean].collect().toSeq == Seq(true))
      assert(store.state("t1").get.filter($"id" === 2L)
        .select($"extra").as[Long].collect().toSeq == Seq(7L))
    } finally spark.stop()
  }
}
