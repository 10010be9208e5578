package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcTable

/** The bucket-union relation memo behind every CdcTable read is keyed
  * by session: an entry of a stopped session can never hit again and
  * pins a dead context's plan. This suite stops its own sessions, so
  * it builds them itself instead of sharing a suite-wide one. */
class RelationCacheSpec extends AnyFunSuite {

  private def session(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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
}
