package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcTable, ConsolidatedStore}

/** The relation memo behind every CdcTable and ConsolidatedStore read
  * (its purge and cap are [[graft.util.SessionMemo]]'s, covered by
  * `SessionMemoSpec`): what it keys on. This suite stops its own
  * sessions, so it builds them itself instead of sharing a suite-wide
  * one, and it stops any session left running first. */
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
      assert(!CdcTable.relations.sessions.contains(spark))
      val dir = Files.createTempDirectory(Paths.get("target"), "relcache-stat")
      read(Seq(dir.toString)); read(Seq(dir.toString))
      assert(reads == 3)
    } finally spark.stop()
  }

  test("a repeated ConsolidatedStore read at one version hits the memo; " +
      "a widening commit's read never reuses a narrower relation") {
    val spark = session()
    try {
      import spark.implicits._
      def entries = CdcTable.relations.sessions.count(_ eq spark)
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
