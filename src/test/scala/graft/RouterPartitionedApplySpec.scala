package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcRouter

/** Table names that would escape a path, through the router: the
  * router builds no path from a table name (tables live inside
  * consolidated stores under the router root), so such names either
  * land inside the root or, where the store's encodings cannot carry
  * them, fail loudly before anything is committed. */
class RouterPartitionedApplySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def insertInto(table: String): DataFrame =
    spark.range(1).select(lit(table).as("table_name"),
      struct(lit(0L).as("id"), lit("x").as("val")).as("row"),
      lit("INSERT").as("op"),
      struct(lit(0L).as("ts_ms"), lit(0L).as("scn"), lit("").as("rs_id"),
        lit(0L).as("ssn")).as("sort_key"))

  test("path-escaping table names fail loudly instead of resolving " +
      "outside the router root") {
    val root = Files.createTempDirectory(Paths.get("target"), "router-dot")
    val r = new CdcRouter(spark, root.toString, _ => Seq("id"))
    for (bad <- Seq(".", ".."))
      intercept[IllegalArgumentException](r.applyBatch(insertInto(bad), 0L))
    assert(r.knownTables.isEmpty)
    // a name that would climb out of the root as a path lands inside it
    val escapee = root.resolve("a/../../x").normalize()
    assert(!escapee.startsWith(root) && !Files.exists(escapee))
    r.applyBatch(insertInto("a/../../x"), 0L)
    assert(r.knownTables == Seq("a/../../x"))
    assert(r.stateOf("a/../../x").get.count() == 1)
    assert(!Files.exists(escapee))
  }
}
