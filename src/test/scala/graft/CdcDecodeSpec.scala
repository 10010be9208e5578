package graft

import java.time.Instant

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Decode
import graft.sources.DatastreamAvro

/** Golden-file decode tests against the reference's five Avro fixtures
  * (`DatastreamFixtures.dir`: the real files where a reference checkout
  * holds them, else the set generated from FIXTURES.md §1–2 and the
  * golden locks), mirroring the expectations of the reference's
  * DatastreamEventConsumerTest. */
class CdcDecodeSpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def decode(file: String, opts: Decode.Options = Decode.Options()) =
    Decode.fromAvro(spark, s"$fixtures/$file", opts)

  test("dump.avro: snapshot inserts, null tx_id") {
    // the file holds 108 records; the reference test's "106" is the
    // same file read from record position 2 (mid-file resume state) —
    // file-granularity exactly-once makes positional resume moot here
    val rows = decode("dump.avro").collect()
    assert(rows.length == 108)
    assert(rows.forall(_.getAs[String]("op") == "INSERT"))
    assert(rows.forall(_.getAs[Boolean]("is_snapshot")))
    assert(rows.forall(r => r.getAs[String]("tx_id") == null))
  }

  test("dump.avro with column projection narrows the row struct") {
    val df = decode("dump.avro",
      Decode.Options(columns = Seq("EMPLOYEE_ID", "SALARY")))
    val rowType = df.schema("row").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(rowType.fieldNames.toSeq == Seq("EMPLOYEE_ID", "SALARY"))
    assert(df.count() == 108)
  }

  test("insert.avro: employee 210 Sean Zhou") {
    val rows = decode("insert.avro").collect()
    assert(rows.length == 1)
    val e = rows.head
    assert(e.getAs[String]("op") == "INSERT")
    assert(!e.getAs[Boolean]("is_snapshot"))
    val r = e.getAs[Row]("row")
    assert(r.getAs[Long]("EMPLOYEE_ID") == 210L)
    assert(r.getAs[String]("FIRST_NAME") == "Sean")
    assert(r.getAs[String]("LAST_NAME") == "Zhou")
    assert(r.getAs[java.math.BigDecimal]("SALARY")
      .compareTo(new java.math.BigDecimal("12131.00")) == 0)
    assert(r.getAs[java.sql.Timestamp]("HIRE_DATE").toInstant ==
      Instant.parse("2020-01-09T00:00:00Z"))
    assert(e.getAs[String]("tx_id") != null)
    assert(e.getAs[Row]("sort_key").getAs[Long]("ts_ms") > 0L)
  }

  test("update.avro: salary 8888.00, previous_row mirrors row") {
    val rows = decode("update.avro").collect()
    assert(rows.length == 1)
    val e = rows.head
    assert(e.getAs[String]("op") == "UPDATE")
    val r = e.getAs[Row]("row")
    assert(r.getAs[java.math.BigDecimal]("SALARY")
      .compareTo(new java.math.BigDecimal("8888.00")) == 0)
    assert(e.getAs[Row]("previous_row") == r)
  }

  test("delete.avro: delete of employee 210 with last-known values") {
    val rows = decode("delete.avro").collect()
    assert(rows.length == 1)
    val e = rows.head
    assert(e.getAs[String]("op") == "DELETE")
    assert(e.getAs[Row]("row").getAs[Long]("EMPLOYEE_ID") == 210L)
  }

  test("update-pk.avro: PK update splits into DELETE(210) + UPDATE(211)") {
    val rows = decode("update-pk.avro").collect()
      .sortBy(_.getAs[Row]("row").getAs[Long]("EMPLOYEE_ID"))
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("op") == "DELETE")
    assert(rows(0).getAs[Row]("row").getAs[Long]("EMPLOYEE_ID") == 210L)
    assert(rows(1).getAs[String]("op") == "UPDATE")
    assert(rows(1).getAs[Row]("row").getAs[Long]("EMPLOYEE_ID") == 211L)
  }

  test("DML blacklist filters ops at decode") {
    assert(decode("dump.avro",
      Decode.Options(dmlBlacklist = Set("INSERT"))).count() == 0)
    assert(decode("update-pk.avro",
      Decode.Options(dmlBlacklist = Set("DELETE"))).count() == 1)
  }

  test("envelope exposes schema_key and source metadata") {
    val env = DatastreamAvro.read(spark, s"$fixtures/insert.avro")
    val row = env.collect().head
    assert(row.getAs[String]("schema_key") != null)
    assert(row.getAs[Row]("source_metadata").getAs[String]("table") != null)
  }

  test("position bookkeeping: source_row is the in-file record index " +
      "and reproduces the reference's mid-file resume (106 records " +
      "from position 2, DatastreamEventConsumerTest.java:68/:106)") {
    import org.apache.spark.sql.functions.col
    val withPos = decode("dump.avro", Decode.Options(includePosition = true))
    val positions = withPos.select(col("source_row"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(positions == (0L until 108L), "positions must be dense 0..n−1")
    // the reference consumer built with startingPosition=2 skips two
    // records and emits 106 — the positional filter is that resume
    assert(withPos.filter(col("source_row") >= 2L).count() == 106L)
    // opt-out: the default decode shape is unchanged (no new column)
    assert(!decode("dump.avro").columns.contains("source_row"))
    // the JSON envelope twin cannot supply an in-file index: decoding
    // it with positions yields a null column, never an analysis error
    val env = DatastreamAvro.read(spark, s"$fixtures/insert.avro")
    val dir = java.nio.file.Files.createTempDirectory("jsonpos").toString
    env.drop(DatastreamAvro.FilePathCol, DatastreamAvro.FileRowCol)
      .write.mode("overwrite").json(dir)
    val jsonEnv = graft.sources.DatastreamJson.read(spark, s"$dir/*.json",
      DatastreamAvro.sparkSchema(s"$fixtures/insert.avro"))
    val jrows = Decode.changeEvents(jsonEnv,
      Decode.Options(includePosition = true)).collect()
    assert(jrows.nonEmpty &&
      jrows.forall(r => r.isNullAt(r.fieldIndex("source_row"))))
  }
}
