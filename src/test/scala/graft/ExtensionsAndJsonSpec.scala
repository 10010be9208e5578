package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Decode
import graft.sources.{DatastreamAvro, DatastreamJson}

class ExtensionsAndJsonSpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = {
    // builder extensions are ignored when another suite's session is
    // already live (getOrCreate), so install on the session directly
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.install(s)
    s
  }

  test("cosine_similarity is callable from SQL") {
    val r = spark.sql(
      """SELECT cosine_similarity(
        |  array(cast(1.0 as float), cast(0.0 as float)),
        |  array(cast(1.0 as float), cast(0.0 as float))) AS c""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 1.0)
  }

  test("unique_trigram_count is callable from SQL") {
    val r = spark.sql("SELECT unique_trigram_count('abcabc') AS n")
      .collect().head
    assert(r.getLong(0) == 3L) // abc, bca, cab, abc → 3 distinct
  }

  test("dot_product, minhash_signature, simhash_signature callable from SQL") {
    val r = spark.sql(
      """SELECT dot_product(
        |  array(cast(2.0 as float), cast(3.0 as float)),
        |  array(cast(4.0 as float), cast(5.0 as float))) AS d""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 23.0)
    val sig = spark.sql(
      "SELECT minhash_signature(array(11L, 22L), 8) AS s")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 8)
    val sim = spark.sql(
      "SELECT simhash_signature(array(11L, 22L, 33L), 16) AS s")
      .collect().head.getLong(0)
    assert(sim >= 0L && sim < (1L << 16))
    // the size argument must be a literal (it shapes the plan)
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array(1L), cast(rand()*8 as int))")
        .collect()
    }
    assert(err.getMessage.contains("literal"))
  }

  test("sq_encode / sq_cosine callable from SQL and round-trip the grid") {
    // dim-1 grid [0, 2.55] (step 0.01): 1.0 encodes to byte 100 and
    // dequantizes to ~1.0, so cosine with itself reads 1.0 exactly
    val r = spark.sql(
      """SELECT sq_cosine(
        |  array(cast(1.0 as float)),
        |  sq_encode(array(cast(1.0 as float)),
        |            array(cast(0.0 as float), cast(0.01 as float))),
        |  array(cast(0.0 as float), cast(0.01 as float))) AS c""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 1.0) // 1-dim cosine of same-sign values
    val codes = spark.sql(
      """SELECT sq_encode(array(cast(9.0 as float)),
        |  array(cast(0.0 as float), cast(0.01 as float))) AS b""".stripMargin)
      .collect().head.getAs[Array[Byte]](0)
    assert((codes(0) & 0xff) == 255) // saturates above the grid
  }

  test("JSON envelope round-trips through the same decode pipeline") {
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/insert.avro")
    val avroEnv = DatastreamAvro.read(spark, s"$fixtures/insert.avro")
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "json-env")
    val jsonDir = s"${dir.toString}/events"
    avroEnv.drop(DatastreamAvro.FilePathCol)
      .write.mode("overwrite").json(jsonDir)

    val jsonEnv = DatastreamJson.read(spark, s"$jsonDir/*.json", schema)
    val decoded = Decode.changeEvents(jsonEnv).collect()
    assert(decoded.length == 1)
    val e = decoded.head
    assert(e.getAs[String]("op") == "INSERT")
    val row = e.getAs[Row]("row")
    assert(row.getAs[Long]("EMPLOYEE_ID") == 210L)
    assert(row.getAs[String]("FIRST_NAME") == "Sean")
    assert(row.getAs[java.math.BigDecimal]("SALARY")
      .compareTo(new java.math.BigDecimal("12131.00")) == 0)
  }
}
