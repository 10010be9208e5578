package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 form of the avro source must agree with the
  * binaryFile-based reader on schema and content. */
class DsV2SourceSpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("format() read matches DatastreamAvro.read") {
    val viaFormat = spark.read
      .format("graft.sources.DatastreamAvroSource")
      .load(s"$fixtures/dump.avro")
    val viaReader = graft.sources.DatastreamAvro.read(spark, s"$fixtures/dump.avro")
    assert(viaFormat.schema == viaReader.schema)
    assert(viaFormat.count() == 108)
    val a = viaFormat.select("payload.EMPLOYEE_ID", "payload.LAST_NAME")
      .collect().map(_.toString).sorted.toSeq
    val b = viaReader.select("payload.EMPLOYEE_ID", "payload.LAST_NAME")
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("format() read over a multi-file glob plans one partition per file") {
    val df = spark.read
      .format("graft.sources.DatastreamAvroSource")
      .load(s"$fixtures/{insert,update,delete}.avro")
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3)
    // decodes through the same downstream pipeline
    val events = graft.cdc.Decode.changeEvents(df)
    assert(events.select("op").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("DELETE", "INSERT", "UPDATE"))
  }

  test("column pruning reaches the DSv2 scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = spark.read
      .format("graft.sources.DatastreamAvroSource")
      .load(s"$fixtures/dump.avro")
      .select("uuid", "read_method")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema()
    }
    assert(scans.nonEmpty)
    assert(scans.head.fieldNames.toSeq == Seq("uuid", "read_method"),
      scans.head.treeString)
    assert(df.distinct().count() >= 1)
  }
}
