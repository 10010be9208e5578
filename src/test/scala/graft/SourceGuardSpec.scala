package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DatastreamAvro

/** Source-level guards: zero-size blobs never reach the Avro decoder
  * (reference: DatastreamEventReader.java:594-598), and the
  * fresh-start listing lower bound excludes files older than the SLA
  * window (reference startOffset prune, :471-478) while checkpoint
  * replay stays idempotent. */
class SourceGuardSpec extends AnyFunSuite {

  private def fixtures = graft.sources.DatastreamFixtures.dir

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tempDir(prefix: String) =
    Files.createTempDirectory(Paths.get("target"), prefix)

  test("batch read skips empty files and folder markers") {
    val dir = tempDir("guard-batch")
    Files.copy(Paths.get(s"$fixtures/dump.avro"), dir.resolve("dump.avro"))
    Files.createFile(dir.resolve("empty.avro"))     // in-flight blob
    Files.createFile(dir.resolve("_SUCCESS"))       // marker
    val rows = DatastreamAvro.read(spark, s"$dir/*").count()
    assert(rows == 108) // dump.avro alone; empty files decoded = throw
  }

  test("DSv2 source skips empty files at listing time") {
    val dir = tempDir("guard-dsv2")
    Files.copy(Paths.get(s"$fixtures/dump.avro"), dir.resolve("dump.avro"))
    Files.createFile(dir.resolve("empty.avro"))
    val rows = spark.read.format("graft.sources.DatastreamAvroSource")
      .load(dir.toString).count()
    assert(rows == 108)
  }

  test("streaming read drops empty files before decode") {
    val dir = tempDir("guard-stream")
    Files.copy(Paths.get(s"$fixtures/insert.avro"), dir.resolve("insert.avro"))
    Files.createFile(dir.resolve("empty.avro"))
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/insert.avro")
    val out = tempDir("guard-stream-out").toString
    val q = DatastreamAvro.readStream(spark, s"$dir/*", schema)
      .writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    assert(spark.read.parquet(s"$out/data").count() == 1)
  }

  test("modifiedAfter bounds a fresh start; replay stays idempotent") {
    val dir = tempDir("bound-stream")
    // an "old" file: 10 days before now
    Files.copy(Paths.get(s"$fixtures/dump.avro"), dir.resolve("old.avro"))
    Files.setLastModifiedTime(dir.resolve("old.avro"),
      FileTime.fromMillis(System.currentTimeMillis() - 10L * 86400 * 1000))
    // a current file
    Files.copy(Paths.get(s"$fixtures/insert.avro"), dir.resolve("new.avro"))
    val schema = DatastreamAvro.sparkSchema(s"$fixtures/dump.avro")
    val cutoff = new java.sql.Timestamp(
      System.currentTimeMillis() - 3L * 86400 * 1000) // 3-day SLA analog
    val out = tempDir("bound-out").toString

    def drain(): Unit = {
      val q = DatastreamAvro.readStream(spark, s"$dir/*", schema,
          modifiedAfter = Some(cutoff))
        .select(col("source_metadata.change_type").as("ct"),
          col(DatastreamAvro.FilePathCol).as("p"))
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
    }
    drain()
    val first = spark.read.parquet(s"$out/data")
    assert(first.count() == 1) // insert.avro only; 108 old rows excluded
    assert(!first.select("p").head.getString(0).contains("old.avro"))
    drain() // restart on the same checkpoint: nothing new, no dupes
    assert(spark.read.parquet(s"$out/data").count() == 1)
  }
}
