package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Retry
import graft.util.Retry.{FatalPipelineException, RecoverableSourceException}

class RetrySpec extends AnyFunSuite {

  test("recoverable errors retry with exponential backoff and succeed") {
    var attempts = 0
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val result = Retry.withBackoff(sleep = delays.append(_)) {
      attempts += 1
      if (attempts < 4) throw new RecoverableSourceException(s"flaky $attempts")
      "ok"
    }
    assert(result == "ok" && attempts == 4)
    assert(delays.toSeq == Seq(1000L, 2000L, 4000L)) // 1s -> 2s -> 4s
  }

  test("backoff is capped at 60 s") {
    var attempts = 0
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    Retry.withBackoff(sleep = delays.append(_)) {
      attempts += 1
      if (attempts < 10) throw new RecoverableSourceException("flaky")
      ()
    }
    assert(delays.max == 60000L)
  }

  test("fatal errors abort immediately; budget exhaustion turns fatal") {
    var attempts = 0
    assertThrows[FatalPipelineException] {
      Retry.withBackoff(sleep = _ => ()) {
        attempts += 1
        throw new FatalPipelineException("bad config")
      }
    }
    assert(attempts == 1)

    // tiny budget: recoverable turns fatal once the budget is gone
    assertThrows[FatalPipelineException] {
      Retry.withBackoff(Retry.Policy(maxElapsedMs = 1), sleep = _ => ()) {
        throw new RecoverableSourceException("always down")
      }
    }
  }

  test("decode surfaces filename-embedded schema key and source time") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    // production-style path: <root>/<TABLE>/yyyy/MM/dd/HH/mm/<key>_<...>.avro
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pathmeta")
    val nested = root.resolve("HR_EMPLOYEES/2021/03/22/05/13")
    java.nio.file.Files.createDirectories(nested)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(graft.sources.DatastreamFixtures.dir, "insert.avro"),
      nested.resolve("keyv2_oracle-cdc-logminer_0_1.avro"))
    val decoded = graft.cdc.Decode.fromAvro(spark,
      s"${root.toString}/HR_EMPLOYEES/*/*/*/*/*/*.avro").collect().head
    // envelope's own schema_key wins when present; path time extracted
    assert(decoded.getAs[String]("schema_key") != null)
    assert(decoded.getAs[String]("source_time_path") == "2021/03/22/05/13")
  }
}
