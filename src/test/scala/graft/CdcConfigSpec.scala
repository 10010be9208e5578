package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcConfig

class CdcConfigSpec extends AnyFunSuite {

  private val ok = CdcConfig(
    sourceGlob = "/data/changes/*.avro",
    tablePath = "/lake/t",
    checkpoint = "/lake/_ckpt/t",
    primaryKeys = Seq("ID"))

  test("valid config passes and derives trigger/decode options") {
    assert(ok.validate().isEmpty)
    assert(ok.validated() eq ok)
    assert(ok.trigger.toString.contains("30"))
    assert(ok.copy(dmlBlacklist = Set("DELETE"))
      .decodeOptions.dmlBlacklist == Set("DELETE"))
  }

  test("every problem is reported at once") {
    val bad = ok.copy(sourceGlob = " ", primaryKeys = Nil,
      triggerSeconds = 0, dmlBlacklist = Set("UPSERT"), numBuckets = -1)
    val problems = bad.validate()
    assert(problems.size == 5, problems.mkString("; "))
    val e = intercept[IllegalArgumentException](bad.validated())
    assert(e.getMessage.contains("UPSERT"))
  }

  test("cross-field rules: checkpoint clash, full blacklist, pk projection") {
    assert(ok.copy(checkpoint = "/lake/t").validate()
      .exists(_.contains("differ")))
    assert(ok.copy(dmlBlacklist = Set("INSERT", "UPDATE", "DELETE"))
      .validate().exists(_.contains("every operation")))
    assert(ok.copy(columns = Seq("A", "B")).validate()
      .exists(_.contains("retain every primary key")))
    assert(ok.copy(columns = Seq("ID", "A")).validate().isEmpty)
  }

  test("processedLog placement: maintenance state must not live where " +
      "vacuum or the stream file-log operate") {
    assert(ok.copy(processedLog = Some("/lake/_ttl/t.log")).validate().isEmpty)
    assert(ok.copy(processedLog = Some(" ")).validate()
      .exists(_.contains("blank")))
    assert(ok.copy(processedLog = Some("/lake/t/ttl.log")).validate()
      .exists(_.contains("nested")))
    assert(ok.copy(processedLog = Some("/lake/_ckpt/t/ttl.log")).validate()
      .exists(_.contains("nested")))
  }

  test("mode interaction: existingStreamId replaces sourceGlob " +
      "(the usingExistingStream rule)") {
    // an existing stream id makes the source location optional
    assert(ok.copy(sourceGlob = "",
      existingStreamId = Some("s1")).validate().isEmpty)
    // but a blank id is itself a problem
    assert(ok.copy(existingStreamId = Some(" ")).validate()
      .exists(_.contains("existingStreamId")))
    // and with neither, the source is missing
    assert(ok.copy(sourceGlob = "").validate()
      .exists(_.contains("sourceGlob")))
  }

  test("path-shape and nesting rules") {
    // checkpoint under the table root would be eaten by maintenance
    assert(ok.copy(checkpoint = "/lake/t/_ckpt").validate()
      .exists(_.contains("nested under tablePath")))
    assert(ok.copy(tablePath = "/lake/_ckpt/t/data").validate()
      .exists(_.contains("nested under checkpoint")))
    // sibling with a shared name prefix is NOT nesting
    assert(ok.copy(checkpoint = "/lake/t-ckpt").validate().isEmpty)
    // write-side paths must be literal, not globs
    assert(ok.copy(tablePath = "/lake/*").validate()
      .exists(_.contains("literal path")))
    assert(ok.copy(checkpoint = "/lake/ckpt-?").validate()
      .exists(_.contains("literal path")))
  }

  test("bounds: trigger cadence, bucket count, duplicate columns") {
    assert(ok.copy(triggerSeconds = 86401).validate()
      .exists(_.contains("86400")))
    assert(ok.copy(triggerSeconds = 86400).validate().isEmpty)
    assert(ok.copy(numBuckets = 65537).validate()
      .exists(_.contains("65536")))
    assert(ok.copy(columns = Seq("ID", "A", "A")).validate()
      .exists(_.contains("duplicates")))
  }

  test("SPARK_GRAFT_STATE_PARTITIONS: unset takes the default; any set " +
      "value that is not a positive integer fails and names the variable") {
    import graft.util.StreamConf.parseStatePartitions
    assert(parseStatePartitions(None, 4) == 4)
    assert(parseStatePartitions(Some(" 16 "), 4) == 16)
    for (bad <- Seq("", "   ", "\t", "x", "1.5", "0", "-2")) {
      val e = intercept[IllegalArgumentException](parseStatePartitions(Some(bad), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_STATE_PARTITIONS"), bad)
    }
  }
}
