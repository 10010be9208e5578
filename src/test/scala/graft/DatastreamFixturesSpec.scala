package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => AvroSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Decode
import graft.sources.{DatastreamAvro, DatastreamFixtures}

/** The generated Datastream fixture set: deterministic, ordered as the
  * golden locks imply, and — wherever a reference checkout holds the
  * real files — equal to them field by field on everything the locks
  * and FIXTURES.md §2 pin. */
class DatastreamFixturesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def decode(dir: String, file: String): DataFrame =
    Decode.fromAvro(spark, s"$dir/$file")

  test("the generated set is byte-deterministic and keeps the source-time " +
      "order the locks imply: dump < insert < update < delete < update-pk") {
    val root = Files.createTempDirectory(Paths.get("target"), "fixtures-twice")
    Seq("a", "b").foreach(d => DatastreamFixtures.writeTo(root.resolve(d)))
    DatastreamFixtures.files.foreach { f =>
      assert(Files.readAllBytes(root.resolve("a").resolve(f)).sameElements(
        Files.readAllBytes(root.resolve("b").resolve(f))), f)
    }
    val order = Seq("dump.avro", "insert.avro", "update.avro", "delete.avro",
      "update-pk.avro")
    val spans = order.map { f =>
      val ts = decode(root.resolve("a").toString, f)
        .select(col("sort_key.ts_ms")).collect().map(_.getLong(0))
      (ts.min, ts.max)
    }
    spans.sliding(2).foreach { case Seq((_, hi), (lo, _)) => assert(hi < lo, spans) }
  }

  /** A schema's shape with record names left out (only the top-level
    * name is pinned): field names, types, logical types and props. */
  private def shape(s: AvroSchema): String = {
    val props = s.getObjectProps.asScala.toSeq.sortBy(_._1).mkString(",")
    s.getType match {
      case AvroSchema.Type.RECORD => s.getFields.asScala
        .map(f => s"${f.name}:${shape(f.schema)}").mkString("{", ", ", "}")
      case AvroSchema.Type.UNION => s.getTypes.asScala.map(shape).mkString("[", "|", "]")
      case AvroSchema.Type.ARRAY => s"array<${shape(s.getElementType)}>"
      case t => s"$t($props)"
    }
  }

  /** The decoded columns whose values the golden locks or FIXTURES.md
    * §2 pin. The rest are filler in the generated set and compared by
    * type only (the decoded schemas must be equal): database, schema
    * and table names, schema_key, the CDC events' row_id and tx_id, the
    * sort key's time, rs_id and ssn (only the files' time order is
    * compared), PHONE_NUMBER of the CDC row, and the dump rows' EMAIL,
    * PHONE_NUMBER, HIRE_DATE, JOB_ID, COMMISSION_PCT, MANAGER_ID and
    * DEPARTMENT_ID. */
  private def pinned(dir: String, file: String): Seq[String] = {
    val df = decode(dir, file)
    val cols =
      if (file == "dump.avro")
        Seq(col("op"), col("is_snapshot"), col("row_id"), col("tx_id").isNull,
          col("row.EMPLOYEE_ID"), col("row.FIRST_NAME"), col("row.LAST_NAME"),
          col("row.SALARY"))
      else
        Seq(col("op"), col("is_snapshot"), col("tx_id").isNull, col("sort_key.scn"),
          col("row.EMPLOYEE_ID"), col("row.FIRST_NAME"), col("row.LAST_NAME"),
          col("row.EMAIL"), col("row.HIRE_DATE"), col("row.JOB_ID"), col("row.SALARY"),
          col("row.COMMISSION_PCT"), col("row.MANAGER_ID"), col("row.DEPARTMENT_ID"))
    df.select(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  test("the generated set matches the reference's real files: writer " +
      "schema, record counts and every pinned decoded column") {
    val real = DatastreamFixtures.referenceDir
    assume(Files.exists(Paths.get(real, "dump.avro")),
      "the reference checkout's real fixture files are not present")
    val gen = DatastreamFixtures.generated
    def writer(dir: String, f: String) = DatastreamAvro.writerSchema(s"$dir/$f")
    DatastreamFixtures.files.foreach { f =>
      val (r, g) = (writer(real, f), writer(gen, f))
      assert(r.getFullName == g.getFullName, f)
      assert(shape(r) == shape(g), f)
      val (rd, gd) = (decode(real, f), decode(gen, f))
      assert(rd.drop(DatastreamAvro.FilePathCol).schema ==
        gd.drop(DatastreamAvro.FilePathCol).schema, f)
      assert(rd.count() == gd.count(), f)
      assert(pinned(real, f) == pinned(gen, f), f)
    }
    // the relative order of the files' source times decides every merge
    def times(dir: String): Seq[String] = DatastreamFixtures.files.sortBy { f =>
      decode(dir, f).select(col("sort_key.ts_ms")).collect().map(_.getLong(0)).max
    }
    assert(times(real) == times(gen))
  }
}
