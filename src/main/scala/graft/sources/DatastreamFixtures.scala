package graft.sources

import java.io.FileOutputStream
import java.math.{BigDecimal => JBigDecimal}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import graft.queries.CdcGoldenOracles
import graft.util.Fs

/** The five Datastream Avro files of the reference's golden tests —
  * `dump` (the HR.EMPLOYEES backfill), `insert`, `update`, `update-pk`
  * and `delete` — which every CDC spec and c-query replays.
  *
  * [[dir]] is the reference checkout's own folder when all five real
  * files are there, and otherwise a set this object writes once per
  * JVM. The generated set follows FIXTURES.md §1–2: writer record
  * `HR_EMPLOYEES`, `varchar(n)` custom logical types, `bytes`
  * decimal(8,2) SALARY and decimal(2,2) COMMISSION_PCT,
  * timestamp-micros HIRE_DATE, the `sort_keys` array of
  * union[string,long], `read_method` oracle-backfill for the dump and
  * oracle-cdc-logminer otherwise, null `tx_id` on snapshot rows.
  *
  * Where the values come from (FIXTURES.md §6 has the table):
  *  - the c01 and c02 VALUES literals of [[CdcGoldenOracles]], which
  *    were decoded from the real files: every dump row's EMPLOYEE_ID,
  *    FIRST_NAME, LAST_NAME, SALARY and `row_id`, in `row_id` order;
  *  - the c07 literal: the CDC events' ops, salaries and `scn`s;
  *  - FIXTURES.md §2: the employee-210 row of the CDC files;
  *  - source timestamps in the order the c02/c10/c11 locks imply,
  *    dump < insert < update < delete < update-pk (see `sourceTime`);
  *  - every other column is deterministic filler.
  *
  * Writes are byte-deterministic (the Avro sync marker is derived from
  * the file name), and the set is staged and published with
  * [[Fs.publishDir]], so a reader never sees part of it. */
object DatastreamFixtures {

  /** The five file names, in the order the golden replay applies them. */
  val files: Seq[String] =
    Seq("dump.avro", "insert.avro", "update.avro", "update-pk.avro", "delete.avro")

  /** The real files' folder in a checkout of the reference project
    * named `reference`, next to the working directory (the repository
    * root when run through sbt). */
  val referenceDir: String =
    Paths.get("../reference/src/test/resources").toAbsolutePath.normalize.toString

  /** The fixture folder: the real files when all five exist, else the
    * generated set. */
  lazy val dir: String =
    if (files.forall(f => Files.isRegularFile(Paths.get(referenceDir, f)))) referenceDir
    else generated

  /** The generated set, written once per JVM into a temp dir that is
    * removed at exit. */
  lazy val generated: String = {
    val root = Files.createTempDirectory("graft-datastream-fixtures")
    sys.addShutdownHook(Fs.deleteRecursively(root))
    val dest = root.resolve("resources")
    writeTo(dest)
    dest.toString
  }

  /** Write the five files into `dest`, which must not exist yet. */
  def writeTo(dest: Path): Unit = {
    val staging = dest.resolveSibling(s".${dest.getFileName}.staging")
    Files.createDirectories(staging)
    files.foreach(f => writeFile(staging.resolve(f), events(f)))
    require(Fs.publishDir(staging, dest), s"fixture dir $dest already exists")
  }

  // ---- writer schema (FIXTURES.md §1–2) ----

  private def nullable(s: Schema): Schema =
    Schema.createUnion(Schema.create(Schema.Type.NULL), s)

  private def varchar(length: Int): Schema = {
    val s = Schema.create(Schema.Type.STRING)
    s.addProp("logicalType", "varchar")
    s.addProp("length", Int.box(length))
    s
  }

  private def decimal(precision: Int, scale: Int): Schema =
    LogicalTypes.decimal(precision, scale).addToSchema(Schema.create(Schema.Type.BYTES))

  private val payloadSchema: Schema = {
    val long = Schema.create(Schema.Type.LONG)
    val cols = Seq(
      "EMPLOYEE_ID" -> long,
      "FIRST_NAME" -> varchar(20),
      "LAST_NAME" -> varchar(25),
      "EMAIL" -> varchar(25),
      "PHONE_NUMBER" -> varchar(20),
      "HIRE_DATE" -> LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG)),
      "JOB_ID" -> varchar(10),
      "SALARY" -> decimal(8, 2),
      "COMMISSION_PCT" -> decimal(2, 2),
      "MANAGER_ID" -> long,
      "DEPARTMENT_ID" -> long)
    cols.foldLeft(SchemaBuilder.record("payload").fields()) { case (b, (n, s)) =>
      b.name(n).`type`(nullable(s)).noDefault()
    }.endRecord()
  }

  private val metaSchema: Schema = {
    def opt(t: Schema.Type) = nullable(Schema.create(t))
    SchemaBuilder.record("source_metadata").fields()
      .requiredString("schema").requiredString("table").requiredString("database")
      .name("row_id").`type`(opt(Schema.Type.STRING)).noDefault()
      .name("scn").`type`(opt(Schema.Type.LONG)).noDefault()
      .name("is_deleted").`type`(opt(Schema.Type.BOOLEAN)).noDefault()
      .name("change_type").`type`(opt(Schema.Type.STRING)).noDefault()
      .name("ssn").`type`(opt(Schema.Type.LONG)).noDefault()
      .name("rs_id").`type`(opt(Schema.Type.STRING)).noDefault()
      .name("tx_id").`type`(opt(Schema.Type.STRING)).noDefault()
      .name("log_file").`type`(opt(Schema.Type.STRING)).noDefault()
      .endRecord()
  }

  /** The writer schema shared by all five files. */
  private val schema: Schema = {
    val millis = LogicalTypes.timestampMillis().addToSchema(Schema.create(Schema.Type.LONG))
    val sortKeys = Schema.createArray(Schema.createUnion(
      Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))
    SchemaBuilder.record("HR_EMPLOYEES").fields()
      .requiredString("uuid")
      .name("read_timestamp").`type`(millis).noDefault()
      .name("source_timestamp").`type`(millis).noDefault()
      .requiredString("object").requiredString("read_method")
      .requiredString("stream_name").requiredString("schema_key")
      .name("source_metadata").`type`(metaSchema).noDefault()
      .name("payload").`type`(payloadSchema).noDefault()
      .name("sort_keys").`type`(sortKeys).noDefault()
      .endRecord()
  }

  // ---- rows ----

  private case class Employee(id: Long, first: String, last: String, email: String,
      phone: String, hireDate: LocalDate, job: String, salary: JBigDecimal,
      commission: Option[JBigDecimal], manager: Option[Long], department: Option[Long])

  /** One event; `changeType` is null on snapshot rows. */
  private case class Event(changeType: String, row: Employee, rowId: String,
      scn: Long, ssn: Long)

  /** A VALUES string literal ('' escapes a quote). */
  private val str = "'((?:[^']|'')*)'"
  private def unquote(s: String) = s.replace("''", "'")
  private def money(d: String) = new JBigDecimal(d).setScale(2)

  /** c02's final state: first name by employee id. */
  private lazy val firstNames: Map[Long, String] =
    s"\\(CAST\\((\\d+) AS BIGINT\\), $str, CAST\\([\\d.]+ AS DOUBLE\\), (?:true|false)\\)".r
      .findAllMatchIn(CdcGoldenOracles.map("c02_cdc_final_state"))
      .map(m => m.group(1).toLong -> unquote(m.group(2))).toMap

  private val jobs = Seq("AD_VP", "IT_PROG", "FI_ACCOUNT", "PU_CLERK", "ST_CLERK",
    "SA_REP", "SH_CLERK")

  /** c01's dump rows in `row_id` order (the backfill's table-scan
    * order); columns no lock pins are filler. */
  private lazy val dumpRows: Seq[Event] = {
    val rows = s"\\(CAST\\((\\d+) AS BIGINT\\), $str, CAST\\(([\\d.]+) AS DOUBLE\\), 'INSERT', true, $str\\)".r
      .findAllMatchIn(CdcGoldenOracles.map("c01_decode_dump")).map { m =>
        val id = m.group(1).toLong
        val last = unquote(m.group(2))
        val first = firstNames.getOrElse(id,
          throw new IllegalStateException(s"c02 pins no first name for employee $id"))
        Event(null, Employee(id, first, last,
          (first.take(1) + last).toUpperCase.filter(_.isLetterOrDigit).take(25),
          f"515.123.$id%04d", LocalDate.of(2003, 1, 1).plusDays((id - 100) * 37),
          jobs((id % jobs.size).toInt), money(m.group(3)),
          if (id % 4 == 0) Some(new JBigDecimal(s"0.${1 + id % 3}0")) else None,
          if (id == 100) None else Some(100L), Some(10L * (1 + id % 11))),
          unquote(m.group(4)), scn = 0L, ssn = 0L)
      }.toSeq.sortBy(_.rowId)
    require(rows.size == 108, s"c01 pins 108 dump rows, parsed ${rows.size}")
    rows
  }

  /** Employee 210 as FIXTURES.md §2 gives it (the phone is filler). */
  private val sean = Employee(210L, "Sean", "Zhou", "seanzhou@google.com",
    "650.555.0210", LocalDate.of(2020, 1, 9), "AD_PRES", money("12131"), None,
    Some(205L), Some(110L))
  private val seanRowId = "AAAE5XAAEAAAADPAAJ"

  private def events(file: String): Seq[Event] = file match {
    case "dump.avro" => dumpRows
    case "insert.avro" => Seq(Event("INSERT", sean, seanRowId, 7044811L, 0L))
    case "update.avro" =>
      Seq(Event("UPDATE", sean.copy(salary = money("8888")), seanRowId, 7044834L, 0L))
    case "delete.avro" =>
      Seq(Event("DELETE", sean.copy(salary = money("8888")), seanRowId, 7044930L, 0L))
    case "update-pk.avro" => Seq(
      Event("UPDATE-DELETE", sean, seanRowId, 382470L, 0L),
      Event("UPDATE-INSERT", sean.copy(id = 211L), seanRowId, 382470L, 1L))
  }

  /** Every event of a file shares one source time. The order is the one
    * the locks imply: c02's final 210 row is update-pk's 12131.00
    * DELETE image, not delete.avro's 8888.00 one, although update-pk's
    * scn (382470) is the lower — so update-pk's `source_timestamp`, the
    * first sort key, must be the later; c10 (version 2 = 210 at
    * 8888.00, live) needs insert < update. */
  private def sourceTime(file: String): Instant = Instant.parse(file match {
    case "dump.avro" => "2021-03-22T05:00:00Z"
    case "insert.avro" => "2021-03-22T05:10:00Z"
    case "update.avro" => "2021-03-22T05:11:00Z"
    case "delete.avro" => "2021-03-22T05:13:00Z"
    case "update-pk.avro" => "2021-03-22T05:20:00Z"
  })

  // ---- Avro encoding ----

  private def decimalBytes(d: JBigDecimal): ByteBuffer =
    ByteBuffer.wrap(d.unscaledValue().toByteArray)

  private def md5(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))

  private val schemaKey = md5(payloadSchema.toString).map(b => f"$b%02x").mkString

  private def writeFile(path: Path, evs: Seq[Event]): Unit = {
    val file = path.getFileName.toString
    val snapshot = file == "dump.avro"
    val tsMs = sourceTime(file).toEpochMilli
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new FileOutputStream(path.toFile), md5(file))
    try evs.zipWithIndex.foreach { case (e, i) =>
      val rsId = if (snapshot) "" else f"0x${e.scn}%06x.00000010.0010"
      val meta = new GenericData.Record(metaSchema)
      meta.put("schema", "HR"); meta.put("table", "EMPLOYEES")
      meta.put("database", "XE")
      meta.put("row_id", e.rowId)
      meta.put("scn", e.scn)
      meta.put("is_deleted", e.changeType == "DELETE" || e.changeType == "UPDATE-DELETE")
      meta.put("change_type", e.changeType)
      meta.put("ssn", e.ssn)
      meta.put("rs_id", rsId)
      meta.put("tx_id", if (snapshot) null else s"7.${e.scn % 32}.${e.scn % 1000}")
      meta.put("log_file", if (snapshot) null else "redo01.log")
      val r = e.row
      val payload = new GenericData.Record(payloadSchema)
      payload.put("EMPLOYEE_ID", r.id)
      payload.put("FIRST_NAME", r.first)
      payload.put("LAST_NAME", r.last)
      payload.put("EMAIL", r.email)
      payload.put("PHONE_NUMBER", r.phone)
      payload.put("HIRE_DATE",
        r.hireDate.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli * 1000L)
      payload.put("JOB_ID", r.job)
      payload.put("SALARY", decimalBytes(r.salary))
      payload.put("COMMISSION_PCT", r.commission.map(decimalBytes).orNull)
      payload.put("MANAGER_ID", r.manager.map(Long.box).orNull)
      payload.put("DEPARTMENT_ID", r.department.map(Long.box).orNull)
      val rec = new GenericData.Record(schema)
      rec.put("uuid", java.util.UUID.nameUUIDFromBytes(s"$file#$i".getBytes(UTF_8)).toString)
      rec.put("read_timestamp", tsMs + 1500L)
      rec.put("source_timestamp", tsMs)
      rec.put("object", "HR_EMPLOYEES")
      rec.put("read_method", if (snapshot) "oracle-backfill" else "oracle-cdc-logminer")
      rec.put("stream_name", "projects/graft/locations/us-central1/streams/hr-employees")
      rec.put("schema_key", schemaKey)
      rec.put("source_metadata", meta)
      rec.put("payload", payload)
      rec.put("sort_keys", Seq[Any](tsMs, e.scn, rsId, e.ssn).asJava)
      w.append(rec)
    } finally w.close()
  }
}
