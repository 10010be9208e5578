package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Column kinds of a generated payload (Oracle-style types as Datastream
  * writes them: NUMBER(p,s) → bytes decimal, DATE → timestamp-micros,
  * VARCHAR2 → string). */
sealed trait Kind
case object KLong extends Kind
case object KStr extends Kind
case object KDec extends Kind // decimal(12,2)
case object KTs extends Kind // timestamp-micros

case class Field(name: String, kind: Kind)

/** One generated table: `<SCHEMA>_<TABLE>` envelope record name. */
case class TableDef(schema: String, table: String, cols: Seq[Field],
    pk: Seq[String]) {
  def fqn: String = s"${schema}_$table"
  def widened(c: Field): TableDef = copy(cols = cols :+ c)
}

/** One change event as the source database emitted it. `changeType` is
  * the wire value (null for a snapshot row); `row` is aligned with the
  * writer's payload columns (null-padded for widened columns). */
case class Ev(changeType: String, row: Array[Any], tsMs: Long, scn: Long,
    ssn: Long, rsId: String)

/** Deterministic Datastream-envelope Avro writer (FIXTURES.md §1): the
  * record is named `<SCHEMA>_<TABLE>`, carries `source_metadata`,
  * `read_method` and the `sort_keys` union array, and files are named
  * `<schema_key>_<read_method>_<stream>_<n>_<m>.avro` under
  * `<root>/<SCHEMA>_<TABLE>/yyyy/MM/dd/HH/mm/`.
  *
  * Files are written under a staging directory outside the watched
  * tree and published with one atomic rename, so a file source never
  * lists a partial file. */
object Envelope {

  val DecimalScale = 2
  private val folderFmt =
    DateTimeFormatter.ofPattern("yyyy/MM/dd/HH/mm").withZone(ZoneOffset.UTC)

  private def nullable(s: Schema): Schema =
    Schema.createUnion(Schema.create(Schema.Type.NULL), s)

  private def avroType(k: Kind): Schema = k match {
    case KLong => Schema.create(Schema.Type.LONG)
    case KStr => Schema.create(Schema.Type.STRING)
    case KDec =>
      LogicalTypes.decimal(12, DecimalScale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case KTs => LogicalTypes.timestampMicros()
      .addToSchema(Schema.create(Schema.Type.LONG))
  }

  private val millis =
    LogicalTypes.timestampMillis().addToSchema(Schema.create(Schema.Type.LONG))

  private val metaSchema: Schema = SchemaBuilder.record("source_metadata")
    .fields()
    .requiredString("schema").requiredString("table")
    .requiredString("database")
    .name("row_id").`type`(nullable(Schema.create(Schema.Type.STRING))).noDefault()
    .name("scn").`type`(nullable(Schema.create(Schema.Type.LONG))).noDefault()
    .name("is_deleted").`type`(nullable(Schema.create(Schema.Type.BOOLEAN))).noDefault()
    .name("change_type").`type`(nullable(Schema.create(Schema.Type.STRING))).noDefault()
    .name("ssn").`type`(nullable(Schema.create(Schema.Type.LONG))).noDefault()
    .name("rs_id").`type`(nullable(Schema.create(Schema.Type.STRING))).noDefault()
    .name("tx_id").`type`(nullable(Schema.create(Schema.Type.STRING))).noDefault()
    .name("log_file").`type`(nullable(Schema.create(Schema.Type.STRING))).noDefault()
    .endRecord()

  private val sortKeySchema = Schema.createArray(Schema.createUnion(
    Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))

  /** The writer schema of one table's files. */
  def schemaOf(t: TableDef): Schema = {
    val payload = SchemaBuilder.record("payload").fields()
    t.cols.foreach(c =>
      payload.name(c.name).`type`(nullable(avroType(c.kind))).noDefault())
    SchemaBuilder.record(t.fqn).fields()
      .requiredString("uuid")
      .name("read_timestamp").`type`(millis).noDefault()
      .name("source_timestamp").`type`(millis).noDefault()
      .requiredString("object").requiredString("read_method")
      .requiredString("stream_name").requiredString("schema_key")
      .name("source_metadata").`type`(metaSchema).noDefault()
      .name("payload").`type`(payload.endRecord()).noDefault()
      .name("sort_keys").`type`(sortKeySchema).noDefault()
      .endRecord()
  }

  def readMethod(snapshot: Boolean): String =
    if (snapshot) "oracle-backfill" else "oracle-cdc-logminer"

  private def toAvro(v: Any, k: Kind): Any = (v, k) match {
    case (null, _) => null
    case (d: java.math.BigDecimal, KDec) =>
      java.nio.ByteBuffer.wrap(
        d.setScale(DecimalScale).unscaledValue().toByteArray)
    case (x, _) => x
  }

  /** A staged file: write with [[write]], make visible with [[publish]]. */
  case class Staged(tmp: Path, dest: Path, events: Int, bytes: Long)

  /** Write `evs` as one Avro container under `staging`, destined for
    * `root`. `n` numbers the file within the stream; the folder is the
    * first event's source minute. */
  def write(staging: Path, root: Path, t: TableDef, schemaKey: String,
      snapshot: Boolean, n: Int, evs: Seq[Ev]): Staged = {
    val schema = schemaOf(t)
    val method = readMethod(snapshot)
    val name = f"${schemaKey}_${method}_stream1_$n%06d_${evs.size}.avro"
    val folder = folderFmt.format(Instant.ofEpochMilli(evs.head.tsMs))
    val tmp = staging.resolve(name)
    val dest = root.resolve(t.fqn).resolve(folder).resolve(name)
    val payloadSchema = schema.getField("payload").schema()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, tmp.toFile)
    try evs.foreach { e =>
      val meta = new GenericData.Record(metaSchema)
      meta.put("schema", t.schema); meta.put("table", t.table)
      meta.put("database", "TPCH")
      meta.put("row_id", s"AAA${e.scn}")
      meta.put("scn", e.scn)
      meta.put("is_deleted", e.changeType == "DELETE" ||
        e.changeType == "UPDATE-DELETE")
      meta.put("change_type", e.changeType)
      meta.put("ssn", e.ssn)
      meta.put("rs_id", e.rsId)
      meta.put("tx_id", if (snapshot) null else s"tx${e.scn / 8}")
      meta.put("log_file", if (snapshot) null else "redo01.log")
      val payload = new GenericData.Record(payloadSchema)
      t.cols.zipWithIndex.foreach { case (c, i) =>
        payload.put(c.name, toAvro(if (i < e.row.length) e.row(i) else null, c.kind))
      }
      val r = new GenericData.Record(schema)
      r.put("uuid", new java.util.UUID(e.scn, e.ssn).toString)
      r.put("read_timestamp", e.tsMs)
      r.put("source_timestamp", e.tsMs)
      r.put("object", t.fqn)
      r.put("read_method", method)
      r.put("stream_name", "projects/p/locations/l/streams/perfbench")
      r.put("schema_key", schemaKey)
      r.put("source_metadata", meta)
      r.put("payload", payload)
      r.put("sort_keys", Seq[Any](e.tsMs, e.scn, e.rsId, e.ssn).asJava)
      w.append(r)
    } finally w.close()
    Staged(tmp, dest, evs.size, Files.size(tmp))
  }

  /** Atomically move a staged file into the watched tree. */
  def publish(s: Staged): Unit = {
    Files.createDirectories(s.dest.getParent)
    Files.move(s.tmp, s.dest, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Glob matching every published file under `root`. */
  def glob(root: Path): String =
    new File(root.toFile, "*/*/*/*/*/*/*.avro").getAbsolutePath
}
