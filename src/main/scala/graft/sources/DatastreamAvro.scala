package graft.sources

import java.io.ByteArrayInputStream
import java.math.{BigInteger, BigDecimal => JBigDecimal}
import java.nio.ByteBuffer
import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => AvroSchema}
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericFixed, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.AvroSchemaConverter

/** Reads Datastream-style Avro container files into DataFrames.
  *
  * The runtime ships no spark-avro module, so this is a thin source
  * over raw file bytes + the core avro-1.12 jar that IS on the
  * classpath: each task decodes its files' records with
  * `DataFileStream`, converting to Spark rows under a fixed target
  * schema (reference wire format: FIXTURES.md §1, consumed at
  * DatastreamEventConsumer.java:222-258 in the reference — re-expressed
  * here as a vectorizable DataFrame source instead of a row callback).
  *
  * Listing: the batch [[read]] lists through Spark's `binaryFile` file
  * index. The streaming [[readStream]] lists the whole glob on the
  * driver on every trigger, through the Hadoop `FileSystem` API
  * ([[DatastreamFileSource]]), and starts no Spark job for it; a late
  * file in any folder is planned on the next trigger.
  *
  * Scale: decode parallelizes per file across executors; per-file
  * schema is honored independently (drift-safe — a field missing in an
  * old file is null), matching the reference's file-granularity schema
  * keys. Decoding is the only non-codegen step; everything downstream
  * is columnar/codegen.
  */
object DatastreamAvro {

  /** Column appended to every decoded row with the source file path. */
  val FilePathCol = "_file_path"

  /** 0-based record index within the source file — the reference's
    * per-file resume `position` (DatastreamEventConsumer.java:73,
    * saved per table at :355 and skip-replayed at :191). Here it is a
    * plain data column: (file, _file_row) totally orders the stream's
    * records, and the file-log exactly-once makes resume-by-skip
    * unnecessary — the column exists for lineage/audit and for
    * consumers that need the reference's position contract. Nullable
    * because the JSON envelope twin cannot derive it. */
  val FileRowCol = "_file_row"

  /** Read the writer schema embedded in one local avro file. */
  def writerSchema(path: String): AvroSchema = {
    val in = new java.io.FileInputStream(stripScheme(path))
    val reader = new DataFileStream[GenericRecord](
      in, new GenericDatumReader[GenericRecord]())
    try reader.getSchema finally { reader.close(); in.close() }
  }

  /** Spark schema for a set of files (from one sample file's writer
    * schema) + the file-path column. */
  def sparkSchema(samplePath: String): StructType = {
    val st = AvroSchemaConverter.toStructType(writerSchema(samplePath))
    StructType(st.fields :+
      StructField(FilePathCol, StringType, nullable = false) :+
      StructField(FileRowCol, LongType, nullable = true))
  }

  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  /** Batch read: all avro files matching `glob`, decoded under the
    * given target schema (defaults to the first listed file's schema).
    *
    * Zero-length blobs are filtered out BEFORE decode — object stores
    * routinely contain folder markers and in-flight empty files, and
    * an empty stream is not an Avro container (the reference skips
    * them the same way: `blob.getSize() > 0`,
    * DatastreamEventReader.java:594-598).
    *
    * @param pathFilter    optional predicate over the `path` column —
    *        excluded files are listed but never avro-decoded (table
    *        allowlists with filename-embedded schema keys prune here)
    * @param modifiedAfter optional lower bound (any Spark timestamp
    *        string) pushed to the file index — the reference's
    *        3-day-SLA `startOffset` listing prune
    *        (DatastreamEventReader.java:471-478)
    */
  def read(spark: SparkSession, glob: String,
      schema: Option[StructType] = None,
      pathFilter: Option[org.apache.spark.sql.Column] = None,
      modifiedAfter: Option[String] = None): DataFrame = {
    val reader = spark.read.format("binaryFile")
    modifiedAfter.foreach(t => reader.option("modifiedAfter", t))
    // brace alternation ({a,b}.avro) confuses DataSource's metadata
    // probe into logging a spurious FileNotFoundException stack trace;
    // pre-expand it through the Hadoop FS and pass concrete paths
    val paths: Seq[String] =
      if (!glob.contains('{')) Seq(glob)
      else {
        val p = new org.apache.hadoop.fs.Path(glob)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        Option(fs.globStatus(p)).toSeq.flatten.map(_.getPath.toString)
      }
    val listed = reader.load(paths: _*).filter(col("length") > 0)
    val binary = pathFilter.fold(listed)(listed.filter)
      .select(col("path"), col("content"))
    val target = schema.getOrElse {
      val listed = binary.select("path").orderBy("path").limit(1).collect()
      require(listed.nonEmpty,
        s"no non-empty avro files match '$glob' after filters — " +
          "cannot infer a schema (pass one explicitly, or check the path)")
      sparkSchema(listed.head.getString(0))
    }
    decodeBinary(spark, binary, target)
  }

  /** Streaming read over a glob of avro files, exactly-once per file
    * from the stream's file log. Every trigger lists the whole glob on
    * the driver ([[DatastreamFileSource]]), starting no Spark job, so a
    * late file in any folder — `…/09/59/` after `…/10/00/` has opened,
    * or one a day back — is planned on the next trigger, never lost.
    * The listing cost grows with the files the glob matches; the
    * `maxFileAge` bound below keeps the seen-files map, not the
    * listing, bounded.
    *
    * Zero-length blobs are dropped at listing, never read (see
    * [[read]]).
    *
    * @param pathFilter    as in [[read]]: excluded files are never
    *        avro-decoded
    * @param modifiedAfter fresh-start listing lower bound: files whose
    *        modification time is at or before the cutoff are never
    *        listed, so never read (the source's `modifiedAfter` option) —
    *        the analog of the reference's `startOffset = source time −
    *        3-day SLA` prune (DatastreamEventReader.java:471-478).
    *        Deterministic against the file-log: already-committed files
    *        replay idempotently regardless of the bound.
    * @param maxFileAge    steady-state age bound of the seen-files map
    *        (files older than this relative to the newest seen file are
    *        forgotten and never planned) — keeps that map bounded over
    *        months of accumulated files; Spark's default is 7 days
    */
  def readStream(spark: SparkSession, pathGlob: String,
      schema: StructType,
      pathFilter: Option[org.apache.spark.sql.Column] = None,
      modifiedAfter: Option[java.sql.Timestamp] = None,
      maxFileAge: Option[String] = None): DataFrame = {
    val reader = spark.readStream.format(classOf[DatastreamFileSource].getName)
    maxFileAge.foreach(a => reader.option("maxFileAge", a))
    modifiedAfter.foreach(t => reader.option("modifiedAfter", t.getTime))
    val listed = reader.load(pathGlob)
    val binary = pathFilter.fold(listed)(listed.filter)
      .select(col("path"), col("content"))
    decodeBinary(spark, binary, schema)
  }

  /** Decode a (path, content) DataFrame (batch or streaming) into rows
    * of `target`. Columns are matched BY NAME: the metadata columns
    * ([[FilePathCol]], [[FileRowCol]]) may sit at any position or be
    * pruned away entirely — absent envelope fields decode as null. */
  def decodeBinary(spark: SparkSession, binary: DataFrame,
      target: StructType): DataFrame = {
    val enc = Encoders.row(target)
    binary.mapPartitions { it: Iterator[Row] =>
      it.flatMap { r =>
        val path = r.getString(0)
        val content = r.getAs[Array[Byte]](1)
        decodeFile(content, path, target)
      }
    }(enc)
  }

  /** Decode one file by path (any Hadoop-visible filesystem) under
    * `target`; executor-side entry point for the DSv2 source. */
  def decodeLocalFile(path: String, target: StructType): Iterator[Row] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    val bytes =
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    decodeFile(bytes, path, target)
  }

  /** Decode records under `target`; the [[FilePathCol]] column (any
    * position, or absent when pruned away) is filled from `path`,
    * every other column from the record — so column pruning simply
    * shrinks `target` and unread envelope fields are never converted. */
  private def decodeFile(content: Array[Byte], path: String,
      target: StructType): Iterator[Row] = {
    val in = new ByteArrayInputStream(content)
    val reader = new DataFileStream[GenericRecord](
      in, new GenericDatumReader[GenericRecord]())
    val writer = reader.getSchema
    val fields = target.fields
    val fieldSchemas = fields.map(f =>
      if (f.name == FilePathCol || f.name == FileRowCol) null
      else Option(writer.getField(f.name)).map(_.schema()).orNull)
    val records = new Iterator[GenericRecord] {
      def hasNext: Boolean = { val h = reader.hasNext; if (!h) reader.close(); h }
      def next(): GenericRecord = reader.next()
    }
    var rowIdx = -1L
    records.map { rec =>
      rowIdx += 1
      val vals = new Array[Any](fields.length)
      var i = 0
      while (i < fields.length) {
        vals(i) =
          if (fields(i).name == FilePathCol) path
          else if (fields(i).name == FileRowCol) rowIdx
          else if (fieldSchemas(i) == null) null
          else convert(rec.get(fields(i).name), fieldSchemas(i),
            fields(i).dataType)
        i += 1
      }
      Row.fromSeq(vals.toIndexedSeq)
    }
  }

  /** Pick the union branch describing `v` (2-branch null unions). */
  private def unwrapUnion(s: AvroSchema, v: Any): AvroSchema =
    if (s.getType != AvroSchema.Type.UNION) s
    else {
      val nonNull = s.getTypes.asScala.filter(_.getType != AvroSchema.Type.NULL)
      if (nonNull.size == 1) nonNull.head
      else s // heterogeneous union: callers fall back to toString
    }

  /** Avro runtime value → Spark external value under the target type,
    * guided by the writer-side avro schema (needed to recover logical
    * types — DataFileStream returns raw longs/bytes). */
  private def convert(v: Any, avro0: AvroSchema, dt: DataType): Any = {
    if (v == null) return null
    val avro = unwrapUnion(avro0, v)
    (v, dt) match {
      case (r: GenericRecord, st: StructType) =>
        Row.fromSeq(st.fields.map { f =>
          val af = Option(avro.getField(f.name))
          af.map(x => convert(r.get(f.name), x.schema(), f.dataType)).orNull
        }.toIndexedSeq)
      case (x, StringType) => x.toString // Utf8, enum, hetero-union values
      case (x: java.lang.Long, TimestampType) =>
        // Row encoders expect java.sql externals by default
        java.sql.Timestamp.from(avro.getLogicalType match {
          case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis =>
            Instant.ofEpochMilli(x)
          case _ => microsToInstant(x)
        })
      case (x: java.lang.Integer, DateType) =>
        java.sql.Date.valueOf(LocalDate.ofEpochDay(x.toLong))
      case (x: java.lang.Integer, IntegerType) => x
      case (x: java.lang.Long, LongType) => x
      case (x: java.lang.Integer, LongType) => x.toLong
      case (x: java.lang.Float, FloatType) => x
      case (x: java.lang.Double, DoubleType) => x
      case (x: java.lang.Boolean, BooleanType) => x
      case (x: ByteBuffer, BinaryType) => byteBufferToArray(x)
      case (x: GenericFixed, BinaryType) => x.bytes().clone()
      case (x: ByteBuffer, d: DecimalType) =>
        new JBigDecimal(new BigInteger(byteBufferToArray(x)), d.scale)
      case (x: GenericFixed, d: DecimalType) =>
        new JBigDecimal(new BigInteger(x.bytes()), d.scale)
      case (x: java.util.Map[_, _], MapType(_, vt, _)) =>
        val vs = avro.getValueType
        x.asScala.map { case (k, value) => k.toString -> convert(value, vs, vt) }.toMap
      case (x: java.util.Collection[_], ArrayType(et, _)) =>
        val es = avro.getElementType
        x.asScala.map(convert(_, es, et)).toSeq
      case (x, _) => x
    }
  }

  private def byteBufferToArray(b: ByteBuffer): Array[Byte] = {
    val dup = b.duplicate()
    val arr = new Array[Byte](dup.remaining())
    dup.get(arr)
    arr
  }

  private def microsToInstant(us: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)
}
