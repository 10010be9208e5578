package graft.sources

import java.io.FileNotFoundException
import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.streaming.runtime.{FileStreamOptions, FileStreamSourceLog, FileStreamSourceOffset, SerializedOffset}
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource.{FileEntry, SeenFilesMap}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Micro-batch stream source over a glob of Datastream files, emitting
  * `binaryFile`'s row shape (`path`, `modificationTime`, `length`,
  * `content`), one row per file:
  *
  * {{{
  *   spark.readStream.format("graft.sources.DatastreamFileSource")
  *     .load("/bucket/prefix/&#42;/&#42;/&#42;/&#42;/&#42;/&#42;/&#42;.avro")
  * }}}
  *
  * Each trigger lists the whole glob on the driver through the Hadoop
  * `FileSystem` API (`globStatus`, then matched directories
  * recursively), so `gs://` and `hdfs://` work and no Spark job is
  * started to list. A file that lands in any folder, however old, is
  * planned on the next trigger.
  *
  * Bookkeeping is Spark's file stream source's, unchanged: each batch's
  * files are appended to a `FileStreamSourceLog` at
  * `<checkpoint>/sources/<n>` (entries `path`, `timestamp`, `batchId`,
  * compacted by Spark), offsets are `{"logOffset":N}`, and seen files
  * are a `SeenFilesMap` bounded by the `maxFileAge` option (default 7
  * days), rebuilt from the log on restart. A checkpoint of Spark's
  * `binaryFile` stream source over the same glob resumes here. A
  * batch's files are packed into tasks as Spark's file scans pack them
  * (`FilePartition.getFilePartitions`: `maxPartitionBytes`,
  * `openCostInBytes`). */
class DatastreamFileSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DatastreamFileSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val glob = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "DatastreamFileSource requires .load(pathGlob)"))
    val maxFileAgeMs = new FileStreamOptions(properties.asScala.toMap).maxFileAgeMs
    new DatastreamFileTable(glob, maxFileAgeMs)
  }
}

object DatastreamFileSource {

  /** `binaryFile`'s columns. */
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Names Spark's file index skips when listing. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The files `glob` matches, as Spark's file stream source lists them:
    * a matched directory contributes its files recursively, hidden
    * names are skipped, and each path is spelled as the file system's
    * own listing spells it. (`globStatus` spells a local file `file:/x`
    * where `listStatus`, and so Spark's file index, spells it
    * `file:///x`; the seen-files map and the log compare spellings.) */
  private[graft] def listGlob(fs: FileSystem, glob: Path): Seq[FileStatus] = {
    def ls(dir: Path): Seq[FileStatus] =
      try fs.listStatus(dir).toSeq
      catch { case _: FileNotFoundException => Nil }
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        ls(st.getPath).filterNot(s => hidden(s.getPath.getName)).flatMap(leaves)
      else Seq(st)
    Option(fs.globStatus(fs.makeQualified(glob))).toSeq.flatten
      .filterNot(s => hidden(s.getPath.getName)).flatMap(leaves)
      .map { s =>
        s.setPath(fs.makeQualified(Path.getPathWithoutSchemeAndAuthority(s.getPath)))
        s
      }
      .distinctBy(_.getPath)
  }
}

private[sources] class DatastreamFileTable(glob: String, maxFileAgeMs: Long)
    extends Table with SupportsRead {

  override def name(): String = s"datastream-files($glob)"
  override def schema(): StructType = DatastreamFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = DatastreamFileSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new DatastreamFileStream(SparkSession.active, glob, checkpointLocation,
          maxFileAgeMs)
    }
}

/** The stream behind [[DatastreamFileSource]]: `FileStreamSource`'s
  * offset and log contract over a driver-side listing. */
private[graft] class DatastreamFileStream(spark: SparkSession, glob: String,
    metadataPath: String, maxFileAgeMs: Long)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val pattern = new Path(glob)
  private val fs = pattern.getFileSystem(hadoopConf)
  private val conf = spark.sparkContext.broadcast(
    new SerializableConfiguration(hadoopConf))
  private val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION,
    spark, metadataPath)
  private var logOffset = log.getLatestBatchId().getOrElse(-1L)
  private val seen = new SeenFilesMap(maxFileAgeMs, false)
  log.restore().foreach(e => seen.add(e.sparkPath, e.timestamp))
  seen.purge()
  // AvailableNow runs against the file set listed at prepare
  private var pinned: Option[Seq[FileStatus]] = None
  // file lengths from the listing, by log batch until it commits, so
  // planning packs a batch without a stat per file
  private val lengths = mutable.Map.empty[Long, Map[String, Long]]

  override def initialOffset(): Offset = FileStreamSourceOffset(-1L)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(DatastreamFileSource.listGlob(fs, pattern))

  /** New files (not seen, not older than `maxFileAge` behind the newest
    * seen) become the next log batch, oldest first. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val fresh = pinned.getOrElse(DatastreamFileSource.listGlob(fs, pattern))
      .sortBy(_.getModificationTime)
      .map(s => (SparkPath.fromFileStatus(s), s.getModificationTime, s.getLen))
      .filter { case (p, ts, _) => seen.isNewFile(p, ts) }
    fresh.foreach { case (p, ts, _) => seen.add(p, ts) }
    seen.purge()
    if (fresh.nonEmpty) {
      logOffset += 1
      val entries = fresh.map { case (p, ts, _) =>
        FileEntry(path = p.urlEncoded, timestamp = ts, batchId = logOffset)
      }.toArray
      if (!log.add(logOffset, entries))
        throw new IllegalStateException("Concurrent update to the log. " +
          s"Multiple streaming jobs detected for $logOffset")
      lengths(logOffset) = fresh.map { case (p, _, len) => p.urlEncoded -> len }.toMap
    }
    FileStreamSourceOffset(logOffset)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is the entry point")

  /** The batches' files, largest first, packed into tasks by Spark's
    * file-scan rule. A batch logged before this stream started (a
    * restart) has its lengths read from the file system. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileStreamSourceOffset].logOffset
    val e = end.asInstanceOf[FileStreamSourceOffset].logOffset
    if (e <= s) return Array.empty
    val files = log.get(Some(s + 1), Some(e)).toSeq.flatMap { case (batch, entries) =>
      val known = lengths.getOrElse(batch, Map.empty[String, Long])
      entries.toSeq.map { f =>
        val path = SparkPath.fromUrlString(f.path)
        val len = known.getOrElse(f.path,
          path.toPath.getFileSystem(hadoopConf).getFileStatus(path.toPath).getLen)
        PartitionedFile(InternalRow.empty, path, 0L, len,
          modificationTime = f.timestamp, fileSize = len)
      }
    }
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark, files.map(_.length + openCost).sum)
    FilePartition.getFilePartitions(spark, files.sortBy(-_.length), maxSplit).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DatastreamFileReaderFactory(conf)

  override def deserializeOffset(json: String): Offset =
    FileStreamSourceOffset(SerializedOffset(json))

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[FileStreamSourceOffset].logOffset
    lengths.filterInPlace { case (batch, _) => batch > e }
  }

  override def stop(): Unit = conf.destroy()
  override def toString: String = s"DatastreamFileStream[$glob]"
}

/** Reads a [[FilePartition]]'s files whole, one row each; `length` is
  * the number of bytes read. */
private[sources] class DatastreamFileReaderFactory(
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[FilePartition].files.iterator
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = files.hasNext && {
        val f = files.next()
        val path = f.toPath
        val in = path.getFileSystem(conf.value.value).open(path)
        val content = try in.readAllBytes() finally in.close()
        row = InternalRow(UTF8String.fromString(path.toString),
          DateTimeUtils.millisToMicros(f.modificationTime), content.length.toLong,
          content)
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
