package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DatastreamFileSource, DatastreamFileStream}

/** The driver-side Datastream file source: no Spark job on a trigger, a
  * late file in any folder found on the next trigger, each file planned
  * exactly once across restarts and across a switch from Spark's
  * `binaryFile` source, and a batch packed into tasks and read as
  * `binaryFile` reads it. Temp trees of tiny files; nothing here
  * decodes Avro. */
class DatastreamFileSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Format = classOf[DatastreamFileSource].getName

  private def tempDir(prefix: String): Path =
    Files.createTempDirectory(Paths.get("target"), prefix).toAbsolutePath

  /** Files under `<root>/<table>/yyyy/MM/dd/HH/mm/`, Datastream's layout. */
  private def glob(root: Path): String = s"$root/*/*/*/*/*/*/*.avro"

  private def put(root: Path, table: String, minute: String, name: String): Unit = {
    val d = root.resolve(table).resolve(minute)
    Files.createDirectories(d)
    Files.write(d.resolve(name), name.getBytes)
    ()
  }

  private def name(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** The file log: file name → the log batches it was planned in. */
  private def logged(ckpt: Path): Map[String, Seq[Long]] = {
    val log = new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark,
      ckpt.resolve("sources").resolve("0").toString)
    log.get(None, None).toSeq.flatMap(_._2).map(e => name(e.path) -> e.batchId)
      .groupMap(_._1)(_._2)
  }

  /** Drives the stream the way micro-batch execution does. */
  private class Driver(root: Path, meta: Path) {
    val stream = new DatastreamFileStream(spark, glob(root), meta.toString,
      7L * 24 * 3600 * 1000)
    private var at: Offset = stream.initialOffset()
    /** One trigger: the names newly planned. */
    def trigger(): Seq[String] = {
      val end = stream.latestOffset(at, ReadLimit.allAvailable())
      val files = stream.planInputPartitions(at, end).toSeq
        .flatMap(_.asInstanceOf[FilePartition].files.map(f => name(f.filePath.toString)))
      stream.commit(end)
      at = end
      files
    }
  }

  test("an empty trigger over a tree of more than 32 files starts no Spark job") {
    val root = tempDir("dfs-idle")
    for (t <- 0 until 4; m <- 0 until 10)
      put(root, f"T$t", f"2026/10/19/10/$m%02d", s"f$t-$m.avro")
    val ckpt = tempDir("dfs-idle-ckpt")
    // every idle trigger reports progress, so the test can see them run
    spark.conf.set("spark.sql.streaming.noDataProgressEventInterval", "0")
    val q = try spark.readStream.format(Format).load(glob(root))
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
      finally spark.conf.unset("spark.sql.streaming.noDataProgressEventInterval")
    val jobs = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e.time); () }
    }
    try {
      q.processAllAvailable()
      assert(logged(ckpt).size == 40)
      val t0 = System.currentTimeMillis()
      spark.sparkContext.addSparkListener(listener)
      def idle = q.recentProgress.count(p => p.numInputRows == 0 &&
        java.time.Instant.parse(p.timestamp).toEpochMilli >= t0)
      val deadline = t0 + 60000
      while (idle < 5 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(idle >= 5)
      assert(jobs.asScala.count(_ >= t0) == 0)
    } finally {
      q.stop(); q.awaitTermination()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a late file in any folder is planned on the next trigger, exactly once") {
    val root = tempDir("dfs-late")
    put(root, "T", "2026/10/19/09/58", "a.avro")
    put(root, "T", "2026/10/19/10/00", "b.avro")
    put(root, "U", "2026/10/19/10/00", "u.avro")
    val d = new Driver(root, tempDir("dfs-late-meta"))
    assert(d.trigger().sorted == Seq("a.avro", "b.avro", "u.avro"))
    assert(d.trigger().isEmpty)
    // behind the newest folder, under the previous hour, a day back,
    // and in a folder that already held a planned file
    put(root, "T", "2026/10/19/09/59", "late.avro")
    put(root, "T", "2026/10/18/23/00", "old.avro")
    put(root, "T", "2026/10/19/10/00", "b2.avro")
    assert(d.trigger().sorted == Seq("b2.avro", "late.avro", "old.avro"))
    // a new day and a new table tree
    put(root, "T", "2026/10/20/00/00", "c.avro")
    put(root, "V", "2026/10/19/08/00", "v1.avro")
    put(root, "V", "2026/10/19/10/01", "v2.avro")
    assert(d.trigger().sorted == Seq("c.avro", "v1.avro", "v2.avro"))
    assert(d.trigger().isEmpty)
    assert(d.trigger().isEmpty)
    d.stream.stop()
  }

  test("a restart, then late files behind the checkpoint's newest folder: " +
      "each file planned exactly once") {
    val root = tempDir("dfs-restart")
    put(root, "T", "2026/10/19/09/58", "a.avro")
    put(root, "T", "2026/10/19/10/00", "b.avro")
    val ckpt = tempDir("dfs-restart-ckpt")
    val seen = new ConcurrentLinkedQueue[String]()
    def run(): Unit = {
      val q = spark.readStream.format(Format).load(glob(root))
        .select("path").writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(name(r.getString(0)))) }
        .start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
    }
    run()
    // after the checkpoint: a late file under the previous hour, and a
    // newer one
    put(root, "T", "2026/10/19/09/59", "late.avro")
    put(root, "T", "2026/10/19/10/01", "c.avro")
    run()
    run()
    assert(seen.asScala.toSeq.sorted == Seq("a.avro", "b.avro", "c.avro", "late.avro"))
    assert(logged(ckpt).values.forall(_.size == 1))
    assert(logged(ckpt).keySet == Set("a.avro", "b.avro", "c.avro", "late.avro"))
  }

  test("a checkpoint of Spark's binaryFile source resumes without " +
      "replanning or skipping a file") {
    val root = tempDir("dfs-compat")
    put(root, "T", "2026/10/19/09/58", "a.avro")
    put(root, "T", "2026/10/19/10/00", "b.avro")
    put(root, "U", "2026/10/19/10/00", "u.avro")
    val ckpt = tempDir("dfs-compat-ckpt")
    val seen = new ConcurrentLinkedQueue[String]()
    def run(format: String): Unit = {
      val reader = spark.readStream.format(format)
      // binaryFile's stream source needs its schema stated
      if (format == "binaryFile") reader.schema(DatastreamFileSource.Schema)
      val q = reader.load(glob(root)).select("path").writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(name(r.getString(0)))) }
        .start()
      q.processAllAvailable(); q.stop(); q.awaitTermination()
    }
    run("binaryFile")
    assert(seen.asScala.toSeq.sorted == Seq("a.avro", "b.avro", "u.avro"))
    put(root, "T", "2026/10/19/09/59", "late.avro")
    put(root, "U", "2026/10/19/10/01", "u2.avro")
    run(Format)
    run(Format)
    assert(seen.asScala.toSeq.sorted ==
      Seq("a.avro", "b.avro", "late.avro", "u.avro", "u2.avro"))
    assert(logged(ckpt).values.forall(_.size == 1))
    assert(logged(ckpt).size == 5)
  }

  test("a batch is packed into tasks and read as binaryFile packs and reads it") {
    val root = tempDir("dfs-pack")
    for (t <- 0 until 4; m <- 0 until 10)
      put(root, f"T$t", f"2026/10/19/10/$m%02d", s"f$t-$m" * (m + 1) + ".avro")
    val meta = tempDir("dfs-pack-meta")
    val d = new Driver(root, meta)
    val end = d.stream.latestOffset(d.stream.initialOffset(), ReadLimit.allAvailable())
    val parts = d.stream.planInputPartitions(d.stream.initialOffset(), end)
      .map(_.asInstanceOf[FilePartition])
    val batch = spark.read.format("binaryFile").load(glob(root))
    // 40 small files on 4 cores: four tasks, not one per file
    assert(parts.length == batch.rdd.getNumPartitions && parts.length < 40)
    assert(parts.flatMap(_.files).length == 40)
    // a stream restarted on the log plans the batch the same way, with
    // the lengths read back from the file system
    val restarted = new DatastreamFileStream(spark, glob(root), meta.toString,
      7L * 24 * 3600 * 1000)
    val again = restarted.planInputPartitions(d.stream.initialOffset(), end)
      .map(_.asInstanceOf[FilePartition])
    restarted.stop(); d.stream.stop()
    assert(again.map(_.files.map(f => (f.filePath, f.length)).toSeq).toSeq ==
      parts.map(_.files.map(f => (f.filePath, f.length)).toSeq).toSeq)
    val ckpt = tempDir("dfs-pack-ckpt")
    val q = spark.readStream.format(Format).load(glob(root)).writeStream
      .format("memory").queryName("dfs_pack")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1).toSeq
    assert(rows(spark.table("dfs_pack")) == rows(batch))
  }

  test("the glob is matched as Spark's file source matches it") {
    val root = tempDir("dfs-glob")
    put(root, "T", "2026/10/19/10/00", "a.avro")
    put(root, "T", "2026/10/19/10/00", "b.json")
    put(root, "T", "2026/10/19/10/00", "_c.avro")
    put(root, "T", "2026/10/19/10/00", ".d.avro")
    put(root, "X", "2026/10/19/10/00", "x.avro")
    val flat = root.resolve("flat")
    Files.createDirectories(flat.resolve("sub"))
    Files.write(flat.resolve("f.avro"), Array[Byte](1))
    Files.write(flat.resolve("sub").resolve("g.avro"), Array[Byte](1))
    def files(g: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(g)
      DatastreamFileSource.listGlob(
        p.getFileSystem(spark.sessionState.newHadoopConf()), p)
        .map(s => name(s.getPath.toString)).sorted
    }
    assert(files(s"$root/{T,U}/*/*/*/*/*/*.avro") == Seq("a.avro"))
    assert(files(glob(root)) == Seq("a.avro", "x.avro"))
    // a matched directory contributes its files recursively
    assert(files(s"$flat") == Seq("f.avro", "g.avro"))
    assert(files(s"$flat/*") == Seq("f.avro", "g.avro"))
    assert(files(s"$flat/*.avro") == Seq("f.avro"))
    assert(files(s"$root/missing/*.avro").isEmpty)
    assert(files(s"$root/missing").isEmpty)
  }
}
