package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small helpers shared by the workloads: quantiles, file-system reads
  * of the streaming checkpoint, and machine telemetry. */
object Support {

  /** Quantile by linear interpolation between order statistics (the
    * same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `file:/a/b` and `/a/b` name the same local file. */
  def norm(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  def mtimeMs(p: Path): Long = Files.getLastModifiedTime(p).toMillis

  def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val all = Files.walk(p)
      try all.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      finally all.close()
    }

  /** The file stream source's log in a checkpoint: source file → the
    * batch ids it was planned into (compacted and delta files alike). */
  def sourceBatches(checkpoint: Path): Map[String, Seq[Long]] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    filesUnder(checkpoint.resolve("sources").resolve("0"))
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.flatMap(l =>
        entry.findFirstMatchIn(l).map(m => norm(m.group(1)) -> m.group(2).toLong)))
      .distinct.groupMap(_._1)(_._2)
  }

  /** Batch id → the time its commit-log entry was written. */
  def commitTimes(checkpoint: Path): Map[Long, Long] =
    filesUnder(checkpoint.resolve("commits"))
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(f => f.getFileName.toString.toLong -> mtimeMs(f)).toMap

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  /** load1, and steal and idle shares of CPU time over a short window. */
  def machine(windowMs: Long = 500): Map[String, Double] = {
    def cpu(): Array[Long] =
      Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
    val a = cpu(); Thread.sleep(windowMs); val b = cpu()
    val d = a.indices.map(i => (b(i) - a(i)).toDouble)
    val tot = math.max(1.0, d.take(8).sum)
    val load1 = new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble
    Map("load1" -> load1, "idle_pct" -> 100 * (d(3) + d(4)) / tot,
      "steal_pct" -> (if (d.size > 7) 100 * d(7) / tot else 0.0))
  }

  def session(cores: Int, tracer: Tracer): SparkSession = {
    val spark = graft.GraftSession.build(s"local[$cores]", cores)
    spark.sparkContext.setLogLevel("WARN")
    tracer.install(spark)
    spark
  }
}
