package graft.streaming

import java.nio.file.{Files, Paths}

import graft.util.Fs

/** Processed-file TTL marking + age-gated purge — the literal analog
  * of the reference's `SetTTLTask` (DatastreamEventReader.java:213-281)
  * plus the bucket's delete-after-30-days-since-Custom-Time lifecycle
  * rule (util/Utils.java:860-899; TTL const `:113`). The reference
  * stamps `Custom-Time` on every fully-processed blob after offsets
  * commit (batches of 100, every 90 s) and lets storage lifecycle
  * delete them 30 days later; here the stamp is a line in an
  * append-only log (`path TAB epochMillis`) and [[sweep]] is the
  * lifecycle rule made explicit.
  *
  * Marking is IDEMPOTENT, exactly like re-running SetTTLTask: a
  * replayed batch re-appends its files with a newer stamp and the
  * purge honors the NEWEST stamp, so replays only ever extend a
  * file's life. Files never stamped are never swept — an
  * unprocessed blob cannot be reclaimed. The log is bounded by file
  * count (same cardinality class as the file source's own seen-files
  * map) and lives next to the checkpoint.
  */
object ProcessedFiles {

  /** Append stamps for a batch's fully-processed source files. */
  def record(log: String, paths: Seq[String], nowMs: Long): Unit = {
    if (paths.isEmpty) return
    val p = Paths.get(log)
    Option(p.getParent).foreach(d => Files.createDirectories(d))
    Fs.appendLines(p, paths.map(f => s"$f\t$nowMs"))
  }

  /** path → newest stamp (replays only extend life). */
  def stamps(log: String): Map[String, Long] =
    Fs.readLines(Paths.get(log))
      .map { l =>
        val i = l.lastIndexOf('\t')
        (l.substring(0, i), l.substring(i + 1).toLong)
      }
      .groupMapReduce(_._1)(_._2)(math.max)

  /** The 30-day lifecycle rule made explicit: delete source files
    * whose newest processed-stamp is at least `ttlMs` old. Returns
    * the deleted paths. Scheme-agnostic via the Hadoop filesystem
    * (the reference's production layout is object storage). */
  def sweep(log: String, ttlMs: Long, nowMs: Long): Seq[String] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    stamps(log).toSeq
      .collect { case (f, t) if nowMs - t >= ttlMs => f }
      .sorted
      .filter { f =>
        val hp = new org.apache.hadoop.fs.Path(f)
        hp.getFileSystem(conf).delete(hp, false)
      }
  }
}
