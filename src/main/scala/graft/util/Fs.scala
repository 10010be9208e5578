package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, FileSystemException, Files, Path,
  StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The driver-side commit protocol on a local filesystem, in one place.
  * Every versioned table, lease, watermark and sidecar in `cdc/` and
  * `streaming/` goes through these primitives instead of re-deriving
  * the write-tmp / move / hard-link steps per class:
  *
  *  - [[writeAtomic]]: readers see the old bytes or the new, never a
  *    torn file (tmp + `rename(2)` with replace);
  *  - [[createExclusive]]: a create-if-absent whose winner is visible
  *    only with its full content (tmp + hard link, the version CAS);
  *  - [[publishDir]]: move a staged dir under a final name that must
  *    not exist yet (bucket and segment publish);
  *  - [[appendLines]] / [[readLines]]: the append-only JSONL sidecars;
  *  - the sweep helpers ([[newestMtime]], [[sizeOf]],
  *    [[deleteRecursively]]), whose one subtle invariant — the age gate
  *    tracks the NEWEST mtime anywhere under a dir, and a vanished
  *    entry means ACTIVITY — lives here too.
  *
  * Every tmp is named `.<name>.tmp-<nonce>`: racing writers never share
  * a tmp (a shared tmp let a CAS winner publish the loser's bytes), and
  * the leading dot keeps in-flight or orphaned tmps out of every
  * listing filter (`lease-`, `commit-`, `_filestats-`, `b<b>-v<v>`,
  * `_staging-`). Durability scope: atomic against PROCESS failure; no
  * fsync, so an OS crash can persist a rename or link before the
  * bytes (`DurableMart` is the one caller that syncs). */
private[graft] object Fs {

  private def tmpFor(p: Path): Path =
    p.resolveSibling(
      s".${p.getFileName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Replace `p` with `bytes` in one atomic step. */
  def writeAtomic(p: Path, bytes: Array[Byte]): Unit = {
    val tmp = tmpFor(p)
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: java.io.IOException => Files.deleteIfExists(tmp); throw e
    }
    ()
  }

  /** Create `p` holding `bytes` iff no file of that name exists; false
    * when the name is taken. A rename cannot express this (POSIX
    * rename silently replaces), a hard link can: it is atomically
    * exclusive and publishes the fully written tmp. */
  def createExclusive(p: Path, bytes: Array[Byte]): Boolean = {
    val tmp = tmpFor(p)
    try {
      Files.write(tmp, bytes)
      Files.createLink(p, tmp)
      true
    } catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Move the staged dir to `dest` without replacing anything; false
    * when `dest` is taken. The exists guard matters: Linux maps an
    * atomic move to rename(2), which silently REPLACES an existing
    * EMPTY destination dir — only a non-empty one fails (EEXIST or
    * ENOTEMPTY, surfacing as a FileSystemException). Any other IO
    * failure propagates. */
  def publishDir(staged: Path, dest: Path): Boolean =
    !Files.exists(dest) &&
      (try { Files.move(staged, dest, StandardCopyOption.ATOMIC_MOVE); true }
      catch { case _: FileSystemException if Files.exists(dest) => false })

  /** Append one line per element (newline-terminated), creating `p`. */
  def appendLines(p: Path, lines: Seq[String]): Unit = {
    Files.write(p, lines.map(_ + "\n").mkString.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }

  /** The non-empty lines of `p`; Nil when it does not exist. */
  def readLines(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq
      .filter(_.nonEmpty)

  /** Directory listing with the stream closed (Files.list leaks an
    * open directory fd otherwise — fatal over months of maintenance
    * cycles in a long-lived driver). */
  def withListing[T](p: Path)(f: Iterator[Path] => T): T = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Newest last-modified time anywhere under `p`. A long partitioned
    * parquet write mutates only NESTED entries (`_bucket=N/_temporary`
    * files), so a live writer whose write outlasts a sweep window
    * looks idle at the root — age gates must recurse. A LIVE writer
    * deleting/renaming entries mid-walk surfaces as NoSuchFile/
    * DirectoryIterator/UncheckedIO exceptions; a vanished entry means
    * activity, so the dir reports maximally fresh rather than crashing
    * the sweep or being swept while written. */
  def newestMtime(p: Path): Long =
    try {
      val own = Files.getLastModifiedTime(p).toMillis
      if (!Files.isDirectory(p)) own
      else math.max(own,
        withListing(p)(_.map(newestMtime).foldLeft(0L)(math.max)))
    } catch {
      case _: java.nio.file.NoSuchFileException |
           _: java.nio.file.DirectoryIteratorException |
           _: java.io.UncheckedIOException => Long.MaxValue
    }

  /** Total file bytes under `p` (0 if absent). Same vanished-entry
    * tolerance as [[newestMtime]]: a concurrent delete mid-walk
    * reports what was seen, never crashes a maintenance signal. */
  def sizeOf(p: Path): Long =
    try {
      if (!Files.exists(p)) 0L
      else if (!Files.isDirectory(p)) Files.size(p)
      else withListing(p)(_.map(sizeOf).sum)
    } catch {
      case _: java.nio.file.NoSuchFileException |
           _: java.nio.file.DirectoryIteratorException |
           _: java.io.UncheckedIOException => 0L
    }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      withListing(p)(_.toSeq).foreach(deleteRecursively)
    Files.deleteIfExists(p)
    ()
  }
}
