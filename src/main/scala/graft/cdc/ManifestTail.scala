package graft.cdc

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import graft.util.Fs

/** The version log of a [[CdcTable]] or [[ConsolidatedStore]]: its
  * write half ([[commit]]) and its discovery half ([[latest]]).
  *
  * Discovery works WITHOUT directory listing: manifest versions are
  * dense (`manifest-0.json`, `manifest-1.json`, … —
  * [[CdcTable.currentVersion]] delegates here for exactly that
  * reason), so the newest committed version is found by reading the
  * `_LATEST` pointer and probing forward over its (bounded) crash
  * lag. Cost per call: one small-file read plus O(pointer lag)
  * existence probes — independent of how many commits the table has
  * ever taken. This is the reference's listing lower-bound idea
  * (DatastreamEventReader.java:471-478 derives a GCS listing start
  * path from the checkpointed offset) taken to its limit: a
  * version-numbered log needs no listing at all, only a tail probe —
  * the same shape as Delta Lake's streaming source, which reads its
  * commit log by version number rather than globbing the table
  * directory.
  *
  * `probes` counts filesystem touches (pointer reads + existence
  * checks) so a spec can PROVE discovery cost is tail-sized, not
  * history-sized. */
private[graft] object ManifestTail {

  val probes = new AtomicLong(0)

  /** Newest committed version in `dir`, or -1 if none. `from` is a
    * known-committed lower bound (-1 when unknown); probing starts at
    * max(from, pointer). A missing or corrupt pointer degrades to
    * probing from `from` — never a crash. `fileFor` names the commit
    * file for a version (CdcTable's `manifest-<v>.json` by default;
    * the consolidated store probes its `commit-<v>` files with the
    * same roll-forward discipline). */
  def latest(dir: Path, from: Long,
      fileFor: Long => String = v => s"manifest-$v.json"): Long = {
    val pointerFile = dir.resolve("_LATEST")
    probes.incrementAndGet()
    val pointer =
      if (!Files.exists(pointerFile)) -1L
      else
        try new String(Files.readAllBytes(pointerFile)).trim.toLong
        catch { case _: Exception => -1L }
    var v = math.max(from, pointer)
    // roll forward over the pointer's crash lag (a writer can die
    // between manifest publish and pointer update)
    while ({ probes.incrementAndGet()
             Files.exists(dir.resolve(fileFor(v + 1))) }) v += 1
    v
  }

  /** Commit version `v`: create `fileFor(v)` holding `body` iff no
    * writer has committed `v` yet, then advance the `_LATEST` pointer.
    * Returns false when the version was taken — the caller's conflict.
    * Publishing the version file is the commit point (version numbers
    * are the CAS key); a writer that dies before the pointer update is
    * covered by [[latest]]'s roll-forward. */
  def commit(dir: Path, v: Long, fileFor: Long => String,
      body: String): Boolean =
    Fs.createExclusive(dir.resolve(fileFor(v)), body.getBytes) && {
      Fs.writeAtomic(dir.resolve("_LATEST"), v.toString.getBytes)
      true
    }
}
