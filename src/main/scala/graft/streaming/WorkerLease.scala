package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.util.Fs

/** Multi-worker coordination: a TTL lease with monotone fencing
  * tokens, built on the one primitive every storage system the
  * pipeline runs against provides — atomic create-if-absent (a hard
  * link here, `graft.util.Fs.createExclusive`; `ifGenerationMatch(0)`
  * preconditions on object storage; `INSERT .. ON CONFLICT DO
  * NOTHING` on a DB).
  *
  * The reference coordinates its workers with exactly this shape,
  * just implicitly: `createBucketIfNotExisting` races resolve by
  * treating AlreadyExists as success, and the returned created-flag
  * (`DatastreamDeltaSource.java:159-160`, `BUCKET_CREATED_BY_CDF`)
  * elects the ONE worker that runs the shared-bucket TTL task
  * (`DatastreamEventReader.java:171-173`). That election has no
  * failover — if the creator dies, nobody stamps TTLs until a user
  * restart. A TTL lease is the same single-owner contract with
  * failover added, and the fencing token closes the classic lease
  * hazard (a paused-then-revived old owner acting on stale
  * authority): every generation is a NEW atomically-created file, so
  * fences are strictly monotone and a superseded holder's renew
  * fails deterministically.
  *
  * Layout: `dir/lease-<fence>` (16-digit zero-padded), content
  * `owner TAB expiresAtMillis`. The current lease is the highest
  * fence present. A claim is created with its content in one step
  * and rewritten atomically, so it is never seen empty; an empty or
  * torn claim (left by builds that created the file before writing
  * it) counts as held-by-unknown until its mtime + ttl passes — a
  * crash can delay takeover by one TTL, never deadlock it.
  *
  * Renewal contract: `renew(owner, fence)` succeeds iff `fence` is
  * still the HIGHEST generation and the claim is owned by `owner`.
  * Expiry matters only when contested — an uncontested expired
  * holder revives on its next renew (nobody else claimed; no
  * authority was transferred). The inherent lease race — a renew
  * landing while a rival claims the next generation — resolves to
  * the rival (higher fence) on the old holder's NEXT call; the TTL
  * guarantees the rival only claimed after expiry, so a holder that
  * renews within TTL/2 is never usurped while live. Side effects
  * guarded by the lease should carry the fence (see
  * [[graft.cdc.CdcTable]]'s versioned commits for the same
  * monotone-token discipline on the data path).
  */
object WorkerLease {
  /** A lease observation: who, which generation, until when. */
  final case class Lease(owner: String, fence: Long, expiresAt: Long)
}

final class WorkerLease(dir: String, ttlMs: Long,
    clock: () => Long = () => System.currentTimeMillis()) {
  import WorkerLease.Lease

  private val root = Paths.get(dir)
  private def claimPath(fence: Long): Path =
    root.resolve(f"lease-$fence%016d")

  private def parse(p: Path, fence: Long): Lease = {
    val txt =
      try new String(Files.readAllBytes(p)).trim
      catch { case _: java.io.IOException => "" }
    txt.split('\t') match {
      case Array(o, e) if e.forall(_.isDigit) => Lease(o, fence, e.toLong)
      case _ =>
        // empty or torn claim (an earlier build's crashed claimer):
        // held-by-unknown until the claim FILE itself ages past one TTL
        val mtime =
          try Files.getLastModifiedTime(p).toMillis
          catch { case _: java.io.IOException => clock() }
        Lease("", fence, mtime + ttlMs)
    }
  }

  /** The current (highest-fence) lease, if any generation exists. */
  def holder(): Option[Lease] = {
    if (!Files.isDirectory(root)) return None
    val fences = Fs.withListing(root)(_
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("lease-") =>
        n.stripPrefix("lease-").toLong }
      .toSeq)
    fences.sorted.reverseIterator
      .flatMap { f =>
        val p = claimPath(f)
        // a sub-max claim can be pruned between list and read; the
        // max itself is never pruned — skip vanished entries
        if (Files.exists(p)) Some(parse(p, f)) else None
      }
      .nextOption()
  }

  /** Try to become (or remain) the holder. Returns the fencing token
    * on success. Idempotent for the current owner — a repeat call
    * extends the expiry in place, so a periodic task can simply call
    * this every cycle (acquire-or-renew). */
  def tryAcquire(owner: String): Option[Long] = {
    Files.createDirectories(root)
    val now = clock()
    holder() match {
      case Some(l) if l.owner == owner && renew(owner, l.fence) =>
        Some(l.fence)
      case Some(l) if l.expiresAt > now => None // live rival
      case cur =>
        val next = cur.map(_.fence + 1).getOrElse(1L)
        // the atomic race — one winner, visible only with its content
        if (!Fs.createExclusive(claimPath(next),
            s"$owner\t${now + ttlMs}".getBytes)) return None
        prune(next)
        Some(next)
    }
  }

  /** Extend the lease. False means superseded (a higher fence exists)
    * or not ours — the caller MUST stop performing guarded work. */
  def renew(owner: String, fence: Long): Boolean =
    rewrite(owner, fence, clock() + ttlMs)

  /** Give up the lease (expire it now): the next tryAcquire wins
    * immediately instead of waiting out the TTL. */
  def release(owner: String, fence: Long): Boolean =
    rewrite(owner, fence, 0L)

  /** Replace our own claim's expiry. Single legitimate writer per
    * generation, so a plain atomic replace is safe. */
  private def rewrite(owner: String, fence: Long, expiresAt: Long): Boolean =
    holder().exists(l => l.fence == fence && l.owner == owner) &&
      (try {
        Fs.writeAtomic(claimPath(fence), s"$owner\t$expiresAt".getBytes)
        true
      } catch { case _: java.io.IOException => false })

  /** Acquire-or-renew, then run `f` only while holding — the
    * reference's created-flag gate around SetTTLTask, with failover.
    * Returns None when another live worker owns the window. */
  def runIfHolder[A](owner: String)(f: => A): Option[A] =
    tryAcquire(owner).map(_ => f)

  /** Old generations are history, not authority: keep a short audit
    * tail, delete the rest. Never touches the current fence. */
  private def prune(current: Long): Unit = {
    val keepFrom = current - 4
    Fs.withListing(root)(_
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("lease-") && n.stripPrefix("lease-").toLong < keepFrom
      }
      .foreach(p => try Files.deleteIfExists(p) catch {
        case _: java.io.IOException => ()
      }))
  }
}
