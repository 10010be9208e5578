package graft.streaming

import java.nio.file.{Files, Paths}

import graft.util.Fs

/** Source-bucket provisioning — the engine analog of the reference's
  * `createBucketIfNotExisting` / `deleteBucket`
  * (util/Utils.java:855-899, TTL const `:113`), the §2.1 lifecycle
  * component previously scoped out. A bucket here is a storage
  * namespace with a recorded purge policy: creation pins the
  * delete-after-`ttlDays`-since-custom-time rule whose EXECUTION is
  * [[ProcessedFiles]]' stamp + sweep pair — together they are both
  * halves of the reference's GCS lifecycle story.
  *
  * Contract mirrored from the reference:
  *  - `createIfNotExisting` returns true iff THIS caller created the
  *    bucket. A racing worker's create surfaces as a CONFLICT, which
  *    is swallowed into `false` — the reference catches the 409
  *    OUTSIDE its retry loop (the loop itself aborts on 409/400
  *    rather than hammering a conflicted create), because in the
  *    multi-worker scenario another instance creating the bucket
  *    first is success, not failure.
  *  - `delete` (and the reads) SHOULD be retried under the standard
  *    policy when the store is remote — transient storage faults are
  *    weather. Neither the trait nor [[LocalDirBucketAdmin]] composes
  *    a retry itself (a local FS has no weather); remote
  *    implementations wrap themselves in [[BucketAdmin.withRetries]],
  *    the same decorator shape as `SourceAdmin.withRetries`, which is
  *    the engine analog of the reference wrapping deleteBucket in
  *    `Failsafe.with(createRetryPolicy())`.
  */
trait BucketAdmin {
  /** Provision `name` with a purge policy; true iff newly created by
    * this call. */
  def createIfNotExisting(name: String, location: String = "",
      ttlDays: Int = BucketAdmin.PurgeTtlDays): Boolean
  def delete(name: String): Unit
  def exists(name: String): Boolean
  /** The recorded purge policy: (location, ttlDays). */
  def policy(name: String): Option[(String, Int)]
}

object BucketAdmin {
  /** The reference's GCS_PURGE_POLICY_TTL_DAYS (util/Utils.java:113). */
  val PurgeTtlDays = 30

  /** Standard-taxonomy retry decorator (transient faults back off
    * under the budget, abort codes fail the op on the first attempt —
    * `graft.util.Retry.controlPlaneCall`). `createIfNotExisting` is
    * retried too: its conflict path is NOT an exception (a racing
    * create resolves to `false` inside the implementation, mirroring
    * the reference catching the 409 OUTSIDE its retry loop), so the
    * retry only ever re-runs weather, never hammers a conflict. */
  def withRetries(underlying: BucketAdmin,
      retryPolicy: graft.util.Retry.Policy = graft.util.Retry.Policy(),
      sleep: Long => Unit = Thread.sleep): BucketAdmin = new BucketAdmin {
    private def cp[T](op: => T): T =
      graft.util.Retry.controlPlaneCall(retryPolicy, sleep)(op)
    override def createIfNotExisting(name: String, location: String,
        ttlDays: Int): Boolean =
      cp(underlying.createIfNotExisting(name, location, ttlDays))
    override def delete(name: String): Unit = cp(underlying.delete(name))
    override def exists(name: String): Boolean = cp(underlying.exists(name))
    override def policy(name: String): Option[(String, Int)] =
      cp(underlying.policy(name))
  }
}

/** Local-directory implementation: a bucket is a directory under
  * `root` holding `_policy.json` (location + ttlDays). Creation
  * atomicity rides on staging the complete bucket and promoting it
  * with one atomic rename — the same single-winner semantics the GCS
  * create has — so two racing workers resolve to exactly one `true`
  * and nobody ever observes a policy-less bucket. */
class LocalDirBucketAdmin(root: String) extends BucketAdmin {

  private def dir(name: String) = Paths.get(root).resolve(name)

  override def createIfNotExisting(name: String, location: String,
      ttlDays: Int): Boolean = {
    require(ttlDays > 0, s"purge TTL must be positive: $ttlDays")
    Files.createDirectories(Paths.get(root))
    // stage the bucket COMPLETE (policy inside), then promote with one
    // atomic rename: the bucket is either absent or fully provisioned
    // — no window where a loser reads an existing bucket with no
    // policy, and no half-created state to mop after a crash (an
    // orphaned .create-* staging dir is inert)
    val tmp = Files.createTempDirectory(Paths.get(root), s".create-$name-")
    val body =
      s"""{"location": "$location", "ttlDays": $ttlDays, """ +
        s""""rule": "delete-${ttlDays}d-since-custom-time"}"""
    Files.write(tmp.resolve("_policy.json"), body.getBytes)
    // false: another worker created it first — success for the
    // pipeline, false for this caller
    Fs.publishDir(tmp, dir(name)) || { Fs.deleteRecursively(tmp); false }
  }

  override def exists(name: String): Boolean = Files.isDirectory(dir(name))

  override def policy(name: String): Option[(String, Int)] = {
    val p = dir(name).resolve("_policy.json")
    if (!Files.exists(p)) None
    else {
      val txt = new String(Files.readAllBytes(p))
      val loc = "\"location\"\\s*:\\s*\"([^\"]*)\"".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      val ttl = "\"ttlDays\"\\s*:\\s*(\\d+)".r
        .findFirstMatchIn(txt).map(_.group(1).toInt).getOrElse(0)
      Some((loc, ttl))
    }
  }

  override def delete(name: String): Unit = Fs.deleteRecursively(dir(name))
}
