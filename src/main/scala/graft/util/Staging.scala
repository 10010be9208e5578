package graft.util

/** Memoized deterministic fixture staging for the stream gates — the
  * sanctioned fixture-memoization discipline applied to bench
  * economics: a gate's STAGED INPUT (time-sliced corpus copies,
  * sentinel files, a trained model sidecar) is a pure function of the
  * immutable sf-dir corpus, so re-building it on every bench sample
  * re-measures the fixture generator, not the operator. The streaming
  * loop that CONSUMES the staged input — each gate's actual claim —
  * still runs fresh on every call.
  *
  * The `_STAGED_OK` marker is written only after a complete build
  * (`_`-prefixed, so Spark file sources never list it as data); a
  * crashed build leaves no marker and rebuilds from scratch. Builds
  * are serialized per directory for same-JVM safety. */
object Staging {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Content fingerprint of a source table file/dir (name + length +
    * mtime per file): staging keys MUST include this — the driver can
    * regenerate a corpus under the same path between rounds, and a
    * path-only key would silently serve the previous corpus's staged
    * fixture against the new corpus's oracle. */
  def fingerprint(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path)).sortBy(_.getPath)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(",")
  }

  /** `pathKey` identifies the SOURCE (the sf dir) and names the stage
    * dir; `fingerprint` identifies its CONTENT and is validated via a
    * marker file — a regenerated corpus under the same path rebuilds
    * in place (stale bytes never served), while fixtures for OTHER
    * source dirs are untouched (no cross-sf ping-pong, no
    * one-dir-per-generation accumulation). */
  def once(tag: String, pathKey: String, fingerprint: String)
      (build: java.io.File => Unit): java.io.File = {
    val dir = new java.io.File(
      s"target/${tag}_stage_${math.abs(pathKey.hashCode.toLong)}")
    val lock = locks.computeIfAbsent(dir.getPath, _ => new Object)
    lock.synchronized {
      val ok = new java.io.File(dir, "_STAGED_OK")
      val fresh = ok.exists() &&
        new String(java.nio.file.Files.readAllBytes(ok.toPath)) ==
          fingerprint
      if (!fresh) {
        Fs.deleteRecursively(dir.toPath)
        dir.mkdirs()
        build(dir)
        java.nio.file.Files.write(ok.toPath, fingerprint.getBytes)
        ()
      }
      dir
    }
  }
}
