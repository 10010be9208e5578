package graft.streaming

import java.nio.file.{Files, Paths}

import graft.util.{Fs, Retry}

/** Thin control-plane adapter for source-stream lifecycle — the
  * engine-side analog of the reference's Datastream CRUD surface
  * (util/Utils.java:548-561 getStream / getStreamUntilStateEquals,
  * plus the create/start/pause/resume/delete flows the plugin drives
  * through `updateStream`): SURVEY §2.1 scopes the real Datastream
  * control plane out but promises this seam, so a managed-service
  * implementation can slot in without touching pipeline call sites.
  *
  * State machine (reference Stream.State subset):
  * CREATED → RUNNING ⇄ PAUSED, any → deleted. Invalid transitions are
  * fatal ([[Retry.FatalPipelineException]] — misconfiguration, don't
  * retry); reads of a stream that is mid-transition surface as
  * [[Retry.RecoverableSourceException]] and [[awaitState]] polls with
  * the standard backoff policy, mirroring getStreamUntilStateEquals.
  */
object SourceAdmin {
  sealed abstract class State(val name: String)
  case object Created extends State("CREATED")
  case object Running extends State("RUNNING")
  case object Paused extends State("PAUSED")

  def parse(s: String): State = s match {
    case "CREATED" => Created
    case "RUNNING" => Running
    case "PAUSED" => Paused
    case other => throw new Retry.FatalPipelineException(
      s"unknown stream state '$other'")
  }

  /** Decorate any [[SourceAdmin]] with the reference's control-plane
    * retry semantics ([[Retry.controlPlaneCall]]): abort codes fail
    * each op on the first attempt, transient faults back off under
    * the standard budget. A gRPC-backed implementation composes this
    * over its raw client instead of re-implementing the taxonomy;
    * pipeline call sites keep the plain trait. */
  def withRetries(underlying: SourceAdmin,
      policy: Retry.Policy = Retry.Policy(),
      sleep: Long => Unit = Thread.sleep): SourceAdmin = new SourceAdmin {
    private def cp[T](op: => T): T = Retry.controlPlaneCall(policy, sleep)(op)
    override def create(id: String, g: String): Unit = cp(underlying.create(id, g))
    override def start(id: String): Unit = cp(underlying.start(id))
    override def pause(id: String): Unit = cp(underlying.pause(id))
    override def resume(id: String): Unit = cp(underlying.resume(id))
    override def delete(id: String): Unit = cp(underlying.delete(id))
    override def exists(id: String): Boolean = cp(underlying.exists(id))
    override def state(id: String): State = cp(underlying.state(id))
    override def sourceGlob(id: String): String = cp(underlying.sourceGlob(id))
  }
}

trait SourceAdmin {
  import SourceAdmin._

  /** Provision a stream over a source location (CREATED). */
  def create(streamId: String, sourceGlob: String): Unit
  def start(streamId: String): Unit
  def pause(streamId: String): Unit
  def resume(streamId: String): Unit
  def delete(streamId: String): Unit
  def exists(streamId: String): Boolean
  def state(streamId: String): State
  /** The stream's source location, as provisioned. */
  def sourceGlob(streamId: String): String

  /** Poll until the stream reaches `target` — the
    * getStreamUntilStateEquals analog; transient read failures retry
    * under the standard backoff budget. */
  def awaitState(streamId: String, target: State,
      sleep: Long => Unit = Thread.sleep): State =
    Retry.withBackoff(sleep = sleep) {
      val s = state(streamId)
      if (s != target) throw new Retry.RecoverableSourceException(
        s"stream $streamId in state ${s.name}, want ${target.name}")
      s
    }
}

/** Local-directory implementation: each stream is a directory holding
  * `source` (the provisioned glob) and `state` (atomically replaced on
  * transition) — the same observable contract a Datastream-backed
  * implementation has. */
class LocalDirSourceAdmin(root: String) extends SourceAdmin {
  import SourceAdmin._

  private def dir(id: String) = Paths.get(root).resolve(id)

  private def write(id: String, file: String, value: String): Unit = {
    Files.createDirectories(dir(id))
    Fs.writeAtomic(dir(id).resolve(file), value.getBytes)
  }

  private def read(id: String, file: String): String = {
    val p = dir(id).resolve(file)
    if (!Files.exists(p)) throw new Retry.FatalPipelineException(
      s"stream $id does not exist")
    new String(Files.readAllBytes(p)).trim
  }

  override def exists(id: String): Boolean =
    Files.exists(dir(id).resolve("state"))

  override def create(id: String, sourceGlob: String): Unit = {
    if (exists(id)) throw new Retry.FatalPipelineException(
      s"stream $id already exists")
    write(id, "source", sourceGlob)
    write(id, "state", Created.name)
  }

  override def state(id: String): State = parse(read(id, "state"))
  override def sourceGlob(id: String): String = read(id, "source")

  private def transition(id: String, from: Set[State], to: State): Unit = {
    val cur = state(id)
    if (!from.contains(cur)) throw new Retry.FatalPipelineException(
      s"stream $id: illegal transition ${cur.name} -> ${to.name}")
    write(id, "state", to.name)
  }

  override def start(id: String): Unit = transition(id, Set(Created), Running)
  override def pause(id: String): Unit = transition(id, Set(Running), Paused)
  override def resume(id: String): Unit = transition(id, Set(Paused), Running)

  override def delete(id: String): Unit = {
    if (!exists(id)) throw new Retry.FatalPipelineException(
      s"stream $id does not exist")
    Fs.deleteRecursively(dir(id))
  }
}
