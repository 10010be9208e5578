package graft.util

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A memo of values built per live [[SparkSession]]: the one home of
  * the engine's session-keyed caches (query fixtures, resolved
  * relations).
  *
  * What may be memoized: only deterministic setup, a value that is a
  * pure function of the session and the key, so sharing it cannot
  * change any consumer's rows. The claim a query or test gates always
  * runs fresh, outside the memo.
  *
  * The rules, the same for every instance:
  *  - each key is built once (`computeIfAbsent`): a concurrent caller
  *    of the same key waits for the one build, and a build that throws
  *    leaves no entry, so the next caller builds again;
  *  - every access purges the entries of stopped sessions: they can
  *    never hit again, and their values pin a dead context (plans,
  *    checkpointed frames, routers);
  *  - at most [[SessionMemo.Max]] entries are held: once full, a new
  *    key is built and served uncached, and a live entry is never
  *    evicted. The bound is about key accumulation in long-lived
  *    multi-session JVMs such as the test runner.
  *
  * Use one instance per memo site, never one shared map: builds nest
  * (a fixture build reads relations through another memo), and a
  * `computeIfAbsent` nested in another on the same map breaks that
  * map's contract. */
private[graft] final class SessionMemo[K, V] {
  private val entries = new ConcurrentHashMap[(SparkSession, K), V]()

  def apply(spark: SparkSession, key: K)(build: => V): V = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    val k = (spark, key)
    Option(entries.get(k)).getOrElse(
      if (entries.size >= SessionMemo.Max) build
      else entries.computeIfAbsent(k, _ => build))
  }

  /** The sessions keying the held entries, one per entry. */
  def sessions: Seq[SparkSession] =
    entries.keySet.asScala.toSeq.map(_._1)
}

private[graft] object SessionMemo {
  val Max = 512
}
