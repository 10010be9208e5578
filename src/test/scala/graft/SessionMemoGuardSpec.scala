package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session-keyed caches have one home: `graft.util.SessionMemo`, which
  * purges stopped sessions and bounds its entries. A hand-rolled
  * concurrent map keyed on a session kept every dead session's frames
  * and routers reachable for the rest of the JVM, so this guard fails
  * when a main source outside `util/SessionMemo.scala` and `obs/`
  * declares a `ConcurrentHashMap` or `TrieMap` that is not on the
  * allow-list below. */
class SessionMemoGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** `<file under graft/>:<val name>` → why it is not a SessionMemo. */
  private val allowed = Map(
    "cdc/CdcTable.scala:manifestCache" ->
      "per table instance; a committed manifest is write-once",
    "cdc/ConsolidatedStore.scala:sortKeyTypeCache" ->
      "per store instance; a published segment is immutable",
    "util/Staging.scala:locks" ->
      "a lock table per staging dir, not a memo",
    "streaming/CdcRouter.scala:stores" ->
      "per router instance: its store registry, not a memo",
    "streaming/CdcRouter.scala:sigDir" ->
      "per router instance: PK signature to store dir")

  private val declared = "ConcurrentHashMap|TrieMap".r
  private val valName = """\bva[lr]\s+(\w+)""".r

  test("concurrent maps in main code are SessionMemo or allow-listed") {
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def rel(f: Path) = root.relativize(f).toString
    val hits = files.sorted
      .filterNot(f => rel(f) == "util/SessionMemo.scala" || rel(f).startsWith("obs/"))
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter { i =>
          val l = lines(i).trim
          declared.findFirstIn(l).isDefined && !l.startsWith("import ") &&
            !l.startsWith("//") && !l.startsWith("*")
        }.map { i =>
          // the val is declared on the map's line or the line above
          val name = Seq(lines(i), if (i > 0) lines(i - 1) else "")
            .flatMap(valName.findFirstMatchIn(_)).headOption
            .fold("?")(_.group(1))
          (s"${rel(f)}:$name", s"${rel(f)}:${i + 1}: ${lines(i).trim}")
        }
      }
    val stale = allowed.keySet -- hits.map(_._1)
    assert(stale.isEmpty,
      s"allow-listed maps no longer declared (drop them from the list): $stale")
    val offending = hits.filterNot(h => allowed.contains(h._1)).map(_._2)
    if (offending.nonEmpty)
      fail(s"${offending.size} concurrent maps outside graft.util.SessionMemo " +
        "(memoize through SessionMemo, or allow-list with a reason):\n" +
        offending.mkString("\n"))
  }
}
