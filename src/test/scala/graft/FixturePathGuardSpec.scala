package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DatastreamFixtures

/** The golden Datastream fixtures have one home: `DatastreamFixtures.dir`
  * (the reference checkout's real files where they exist, else the
  * generated set). A spec or query that spells out the reference
  * checkout's location again fails on every machine without that
  * checkout — 55 tests did, once — so this guard fails when the
  * location appears anywhere under `src/` but the one constant. */
class FixturePathGuardSpec extends AnyFunSuite {

  private val home = "DatastreamFixtures.scala"

  test("the reference fixture location is spelled out only in DatastreamFixtures") {
    val resources = Paths.get(DatastreamFixtures.referenceDir)
    // the checkout dir as it resolves here, and the in-checkout folder
    // (which any relative spelling of the location also contains)
    val checkout = resources.getParent.getParent.getParent.toString
    val folder = resources.subpath(resources.getNameCount - 4,
      resources.getNameCount).toString
    val sources: Seq[Path] = {
      val s = Files.walk(Paths.get("src"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
      finally s.close()
    }
    val hits = sources.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .filter { case (l, _) => l.contains(checkout) || l.contains(folder) }
        .map { case (l, i) => (f.getFileName.toString, s"$f:${i + 1}: ${l.trim}") }
    }
    assert(hits.count(_._1 == home) == 1,
      s"expected the one location constant in $home — wrong source root? $hits")
    val offending = hits.filterNot(_._1 == home).map(_._2)
    if (offending.nonEmpty)
      fail(s"${offending.size} lines name the reference fixture location " +
        "(read graft.sources.DatastreamFixtures.dir instead):\n" +
        offending.mkString("\n"))
  }
}
