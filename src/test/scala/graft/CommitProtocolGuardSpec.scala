package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Fs

/** The on-disk commit protocol has one home: `graft.util.Fs` (atomic
  * write, exclusive create, dir publish, JSONL append, listing) and
  * `graft.cdc.ManifestTail` (version-log commit). Per-class copies of
  * those steps drift — a fixed tmp name in one copy let a manifest
  * CAS winner publish the loser's bytes — so this guard fails when a
  * raw protocol call reappears in the CDC or streaming sources. */
class CommitProtocolGuardSpec extends AnyFunSuite {

  private val banned =
    Seq("createLink", "ATOMIC_MOVE", "StandardOpenOption.APPEND", "Files.list(")

  // DurableMart can fsync its state file and dir around the rename:
  // the one caller whose write is durability code, kept on purpose
  private val allowed = Set("DurableMart.scala")

  test("raw commit-protocol calls stay in graft.util.Fs (DurableMart excepted)") {
    val hits = Seq("cdc", "streaming").flatMap { pkg =>
      Fs.withListing(Paths.get("src/main/scala/graft", pkg))(_.toSeq)
        .filter(_.getFileName.toString.endsWith(".scala")).sorted
        .flatMap { f =>
          val name = f.getFileName.toString
          Files.readAllLines(f).asScala.zipWithIndex
            .filter { case (l, _) => banned.exists(l.contains) }
            .map { case (l, i) => (name, s"$pkg/$name:${i + 1}: ${l.trim}") }
        }
    }
    assert(hits.exists(h => allowed(h._1)),
      "the scan found no call even in DurableMart — wrong source root?")
    val offending = hits.filterNot(h => allowed(h._1)).map(_._2)
    if (offending.nonEmpty)
      fail(s"${offending.size} raw protocol lines outside graft.util.Fs " +
        "(route them through Fs / ManifestTail.commit):\n" +
        offending.mkString("\n"))
  }
}
