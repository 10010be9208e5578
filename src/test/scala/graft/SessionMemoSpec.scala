package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcTable
import graft.queries.CdcPipeline
import graft.util.SessionMemo

/** The rules every session-keyed memo shares: built once per key, a
  * failed build leaves no entry, entries of stopped sessions are purged
  * on access, and past the cap a new key is served uncached. This suite
  * stops its own sessions, so it builds them itself, and it stops any
  * session left running first. */
class SessionMemoSpec extends AnyFunSuite {

  private def session(): SparkSession = {
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  test("an access purges the entries of stopped sessions") {
    val memo = new SessionMemo[Int, Int]
    val first = session()
    try {
      assert(memo(first, 1)(10) == 10)
      assert(memo.sessions == Seq(first))
    } finally first.stop()
    val second = session()
    try {
      assert(second ne first)
      assert(memo(second, 1)(20) == 20, "a new session builds its own value")
      assert(memo.sessions == Seq(second))
    } finally second.stop()
  }

  test("past the cap a new key is served uncached, no entry evicted") {
    val spark = session()
    try {
      val memo = new SessionMemo[Int, Int]
      var builds = 0
      def get(k: Int): Int = memo(spark, k) { builds += 1; k }
      (0 to SessionMemo.Max).foreach(get)
      assert(builds == SessionMemo.Max + 1)
      assert(memo.sessions.size == SessionMemo.Max)
      get(0)
      assert(builds == SessionMemo.Max + 1, "the first entry must still hit")
      get(SessionMemo.Max)
      assert(builds == SessionMemo.Max + 2, "the key past the cap stays uncached")
    } finally spark.stop()
  }

  test("a build may read through a second instance; a failed build " +
      "leaves no entry") {
    val spark = session()
    try {
      val outer = new SessionMemo[Int, Int]
      val inner = new SessionMemo[Int, Int]
      assert(outer(spark, 1)(inner(spark, 1)(20) + 1) == 21)
      assert(outer.sessions == Seq(spark) && inner.sessions == Seq(spark))
      val memo = new SessionMemo[Int, Int]
      intercept[IllegalStateException](
        memo(spark, 1)(throw new IllegalStateException("build failed")))
      assert(memo.sessions.isEmpty)
      assert(memo(spark, 1)(5) == 5)
    } finally spark.stop()
  }

  test("two threads asking for one key share one build") {
    val spark = session()
    try {
      val memo = new SessionMemo[Int, Int]
      val builds = new AtomicInteger()
      val building = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val got = new ConcurrentLinkedQueue[Int]()
      def asker() = new Thread(() => {
        got.add(memo(spark, 1) {
          builds.incrementAndGet(); building.countDown(); release.await(); 7
        }); ()
      })
      val first = asker(); first.start()
      building.await()
      val second = asker(); second.start()
      // the second caller waits on the running build, not beside it
      val deadline = System.currentTimeMillis() + 10000
      while (second.getState != Thread.State.BLOCKED &&
          System.currentTimeMillis() < deadline) Thread.sleep(5)
      assert(second.getState == Thread.State.BLOCKED)
      release.countDown()
      first.join(); second.join()
      assert(builds.get() == 1)
      assert(got.asScala.toSeq == Seq(7, 7))
    } finally spark.stop()
  }

  test("a memoized query reads the same rows in a new session and drops " +
      "the stopped one's entries") {
    def rows(s: SparkSession) =
      CdcPipeline.queries("c02_cdc_final_state")(s, "").collect().toSeq
    val first = session()
    val before = try {
      val r = rows(first)
      assert(CdcPipeline.replays.sessions.contains(first))
      r
    } finally first.stop()
    val second = session()
    try {
      assert(before.nonEmpty && rows(second) == before)
      assert(!CdcPipeline.replays.sessions.exists(_ eq first))
      assert(!CdcTable.relations.sessions.exists(_ eq first))
    } finally second.stop()
  }
}
