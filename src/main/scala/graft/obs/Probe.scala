package graft.obs

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The work one tag's actions did: Spark jobs, stages and tasks, job
  * seconds (job end minus job start, summed), executor CPU seconds,
  * shuffle read+write and spill bytes, and for streaming queries the
  * trigger count, `triggerExecution` and `addBatch` seconds and the
  * largest state (rows, memory bytes) any trigger reported. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    jobSec: Double = 0, cpuSec: Double = 0, shuffleBytes: Long = 0,
    spillBytes: Long = 0, triggers: Long = 0, triggerSec: Double = 0,
    addBatchSec: Double = 0, stateRows: Long = 0, stateMemBytes: Long = 0) {
  def json: String =
    f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"job_s":$jobSec%.3f""" +
      f""","cpu_s":$cpuSec%.3f,"shuffle_bytes":$shuffleBytes""" +
      f""","spill_bytes":$spillBytes,"triggers":$triggers""" +
      f""","trigger_s":$triggerSec%.3f,"add_batch_s":$addBatchSec%.3f""" +
      s""","state_rows":$stateRows,"state_mem_bytes":$stateMemBytes}"""
}

/** A per-tag work record of one SparkContext, from a `SparkListener`
  * and a `StreamingQueryListener`. A tag is the [[Probe.TagProp]] local
  * property of the thread that starts a job, so [[Probe.tagged]] around
  * an action attributes every job it runs, including the ones its
  * broadcast and subquery threads start (Spark hands local properties
  * to those). A streaming query's thread inherits the property of the
  * thread that started it, and `onQueryStarted` runs synchronously on
  * the query's thread, so the progress events of that run map to the
  * same tag (keyed by run id: a restart from the same checkpoint keeps
  * the query id).
  * Jobs with no tag are summed under [[Probe.Untagged]]: every job is
  * counted somewhere.
  *
  * Listener events arrive asynchronously; read a record after
  * `spark.stop()`, which drains the listener bus. The maps that join
  * events to tags hold only live jobs, stages and queries. */
final class Probe private (spark: SparkSession) {
  import Probe._

  private val work = mutable.HashMap.empty[String, Work]
  private val jobTag = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val queryTag = new ConcurrentHashMap[java.util.UUID, String]()

  private def add(tag: String)(f: Work => Work): Unit =
    synchronized { work(tag) = f(work.getOrElse(tag, Work())) }

  private def tagOf(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(TagProp))).getOrElse(Untagged)

  /** The summed work of one tag; all zero if it ran nothing. */
  def record(tag: String): Work = synchronized(work.getOrElse(tag, Work()))

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobTag.put(e.jobId, (tagOf(e.properties), e.time)); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobTag.remove(e.jobId)).foreach { case (tag, t0) =>
        add(tag)(w => w.copy(jobs = w.jobs + 1,
          jobSec = w.jobSec + (e.time - t0) / 1e3))
      }
    // a retried stage is submitted again, so its tag is put back
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageTag.put(e.stageInfo.stageId, tagOf(e.properties)); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(Option(stageTag.remove(e.stageInfo.stageId)).getOrElse(Untagged))(
        w => w.copy(stages = w.stages + 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        add(Option(stageTag.get(e.stageId)).getOrElse(Untagged))(w => w.copy(
          tasks = w.tasks + 1,
          cpuSec = w.cpuSec + m.executorCpuTime / 1e9,
          shuffleBytes = w.shuffleBytes + m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten,
          spillBytes = w.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  private val triggers = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = {
      queryTag.put(e.runId, Option(spark.sparkContext.getLocalProperty(TagProp))
        .getOrElse(Untagged)); ()
    }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def sec(k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      add(Option(queryTag.get(p.runId)).getOrElse(Untagged))(w => w.copy(
        triggers = w.triggers + 1,
        triggerSec = w.triggerSec + sec("triggerExecution"),
        addBatchSec = w.addBatchSec + sec("addBatch"),
        stateRows = math.max(w.stateRows, p.stateOperators.map(_.numRowsTotal).sum),
        stateMemBytes =
          math.max(w.stateMemBytes, p.stateOperators.map(_.memoryUsedBytes).sum)))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      queryTag.remove(e.runId); ()
    }
  }
}

object Probe {
  val TagProp = "graft.probe.tag"
  val Untagged = "_untagged"

  /** A new probe, listening to `spark`'s context and stream manager. */
  def install(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p.jobs)
    spark.streams.addListener(p.triggers)
    p
  }

  /** Runs `body` with this thread's jobs and streams tagged `tag`. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagProp)
    sc.setLocalProperty(TagProp, tag)
    try body finally sc.setLocalProperty(TagProp, prev)
  }
}
