package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span's id (0 for a root); every span of one run shares `run`. */
case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work one Spark job did, attributed to a module. */
case class JobRec(id: Int, module: String, span: String, execId: Long, startMs: Long,
    var endMs: Long = -1, var tasks: Int = 0, var runMs: Long = 0,
    var cpuNs: Long = 0, var shuffleBytes: Long = 0, var spillBytes: Long = 0)

/** One streaming trigger, from the query's progress event. */
case class TriggerRec(query: String, batchId: Long, startMs: Long,
    triggerMs: Long, addBatchMs: Long, inputRows: Long)

/** The benchmark's tracer. It times the program from outside only:
  * spans around calls into each module's public functions, a
  * `SparkListener` that attributes every job to a module by the source
  * file of its call site (`collect at CdcTable.scala:263`), and a
  * `StreamingQueryListener` for per-trigger progress. Everything stays
  * in memory until [[spansJson]] is written at the end of the run.
  *
  * With tracing off only the streaming progress listener is installed:
  * the workloads need trigger records for their own bookkeeping. */
final class Tracer(val on: Boolean, val run: String) {

  /** Engine source files → the module they belong to. */
  val Modules: Seq[(String, String)] = Seq(
    "DatastreamAvro.scala" -> "sources.DatastreamAvro",
    "Decode.scala" -> "cdc.Decode",
    "Apply.scala" -> "cdc.Apply",
    "CdcTable.scala" -> "cdc.CdcTable",
    "ConsolidatedStore.scala" -> "cdc.ConsolidatedStore",
    "CdcStream.scala" -> "streaming.CdcStream",
    "CdcRouter.scala" -> "streaming.CdcRouter",
    "CdfFollow.scala" -> "streaming.CdfFollow")

  /** Local property naming the span a job was submitted under. */
  val SpanProp = "perfbench.span"
  private val ShortSite = "callSite.short"
  private val LongSite = "callSite.long"

  private val ids = new AtomicLong(0)
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** A `System.nanoTime` reading as epoch milliseconds. */
  def wallMs(ns: Long): Long = baseMs + (ns - baseNs) / 1000000L
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val triggers = new ConcurrentLinkedQueue[TriggerRec]()

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def spansNamed(n: String): Seq[Span] = allSpans.filter(_.name == n)

  /** Time `f` as a span; with tracing off, just run it. `sc` (when
    * given) tags the jobs `f` submits from this thread with the span. */
  def span[T](name: String, sc: Option[SparkContext] = None)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val stack = current.get
      // a streaming query pins every job of its thread to the call site
      // of `writeStream.start()`; clearing it inside the span lets jobs
      // take their real call site, so they attribute to the module that
      // submits them
      val saved = sc.map(c => Seq(SpanProp, ShortSite, LongSite).map(c.getLocalProperty))
      sc.foreach { c =>
        c.setLocalProperty(SpanProp, name)
        c.setLocalProperty(ShortSite, null)
        c.setLocalProperty(LongSite, null)
      }
      current.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(),
          stack.headOption.getOrElse(0L), run))
        current.set(stack)
        for (c <- sc; vs <- saved)
          Seq(SpanProp, ShortSite, LongSite).zip(vs).foreach { case (k, v) => c.setLocalProperty(k, v) }
      }
    }

  /** The module of a call site: the innermost engine frame of the
    * stage's long-form call site, else the short form's file. */
  def moduleOf(details: String, short: String): String = {
    val frames = (details.linesIterator.toSeq :+ short)
    frames.iterator.flatMap(l => Modules.collectFirst {
      case (file, m) if l.contains(file + ":") => m
    }).nextOption().getOrElse("other")
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val st = e.stageInfos.sortBy(_.stageId)
      val head = st.lastOption
      val module = head.map(s => moduleOf(s.details, s.name)).getOrElse("other")
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).getOrElse("")
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, module, span, exec, e.time))
      st.foreach(s => stageJob.put(s.stageId, e.jobId))
    }
    // a SQL execution's shuffle and broadcast stages run as jobs whose
    // call site is an async helper; they take the module of the action
    // that started the execution
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execModule.put(x.executionId, moduleOf(x.details, x.description))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.endMs = e.time })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        jid <- Option(stageJob.get(e.stageId))
        j <- Option(jobs.get(jid))
        m <- Option(e.taskMetrics)
      } j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      d.get("addBatch").foreach { add =>
        triggers.add(TriggerRec(p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          d.get("triggerExecution").map(_.longValue).getOrElse(0L),
          add.longValue, p.numInputRows))
      }
    }
  }

  /** Register on a (new) session: listeners are per SparkContext. */
  def install(spark: SparkSession): Unit = {
    if (on) spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def jobsIn(pred: JobRec => Boolean): Seq[JobRec] =
    jobs.values.asScala.toSeq.map { j =>
      if (j.module != "other") j
      else j.copy(module = Option(execModule.get(j.execId)).getOrElse("other"))
    }.filter(pred).sortBy(_.startMs)

  /** Spans as JSON lines (written once, at the end of the run). */
  def spansJson: Seq[String] = allSpans.map(s =>
    Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "parent" -> s.parent, "run" -> s.run))

  /** Self time of every span name: its duration minus the part of the
    * interval covered by its child spans, summed over occurrences. */
  def selfTimes: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(c =>
          math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))).sum
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}

/** Minimal JSON rendering for the result lines (no library needed). */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k.toString) + ": " + value(x) }
        .mkString("{", ", ", "}")
    case it: Iterable[_] => it.map(value).mkString("[", ", ", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case x => value(x.toString)
  }
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}
