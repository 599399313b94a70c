package e2ebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans for the traced run: (name, start, end, parent, request).
  * Disabled, `span` is a plain call, so untraced runs pay one volatile read. */
object Trace {
  @volatile var on: Boolean = false

  final case class Span(id: Int, parent: Int, name: String, req: String,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[A](name: String, req: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val s = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, req, s, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def ms(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""req":"${s.req}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark listener counts per job, attributed to a request through the
  * `e2ebench.req` local property of the submitting thread (or to a stream
  * through its query id). */
final class JobStats extends SparkListener {
  final class Job(val id: Int, val req: String, val submitMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var firstTaskMs: Long = -1L
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val recordsRead = new java.util.concurrent.atomic.AtomicLong()
    val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong()
    val spillBytes = new java.util.concurrent.atomic.AtomicLong()
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a streaming query's jobs carry its id instead of a request tag
    val req = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobStats.Prop))
        .orElse(Option(p.getProperty("sql.streaming.queryId")))).getOrElse("")
    val j = new Job(e.jobId, req, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      if (j.firstTaskMs < 0) j.firstTaskMs = e.taskInfo.launchTime
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        j.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        j.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  def all: Seq[Job] = jobs.values.asScala.toSeq
  def forReq(req: String): Seq[Job] = all.filter(_.req == req)
  def within(fromMs: Long, toMs: Long): Seq[Job] =
    all.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs)
}

object JobStats {
  val Prop = "e2ebench.req"

  /** Total length of the union of [start, end] job intervals. */
  def unionMs(jobs: Seq[JobStats#Job]): Long = {
    val iv = jobs.filter(_.endMs >= 0).map(j => (j.submitMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }
}

/** Catalyst phase times (analysis, optimization, planning) per executed query. */
final class PlanningStats extends QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[(Long, Double)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events.add((System.currentTimeMillis(),
      qe.tracker.phases.values.map(_.durationMs.toDouble).sum))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def within(fromMs: Long, toMs: Long): Double =
    events.asScala.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2).sum
}

/** `StreamingQueryProgress.durationMs` parts per trigger, by query name. */
final class ProgressStats extends StreamingQueryListener {
  import ProgressStats.Trigger
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    triggers.add(Trigger(Option(p.name).getOrElse(""), p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

object ProgressStats {
  final case class Trigger(name: String, rows: Long, durations: Map[String, Long])
}
