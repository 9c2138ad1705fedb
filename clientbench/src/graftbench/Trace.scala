package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are System.nanoTime. */
final case class Span(id: Long, name: String, layer: String, start: Long,
    end: Long, parent: Long, request: Long) {
  def dur: Long = end - start
}

/** In-memory span store: spans are kept here and written out when the run
  * ends. With `on` false nothing is recorded and `span` only runs the body. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  /** Record a finished interval; returns its id. */
  def add(name: String, layer: String, start: Long, end: Long,
      parent: Long, request: Long): Long = {
    val id = nextId()
    if (on) spans.add(Span(id, name, layer, start, end, parent, request))
    id
  }

  /** Time `body` as a span; the body receives the span's id so it can
    * parent nested spans. */
  def span[T](name: String, layer: String, parent: Long, request: Long)(
      body: Long => T): T = {
    val id = nextId()
    val t0 = System.nanoTime()
    try body(id)
    finally if (on) spans.add(Span(id, name, layer, t0, System.nanoTime(), parent, request))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"request":${s.request}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Length of the part of [start, end) covered by the union of `parts`. */
  def covered(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = start
    parts.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) {
          total += b - math.max(a, reach)
          reach = b
        }
      }
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(s.start, s.end, c))
    }.toMap
  }
}

/** Scheduler events the benchmark keeps from its listener. Times are
  * System.nanoTime, converted from the listener's epoch milliseconds. */
final case class JobRec(id: Int, group: String, submit: Long, var end: Long,
    stages: Seq[Int], firstStage: String)
final case class TaskRec(stage: Int, launch: Long, finish: Long, busyMs: Long,
    shuffleBytes: Long, spillBytes: Long, resultBytes: Long, inputBytes: Long)

/** SparkListener the benchmark registers on the shared SparkContext: job,
  * stage and task counts and task metrics, kept in memory. */
final class SchedulerProbe extends SparkListener {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def toNanos(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val first = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, group, toNanos(e.time), 0L, e.stageIds, first))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = toNanos(e.time))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null && m != null)
      tasks.add(TaskRec(e.stageId, toNanos(i.launchTime), toNanos(i.finishTime),
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize,
        m.inputMetrics.bytesRead))
  }

  /** Jobs submitted inside [start, end], optionally of one job group. */
  def jobsIn(start: Long, end: Long, group: Option[String] = None): Seq[JobRec] =
    jobs.values.asScala.toSeq.filter(j => j.submit >= start - 1000000L &&
      j.submit <= end + 1000000L && group.forall(_ == j.group))

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val st = js.flatMap(_.stages).toSet
    tasks.asScala.toSeq.filter(t => st(t.stage))
  }
}
