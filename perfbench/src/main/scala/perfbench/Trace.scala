package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Times are epoch microseconds; `op` is the id of the
  * top-level operation the span belongs to (its own id at top level). */
final case class Span(id: Int, name: String, parent: Int, op: Int, depth: Int,
    start: Long, var end: Long = -1L)

final case class JobRec(jobId: Int, group: Option[String], submit: Long, var end: Long,
    stageIds: Seq[Int])
final case class StageRec(stageId: Int, submit: Long)
final case class TaskRec(stageId: Int, launch: Long, finish: Long, runMs: Long, gcMs: Long,
    inputBytes: Long, inputRecords: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class PhaseRec(phase: String, start: Long, end: Long)

/** What one span caused in Spark: its own jobs, their tasks and the
  * Catalyst phases of the queries it ran. */
final class SpanWork {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val stageWaits = ArrayBuffer.empty[Long]
  val phases = ArrayBuffer.empty[PhaseRec]
  def jobIntervals: Seq[(Long, Long)] = jobs.toSeq.map(j => (j.submit, j.end))
  def taskRunUs: Long = tasks.map(_.runMs).sum * 1000L
  def inputBytes: Long = tasks.map(_.inputBytes).sum
  def inputRecords: Long = tasks.map(_.inputRecords).sum
  def gcMs: Long = tasks.map(_.gcMs).sum
  def shuffleBytes: Long = tasks.map(t => t.shuffleWrite).sum
  def spillBytes: Long = tasks.map(_.spill).sum
  def phaseUs(name: String): Long = phases.filter(_.phase == name).map(p => p.end - p.start).sum
}

/** Spans around the benchmark's calls into the engine.
  *
  * Every call is timed. When `traced`, each call also opens a span, sets
  * a Spark job group named after it and a [[SparkListener]] plus a
  * [[QueryExecutionListener]] record jobs, stages, tasks and Catalyst
  * phases, which [[attribute]] assigns to spans once the run is over.
  * Untraced runs register no listener and set no job group. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1

  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val phases = ArrayBuffer.empty[PhaseRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += JobRec(e.jobId, Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))), e.time * 1000L, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.jobId == e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.synchronized {
      e.stageInfo.submissionTime.foreach(t => stages += StageRec(e.stageInfo.stageId, t * 1000L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime * 1000L,
        e.taskInfo.finishTime * 1000L, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += PhaseRec(name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
    }
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Also record the Catalyst phases of queries run in `session`. */
  def watch(session: SparkSession): Unit =
    if (traced && (session ne spark)) session.listenerManager.register(queryListener)

  /** Time `body` as a call named `name`; returns its result and seconds. */
  def call[T](name: String)(body: => T): (T, Double) = {
    val span = open(name)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally close(span)
  }

  private def open(name: String): Option[Span] =
    if (!traced) None
    else {
      val parent = stack.headOption
      val id = nextId
      nextId += 1
      val s = Span(id, name, parent.map(_.id).getOrElse(0),
        parent.map(_.op).getOrElse(id), stack.size, nowUs)
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(groupOf(id), name, interruptOnCancel = false)
      Some(s)
    }

  private def close(span: Option[Span]): Unit = span.foreach { s =>
    s.end = nowUs
    stack = stack.tail
    stack.headOption match {
      case Some(p) => spark.sparkContext.setJobGroup(groupOf(p.id), p.name,
        interruptOnCancel = false)
      case None => spark.sparkContext.clearJobGroup()
    }
  }

  private def groupOf(id: Int): String = s"perfbench-span-$id"

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchShims.drainListeners(spark.sparkContext)

  def detach(): Unit = if (traced) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Assign every recorded job (with its stages and tasks) and every
    * Catalyst phase to a span. A job goes to the span its job group
    * names while that span is open; a job whose group is missing or
    * stale (a pool thread created during an earlier span keeps that
    * span's group) goes to the innermost span open when it was
    * submitted. Phases go to the innermost span open at their start. */
  def attribute(): Map[Int, SpanWork] = {
    drain()
    val byId = spans.map(s => s.id -> s).toMap
    val work = scala.collection.mutable.Map.empty[Int, SpanWork]
    def w(id: Int) = work.getOrElseUpdate(id, new SpanWork)
    val stageSubmit = stages.synchronized(stages.map(s => s.stageId -> s.submit).toMap)
    val stageToSpan = scala.collection.mutable.Map.empty[Int, Int]
    jobs.synchronized(jobs.toList).foreach { j =>
      val byGroup = j.group.filter(_.startsWith("perfbench-span-"))
        .flatMap(g => byId.get(g.stripPrefix("perfbench-span-").toInt))
        .filter(s => j.submit >= s.start - 1000L && j.submit <= s.end + 1000L)
      (byGroup orElse Tracer.innermost(spans.toSeq, j.submit)).foreach { s =>
        if (j.end < 0) j.end = s.end
        w(s.id).jobs += j
        j.stageIds.foreach(st => stageToSpan(st) = s.id)
      }
    }
    tasks.synchronized(tasks.toList).foreach { t =>
      stageToSpan.get(t.stageId).foreach { id =>
        w(id).tasks += t
        stageSubmit.get(t.stageId).foreach(sub => w(id).stageWaits += math.max(0L, t.launch - sub))
      }
    }
    phases.synchronized(phases.toList).foreach { p =>
      Tracer.innermost(spans.toSeq, p.start).foreach(s => w(s.id).phases += p)
    }
    work.toMap
  }

  /** Spans whose interval leaves their parent's (must be none). */
  def nestingViolations: Int = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.count(s => s.parent != 0 && byId.get(s.parent).exists(p =>
      s.start < p.start || s.end > p.end))
  }

  def selfTimeUs(s: Span): Long =
    Stats.selfTime(s.start, s.end, spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq)
}

object Tracer {
  /** The deepest span open at time `t`. Spans come from one caller, so
    * the spans open at any instant form a single chain. */
  def innermost(spans: Seq[Span], t: Long): Option[Span] = {
    val open = spans.filter(s => s.start <= t && (s.end < 0 || t <= s.end))
    if (open.isEmpty) None else Some(open.maxBy(_.depth))
  }
}
