package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * on the same base as the times Spark puts in listener events. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Long, parent: Long, op: Long, name: String, module: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Aggregated task metrics of one stage attempt. */
final class StageRec(val stageId: Int, val group: Option[String],
                     val execution: Option[Long], val submitted: Double) {
  var completed: Double = submitted
  var details: String = ""
  var name: String = ""
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inRecords = 0L
  var outBytes = 0L
  var shuffleWrite = 0L
  var spillDisk = 0L
  def wallMs: Double = math.max(0.0, completed - submitted)
}

final case class JobRec(group: Option[String], submitted: Double)

final case class ProgressRec(batchId: Long, triggerStart: Double, durations: Map[String, Long])

/**
 * Outside-in tracer: spans around the benchmark's calls into graft's
 * public entry points, a SparkListener for jobs, stages and tasks, and
 * a StreamingQueryListener for micro-batch phases. Everything stays in
 * memory until [[TraceAnalysis]] reads it at the end of the run.
 *
 * When `enabled` is false spans are not recorded and the listeners
 * drop new jobs and stages, so an untraced phase pays only for a
 * listener call that returns at once.
 */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, op id)

  // keyed by graft job id (the `jobId` of a config) -> benchmark op id
  private val jobIdToOp = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def bindJobId(jobId: String, op: Long): Unit = jobIdToOp.put(jobId, op)
  def groupFor(op: Long): String = s"graftbench-op-$op"

  /** Op id of a Spark job group: the benchmark's own group name, or a
    * JobRunner group `jobName::jobId::seq` whose jobId was bound. */
  def opOfGroup(g: String): Option[Long] =
    if (g.startsWith("graftbench-op-")) Some(g.stripPrefix("graftbench-op-").toLong)
    else g.split("::") match {
      case Array(_, jobId, _*) => Option(jobIdToOp.get(jobId)).map(_.longValue)
      case _ => None
    }

  private def record[T](op: Long, parent: Long, name: String, module: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val saved = current.get
    current.set((id, op))
    val start = Clock.nowMs
    try f
    finally {
      spans.add(Span(id, parent, op, name, module, start, Clock.nowMs))
      current.set(saved)
    }
  }

  /** Root span of one benchmark op. */
  def op[T](opId: Long)(f: => T): T =
    if (enabled) record(opId, 0L, "op", "bench")(f) else f

  /** Child span around one call into graft, inside the current op. */
  def span[T](name: String, module: String)(f: => T): T = {
    val parent = current.get
    if (enabled && parent != null) record(parent._2, parent._1, name, module)(f) else f
  }

  // ---- Spark listener state (written on the listener thread only) ----
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val progress = mutable.ArrayBuffer.empty[ProgressRec]
  // SQL execution id -> call site of the action that started it
  val executionDetails = mutable.Map.empty[Long, String]

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) jobs += JobRec(group(e.properties), e.time.toDouble)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (enabled) {
        val i = e.stageInfo
        val execution = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId, group(e.properties), execution,
          i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if enabled =>
        executionDetails(x.executionId) = x.details
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        s.tasks += 1
        s.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inRecords += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spillDisk += m.diskBytesSpilled
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.completed = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
        s.details = i.details
        s.name = i.name
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        progress += ProgressRec(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }
}
