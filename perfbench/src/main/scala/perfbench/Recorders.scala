package perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap}

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same clock
  * Spark stamps its listener events with (`System.currentTimeMillis`). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval at a layer boundary. `parent` is the enclosing span's
  * id (-1 at the root); `op` is the operation sequence number (-1 outside
  * operations, e.g. set-up). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double, op: Int)

/** In-memory span recorder around calls the harness makes into a layer. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  var enabled = false

  def span[T](layer: String, name: String, op: Int)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = Clock.nowMs
      try f
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, layer, name, t0, Clock.nowMs, op)
      }
    }
}

final class JobRec(val id: Int, val group: String, val start: Double,
    val stages: Seq[Int]) {
  var end: Double = start
  var ok = true
}

/** Per-stage aggregate of its task-end events. */
final class StageRec(val id: Int) {
  var submit = Double.NaN
  var end = Double.NaN
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var inBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val durations = ArrayBuffer[Long]()
}

/** Jobs, stages and task metrics, aggregated as events arrive. */
final class SparkRecorder extends SparkListener {
  val jobs = HashMap[Int, JobRec]()
  val stages = HashMap[Int, StageRec]()

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, group, e.time.toDouble, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId).submit =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()).toDouble

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => s.submit = t.toDouble)
    s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val info = e.taskInfo
    s.tasks += 1
    if (!info.successful) s.failedTasks += 1
    s.durations += info.duration
    if (!s.submit.isNaN) s.waitMs += math.max(0L, info.launchTime - s.submit.toLong)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Catalyst phase times of every query execution that completed. */
final class PlanRecorder extends QueryExecutionListener {
  /** (analysis start, analysis ms, optimization ms, planning ms) */
  val phases = ArrayBuffer[(Double, Double, Double, Double)]()

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    val start = p.get("analysis").orElse(p.values.headOption)
      .map(_.startTimeMs.toDouble).getOrElse(Clock.nowMs)
    phases += ((start, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Micro-batch progress of every streaming query: (batch start, trigger ms). */
final class StreamRecorder extends StreamingQueryListener {
  val batches = ArrayBuffer[(Double, Double)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
    batches += ((start, ms))
  }
}

/** Counts DAGScheduler "Failed to update accumulator" errors (timestamps). */
final class AccumulatorErrors
    extends AbstractAppender("perfbench-acc", null, null, true, Property.EMPTY_ARRAY) {
  val times = ArrayBuffer[Double]()
  override def append(e: LogEvent): Unit =
    if (e.getLoggerName.endsWith("DAGScheduler") &&
        e.getMessage.getFormattedMessage.contains("Failed to update accumulator"))
      synchronized { times += e.getTimeMillis.toDouble }
}

object AccumulatorErrors {
  def install(): AccumulatorErrors = {
    val a = new AccumulatorErrors
    a.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(
      a, org.apache.logging.log4j.Level.ERROR, null)
    ctx.updateLoggers()
    a
  }
}
