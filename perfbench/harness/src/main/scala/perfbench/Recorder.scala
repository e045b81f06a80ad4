package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * the harness records line up with the millisecond epoch times Spark's
  * listener events and planning tracker report.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One interval of work. `parent` is the id of the span that caused it
  * (-1 for an operation root); `op` groups the spans of one operation.
  */
final case class Span(
    id: Int, name: String, layer: String,
    start: Double, end: Double, parent: Int, op: Int)

/** In-memory trace of one run: spans recorded around the harness's calls
  * into each layer, plus the Spark job/stage timeline and each query's
  * planning-tracker phases and rule statistics. Listeners are attached only
  * in a traced run; `on` lets the run alternate traced and untraced
  * segments to measure tracing overhead. Everything is written out once,
  * when the run ends.
  */
final class Recorder {
  @volatile var on = false
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val qes = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart =
    new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]()
  private val maxTaskMs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def newId(): Int = ids.incrementAndGet()

  /** Record a span around `body` when tracing is on. */
  def span[T](name: String, layer: String, parent: Int, op: Int)(body: => T): T =
    if (!on) body
    else {
      val s = Clock.nowMs
      try body
      finally add(name, layer, s, Clock.nowMs, parent, op)
    }

  def add(name: String, layer: String, start: Double, end: Double,
      parent: Int, op: Int, id: Int = newId()): Int = {
    if (on) spans.add(Span(id, name, layer, start, end, parent, op))
    id
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) jobStart.put(e.jobId, (e.time.toDouble, e.stageIds))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, st) =>
        jobs.add(Map("id" -> e.jobId, "start" -> t0, "end" -> e.time.toDouble,
          "stages" -> st))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskInfo != null) {
        val k = s"${e.stageId}.${e.stageAttemptId}"
        maxTaskMs.merge(k, e.taskInfo.duration, (a, b) => math.max(a, b))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) {
        val i = e.stageInfo
        val m = i.taskMetrics
        val k = s"${i.stageId}.${i.attemptNumber()}"
        val base = Map[String, Any](
          "id" -> i.stageId, "attempt" -> i.attemptNumber(),
          "submit" -> i.submissionTime.map(_.toDouble).getOrElse(-1.0),
          "end" -> i.completionTime.map(_.toDouble).getOrElse(-1.0),
          "tasks" -> i.numTasks,
          "max_task_ms" -> Option(maxTaskMs.remove(k)).map(_.longValue).getOrElse(0L))
        stages.add(base ++ (if (m == null) Map.empty else Map(
          "run_ms" -> m.executorRunTime,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_b" -> (m.diskBytesSpilled + m.memoryBytesSpilled),
          "input_b" -> m.inputMetrics.bytesRead,
          "input_rows" -> m.inputMetrics.recordsRead)))
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)
    private def record(func: String, qe: QueryExecution): Unit =
      if (on) {
        val t = qe.tracker
        qes.add(Map(
          "func" -> func,
          "time" -> Clock.nowMs,
          "phases" -> t.phases.map { case (k, p) =>
            k -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble) },
          "rules" -> t.rules.collect {
            case (k, r) if k.startsWith("graft.") =>
              k.stripPrefix("graft.plans.") ->
                Seq(r.totalTimeNs / 1e6, r.numInvocations.toDouble,
                  r.numEffectiveInvocations.toDouble)
          }))
      }
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.map(s => Map(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start" -> s.start,
      "end" -> s.end, "parent" -> s.parent, "op" -> s.op)),
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "qes" -> qes.asScala.toSeq)
}
