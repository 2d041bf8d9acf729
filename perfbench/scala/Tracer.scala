package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus Spark's
  * job, stage and planning records, kept in memory and dumped at the
  * end of the run. Times are epoch milliseconds (fractional for the
  * benchmark's own spans). Off, every method is a pass-through: the
  * timed runs record nothing.
  *
  * A span is (id, parent, op, name, start, end); `op` is the id of the
  * operation span it belongs to. Spark jobs carry the operation id as
  * the `perfbench.op` local property, so `metrics.py` ties them to
  * operations.
  */
class Tracer(val on: Boolean) {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var recording = on
  private var spark: SparkSession = _
  private val spans = ArrayBuffer[Map[String, Any]]()
  private var stack: List[(Int, String, Double)] = Nil
  private var nextId = 0
  private var opId = 0
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording)
        jobs.add(Map("id" -> e.jobId, "event" -> "start", "time" -> e.time,
          "op" -> Option(e.properties).map(_.getProperty("perfbench.op")).orNull,
          "stages" -> e.stageIds))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.add(Map("id" -> e.jobId, "event" -> "end", "time" -> e.time))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
          .foreach(stageOp.put(e.stageInfo.stageId, _))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (recording || stageOp.containsKey(si.stageId)) stages.add(Map(
          "id" -> si.stageId, "op" -> stageOp.get(si.stageId),
          "submit" -> si.submissionTime.getOrElse(0L),
          "complete" -> si.completionTime.getOrElse(0L),
          "tasks" -> si.numTasks,
          "task_run_ms" -> m.executorRunTime,
          "task_cpu_ms" -> m.executorCpuTime / 1e6,
          "task_gc_ms" -> m.jvmGCTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "input_records" -> m.inputMetrics.recordsRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "output_bytes" -> m.outputMetrics.bytesWritten))
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      private def rec(qe: QueryExecution): Unit = if (recording) plans.add(
        qe.tracker.phases.map { case (k, v) =>
          k -> Map("start" -> v.startTimeMs, "end" -> v.endTimeMs) })
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
    })
  }

  private def push(name: String): Int = {
    nextId += 1
    stack = (nextId, name, nowMs) :: stack
    nextId
  }

  private def pop(): Unit = {
    val (id, name, start) = stack.head
    stack = stack.tail
    spans += Map("id" -> id, "parent" -> stack.headOption.map(_._1).getOrElse(0),
      "op" -> opId, "name" -> name, "start" -> start, "end" -> nowMs)
  }

  /** Opens the operation span; returns the operation id. */
  def beginOp(name: String): Int = {
    opId += 1
    if (recording) {
      spark.sparkContext.setLocalProperty("perfbench.op", opId.toString)
      push(s"op:$name")
    }
    opId
  }

  def endOp(): Unit = if (recording) {
    pop()
    spark.sparkContext.setLocalProperty("perfbench.op", null)
  }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else { push(name); try body finally pop() }

  def active: Boolean = recording

  /** Stops recording: the check pass after the timed passes is not traced. */
  def off(): Unit = recording = false

  def dump(): Map[String, Any] =
    if (!on) Map.empty
    else Map("spans" -> spans.toSeq, "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq, "plans" -> plans.asScala.toSeq)
}
