package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spans and Spark job metrics for a traced run, kept in memory and written
  * out with the run record. With tracing off every method is a plain call
  * of its body: no spans, no job group, no listener.
  *
  * Times are epoch milliseconds (with a fractional part for spans) so that
  * spans line up with the job submission and completion times the Spark
  * listener reports. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble

  def nowMs: Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Int] = Nil
  private var currentOp: String = ""
  private val listener = new JobListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def push(name: String, start: Double): Int = {
    spans += Map("name" -> name, "op" -> currentOp, "start" -> start,
      "parent" -> stack.headOption.getOrElse(-1))
    stack = (spans.size - 1) :: stack
    spans.size - 1
  }

  private def pop(i: Int): Unit = {
    spans(i) = spans(i) + ("end" -> nowMs)
    stack = stack.tail
  }

  /** One op: its span is the root of the op's spans, and every Spark job it
    * starts is tagged with the op id through the job group. */
  def op[T](id: String)(body: => T): T =
    if (!enabled) body
    else {
      currentOp = id
      spark.sparkContext.setJobGroup(id, id)
      val i = push("op", nowMs)
      try body
      finally {
        pop(i)
        spark.sparkContext.clearJobGroup()
        currentOp = ""
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val i = push(name, nowMs)
      try body finally pop(i)
    }

  /** A span over an interval that has already ended, for a stretch of a
    * library call the benchmark cannot wrap (it starts when a callback
    * returns and ends when the call does). */
  def closedSpan(name: String, start: Double, end: Double): Unit =
    if (enabled) {
      spans += Map("name" -> name, "op" -> currentOp, "start" -> start,
        "end" -> end, "parent" -> stack.headOption.getOrElse(-1))
    }

  /** Spans and jobs, after every listener event of the run was delivered. */
  def records(): Map[String, Any] = {
    if (enabled) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    Map("spans" -> spans.toList, "jobs" -> listener.jobs.values.toList.sortBy(_.start)
      .map(_.toMap))
  }
}

/** Per-job task metrics, summed from task-end events. */
final class JobRecord(val id: Int, val group: String, val start: Long) {
  var end: Long = -1L
  var tasks = 0L
  var executorCpuNs = 0L
  var executorRunMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var gcMs = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "op" -> group, "start" -> start, "end" -> end, "tasks" -> tasks,
    "executor_cpu_ns" -> executorCpuNs, "executor_run_ms" -> executorRunMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes, "spill_bytes" -> spillBytes,
    "peak_exec_mem_bytes" -> peakExecMemBytes, "gc_ms" -> gcMs)
}

final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new JobRecord(e.jobId, group.getOrElse(""), e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageToJob.get(e.stageId); j <- jobs.get(jobId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.executorCpuNs += m.executorCpuTime
      j.executorRunMs += m.executorRunTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakExecMemBytes = math.max(j.peakExecMemBytes, m.peakExecutionMemory)
      j.gcMs += m.jvmGCTime
    }
  }
}
