package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Running totals the two listeners below add to. Attached from outside
  * the program (`spark.extraListeners` / `spark.sql.queryExecutionListeners`
  * as system properties), so every SparkContext a main builds reports here.
  */
object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
      taskCpuNs: Long, taskRunMs: Long, schedDelayMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, input: Long, output: Long, planNs: Long,
      peakCached: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      failedTasks - o.failedTasks, taskCpuNs - o.taskCpuNs, taskRunMs - o.taskRunMs,
      schedDelayMs - o.schedDelayMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, input - o.input,
      output - o.output, planNs - o.planNs, peakCached)
    def toMap: Map[String, Double] = scala.collection.immutable.ListMap(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "failed_tasks" -> failedTasks.toDouble,
      "task_cpu_s" -> taskCpuNs / 1e9, "task_run_s" -> taskRunMs / 1e3,
      "sched_delay_s" -> schedDelayMs / 1e3, "shuffle_write_mb" -> shuffleWrite / 1e6,
      "shuffle_read_mb" -> shuffleRead / 1e6, "spill_mb" -> spill / 1e6,
      "input_mb" -> input / 1e6, "output_mb" -> output / 1e6, "plan_s" -> planNs / 1e9,
      "cached_mb" -> peakCached / 1e6)
  }

  private var jobs, stages, tasks, failedTasks, taskCpuNs, taskRunMs, schedDelayMs,
    shuffleWrite, shuffleRead, spill, input, output, planNs = 0L
  private val cached = mutable.Map.empty[String, Long]
  private var cachedNow, peakCached = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var appStartMs = 0L

  def snap(): Snap = synchronized {
    Snap(jobs, stages, tasks, failedTasks, taskCpuNs, taskRunMs, schedDelayMs,
      shuffleWrite, shuffleRead, spill, input, output, planNs, peakCached)
  }

  /** Start a fresh peak-cache window and forget earlier job intervals. */
  def resetWindow(): Unit = synchronized {
    peakCached = cachedNow; jobSpans.clear(); appStartMs = 0L
  }

  def appStart: Long = appStartMs

  /** Wall milliseconds of [from, to] covered by at least one running job. */
  def jobCoveredMs(from: Long, to: Long): Long = synchronized {
    val iv = jobSpans.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curEnd = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curEnd) { covered += b - a; curEnd = b }
      else if (b > curEnd) { covered += b - curEnd; curEnd = b }
    }
    covered
  }

  private[perfbench] def onApp(t: Long): Unit = appStartMs = t
  private[perfbench] def onJobStart(id: Int, t: Long): Unit = synchronized { jobs += 1; jobStart(id) = t }
  private[perfbench] def onJobEnd(id: Int, t: Long): Unit = synchronized {
    jobStart.remove(id).foreach(s => jobSpans += ((s, t)))
  }
  private[perfbench] def onStage(): Unit = synchronized { stages += 1 }
  private[perfbench] def onPlan(ns: Long): Unit = synchronized { planNs += ns }
  private[perfbench] def onTask(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      taskRunMs += m.executorRunTime
      val info = e.taskInfo
      // the scheduler-delay formula of Spark's own UI
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }
  private[perfbench] def onBlock(id: String, bytes: Long): Unit = synchronized {
    val old = (if (bytes == 0L) cached.remove(id) else cached.put(id, bytes)).getOrElse(0L)
    cachedNow += bytes - old
    peakCached = math.max(peakCached, cachedNow)
  }
}

/** Scheduler-side listener (`spark.extraListeners`). */
class SchedulerProbe(conf: SparkConf) extends SparkListener {
  // built near the end of SparkContext start-up, when the listener bus starts
  Counters.onApp(System.currentTimeMillis())
  override def onJobStart(e: SparkListenerJobStart): Unit = Counters.onJobStart(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Counters.onJobEnd(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Counters.onStage()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Counters.onTask(e)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isInstanceOf[RDDBlockId])
      Counters.onBlock(s"${i.blockManagerId.executorId}/${i.blockId}",
        if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L)
  }
}

/** Planning-time listener (`spark.sql.queryExecutionListeners`): sums the
  * phases of each finished query's planning tracker.
  */
class PlanProbe extends QueryExecutionListener {
  private def add(qe: QueryExecution): Unit =
    Counters.onPlan(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** Spans kept in memory and written out once at the end of the run: name,
  * start, end, parent, op id, and the listener counts over the span.
  */
final case class Span(op: Int, name: String, parent: String, startMs: Long,
    endMs: Long, counts: Counters.Snap)

final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[String]

  def apply[T](op: Int, name: String)(body: => T): (T, Double) = {
    val parent = open.headOption.getOrElse("")
    Bus.drain()
    val c0 = Counters.snap()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    open = name :: open
    val r = try body finally open = open.tail
    val secs = (System.nanoTime() - n0) / 1e9
    Bus.drain()
    done += Span(op, name, parent, t0, System.currentTimeMillis(), Counters.snap() - c0)
    (r, secs)
  }

  def writeTo(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try done.foreach { s =>
      w.println(Json.obj("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> s.counts.toMap))
    } finally w.close()
  }
}

/** Drains the active context's listener bus, so counts read at a span
  * boundary include every event posted before it.
  */
object Bus {
  def drain(): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(s =>
      org.apache.spark.PerfbenchBus.drain(s.sparkContext))
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Fields in the order given; values may be nested maps and sequences. */
  def obj(kv: (String, Any)*): String =
    mapper.writeValueAsString(scala.collection.immutable.ListMap(kv: _*))

  def parseLongs(json: String): Map[String, Long] =
    mapper.readValue(json, classOf[Map[String, Any]]).map { case (k, v) =>
      k -> v.asInstanceOf[Number].longValue }
}
