package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `group` ties together the spans of one
  * trigger or one query; `parent` is the enclosing span's id (-1 at
  * the root).
  */
final case class Span(id: Int, parent: Int, group: String, name: String,
                      startMs: Double, endMs: Double)

/** In-memory span recorder, written out once when the run ends. A
  * disabled tracer records nothing and returns `-1` ids.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]

  def add(parent: Int, group: String, name: String, startMs: Double, endMs: Double): Int =
    if (!enabled) -1 else synchronized {
      spans += Span(spans.size, parent, group, name, startMs, endMs)
      spans.size - 1
    }

  /** Sets the end of an open span. */
  def close(id: Int, endMs: Double): Unit =
    if (enabled) synchronized(spans(id) = spans(id).copy(endMs = endMs))

  /** Runs `f` inside a span; returns its wall millis. */
  def timed(parent: Int, group: String, name: String)(f: => Unit): Double = {
    val t0 = nowMs()
    f
    val t1 = nowMs()
    add(parent, group, name, t0, t1)
    t1 - t0
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def json: String = all.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"group":"${s.group}","name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")

  /** Wall-clock millis with sub-ms resolution, on the epoch scale
    * Spark's own event timestamps use.
    */
  def nowMs(): Double = Tracer.nowMs()
}

object Tracer {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Task, stage and job records from Spark's listener bus. Each record
  * keeps its own timestamp, so totals are attributed to a query or a
  * measured window by time, after the asynchronous bus has drained.
  */
final class TaskMeter extends SparkListener {
  // (finish ms, duration ms, cpu ns, gc ms, shuffle write, shuffle read, spill, input)
  private val taskRows = ArrayBuffer.empty[Array[Long]]
  private val stageEnds = ArrayBuffer.empty[Long]
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, Long]
  private val jobRows = ArrayBuffer.empty[(Long, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) taskRows += Array(i.finishTime, i.duration,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled + m.memoryBytesSpilled,
      m.inputMetrics.bytesRead)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(t => jobRows += ((t, e.time)))
  }

  def eventCount: Long = synchronized(taskRows.size + stageEnds.size + jobRows.size)

  /** Totals of the tasks, stages and jobs that ended in [t0, t1). */
  def window(t0: Long, t1: Long): Map[String, Double] = synchronized {
    val ts = taskRows.filter(r => r(0) >= t0 && r(0) < t1)
    def sum(i: Int): Double = ts.map(_(i)).sum.toDouble
    Map(
      "tasks" -> ts.size.toDouble,
      "stages" -> stageEnds.count(t => t >= t0 && t < t1).toDouble,
      "jobs" -> jobRows.count { case (_, e) => e >= t0 && e < t1 }.toDouble,
      "task_s" -> sum(1) / 1e3, "task_cpu_s" -> sum(2) / 1e9, "gc_s" -> sum(3) / 1e3,
      "shuffle_write_mb" -> sum(4) / 1048576.0, "shuffle_read_mb" -> sum(5) / 1048576.0,
      "spill_mb" -> sum(6) / 1048576.0, "input_mb" -> sum(7) / 1048576.0)
  }

  /** Jobs as (start ms, end ms), in completion order. */
  def jobs: Seq[(Long, Long)] = synchronized(jobRows.toList)

  /** Millis of [t0, t1] covered by at least one job. */
  def jobCoverMs(t0: Long, t1: Long): Long = {
    val iv = jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var start, end = -1L
    iv.foreach { case (a, b) =>
      if (start < 0 || a > end) { if (start >= 0) covered += end - start; start = a; end = b }
      else end = math.max(end, b)
    }
    if (start >= 0) covered += end - start
    covered
  }
}

/** Planning phases and the exchange count of every executed query,
  * read through the public query-execution listener.
  */
final class PhaseMeter extends QueryExecutionListener {
  // (analysis start ms, analysis ms, optimization ms, planning ms, exchanges)
  private val rows = ArrayBuffer.empty[Array[Long]]
  private val phaseRows = ArrayBuffer.empty[(String, Long, Long)]

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def dur(name: String): Long = phases.get(name).map(_.durationMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    val ex = PhaseMeter.countExchanges(qe.executedPlan)
    synchronized {
      rows += Array(start, dur("analysis"), dur("optimization"), dur("planning"), ex)
      phases.foreach { case (n, p) => phaseRows += ((n, p.startTimeMs, p.endTimeMs)) }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def eventCount: Long = synchronized(rows.size.toLong)

  /** Phase totals of the executions whose planning began in [t0, t1). */
  def window(t0: Long, t1: Long): Map[String, Double] = synchronized {
    val rs = rows.filter(r => r(0) >= t0 && r(0) < t1)
    def sum(i: Int): Double = rs.map(_(i)).sum.toDouble
    Map("analysis_ms" -> sum(1), "optimization_ms" -> sum(2), "planning_ms" -> sum(3),
      "exchanges" -> sum(4))
  }

  /** Planning phases as (phase, start ms, end ms). */
  def phases: Seq[(String, Long, Long)] = synchronized(phaseRows.toList)
}

object PhaseMeter {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.Exchange

  /** Exchanges in the final (post-AQE) physical plan. */
  def countExchanges(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.finalPhysicalPlan)
    case s: QueryStageExec => countExchanges(s.plan)
    case e: Exchange => 1 + e.children.map(countExchanges).sum
    case p => (p.children ++ p.subqueries).map(countExchanges).sum
  }
}
