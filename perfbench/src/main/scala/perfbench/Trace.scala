package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark from outside the engine: a
  * [[SparkListener]] for jobs, stages, tasks and SQL executions, and a
  * [[QueryExecutionListener]] for Catalyst phase times. Jobs are
  * attributed to timed operations by the local property the [[Recorder]]
  * sets around each one; SQL executions and Catalyst phases, which carry
  * no properties, by their start time falling inside an operation's
  * window. Registered only in the traced run.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  private var active = false
  private val stageTimed = mutable.Set.empty[Int]
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** (start ms, end ms) of every timed job. */
  val jobSpans = mutable.Map.empty[Int, (Long, Long)]
  /** execution id → (start ms, end ms, physical plan text). */
  val sqlExecs = mutable.Map.empty[Long, (Long, Long, String)]
  /** (analysis start ms, analysis + optimization + planning ms). */
  val catalyst = mutable.ArrayBuffer.empty[(Long, Long)]

  def begin(): Unit = synchronized { active = true }
  def end(): Unit = synchronized { active = false }
  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val timed = active && Option(e.properties).exists(_.getProperty(Trace.OpKey) != null)
    if (timed) {
      jobs += 1
      stages += e.stageInfos.size
      stageTimed ++= e.stageIds
      jobSpans(e.jobId) = (e.time, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach { case (s, _) => jobSpans(e.jobId) = (s, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageTimed(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      taskCpuNs += m.executorCpuTime
      taskRunMs += m.executorRunTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlExecs(s.executionId) = (s.time, s.time, s.physicalPlanDescription)
      case x: SparkListenerSQLExecutionEnd =>
        sqlExecs.get(x.executionId).foreach { case (s, _, p) =>
          sqlExecs(x.executionId) = (s, x.time, p)
        }
      case _ =>
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val start = ph.get(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS)
        .map(_.startTimeMs).getOrElse(-1L)
      Trace.this.synchronized { catalyst += ((start, ph.values.map(_.durationMs).sum)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** SQL executions that started inside a window of the given kind. */
  def sqlIn(windows: Seq[(Long, Long, String)], kind: String): Seq[(Long, Long, String)] = synchronized {
    val ws = windows.filter(_._3 == kind)
    sqlExecs.values.filter { case (s, _, _) => ws.exists(w => s >= w._1 && s <= w._2) }.toSeq
  }

  def perOp(ops: Int, windows: Seq[(Long, Long, String)]): Map[String, Metric] = synchronized {
    def inAny(t: Long) = windows.exists(w => t >= w._1 && t <= w._2)
    val catalystMs = catalyst.filter(c => inAny(c._1)).map(_._2).sum
    // wall time of timed operations during which no job of theirs ran
    val covered = Trace.unionLength(jobSpans.values.toSeq)
    val opWall = windows.map(w => w._2 - w._1).sum
    def per(x: Double) = x / ops
    Map(
      "spark.catalyst_ms_per_op" -> Metric(per(catalystMs.toDouble), "ms"),
      "spark.jobs_per_op" -> Metric(per(jobs.toDouble), "count"),
      "spark.stages_per_op" -> Metric(per(stages.toDouble), "count"),
      "spark.tasks_per_op" -> Metric(per(tasks.toDouble), "count"),
      "spark.driver_ms_per_op" -> Metric(per((opWall - covered).max(0L).toDouble), "ms"),
      "spark.task_cpu_ms_per_op" -> Metric(per(taskCpuNs / 1e6), "ms"),
      "spark.task_run_ms_per_op" -> Metric(per(taskRunMs.toDouble), "ms"),
      "spark.input_bytes_per_op" -> Metric(per(inputBytes.toDouble), "bytes"),
      "spark.shuffle_read_bytes_per_op" -> Metric(per(shuffleRead.toDouble), "bytes"),
      "spark.shuffle_write_bytes_per_op" -> Metric(per(shuffleWrite.toDouble), "bytes"),
      "spark.spill_bytes_per_op" -> Metric(per(spill.toDouble), "bytes"))
  }
}

object Trace {
  /** Local property naming the kind of the timed operation a job serves. */
  val OpKey = "perfbench.op"

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.QeListener)
    t
  }

  /** Total length covered by a set of intervals. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
