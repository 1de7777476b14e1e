package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spans recorded from the benchmark's own code around each call into an
  * engine module. Kept in memory and read when the run ends. Calls are
  * made from the main thread only, so the open-span stack is a plain var.
  * When disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Stats.Span]
  private var open: List[Int] = Nil
  private var currentOp = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Stats.Span(id, parent, currentOp, name, System.nanoTime(), 0L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(end = System.nanoTime())
      }
    }

  /** The root span of timed operation `op`; its self time is the part of
    * the operation no layer span covers. */
  def op[A](op: Int)(body: => A): A = {
    currentOp = op
    try span("op")(body) finally currentOp = -1
  }
}

/** One Spark job as the listener saw it. `site` is the long call site (the
  * user-code stack) of the action that submitted it. Times are epoch ms. */
final case class JobRecord(start: Long, end: Long, site: String)

/** Totals of the task metrics of every finished task. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var records = 0L
  var stages = 0L

  def minus(o: TaskTotals): TaskTotals = {
    val d = new TaskTotals
    d.tasks = tasks - o.tasks; d.runMs = runMs - o.runMs; d.cpuNs = cpuNs - o.cpuNs
    d.gcMs = gcMs - o.gcMs; d.shuffleRead = shuffleRead - o.shuffleRead
    d.shuffleWrite = shuffleWrite - o.shuffleWrite; d.spill = spill - o.spill
    d.input = input - o.input; d.output = output - o.output; d.stages = stages - o.stages
    d.records = records - o.records
    d
  }

  def copy: TaskTotals = minus(new TaskTotals)
}

/** The scheduler/executor layer seen from a listener the benchmark
  * registers: job intervals with their call sites, stage and task counts,
  * and summed task metrics. */
final class JobListener extends SparkListener {
  private val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
  private val executionSites = scala.collection.mutable.Map.empty[Long, String]
  val jobs = ArrayBuffer.empty[JobRecord]
  val totals = new TaskTotals

  // SQL jobs are often submitted from Spark's own threads (adaptive query
  // execution), so their call site is the SQL execution's, not the job's
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executionSites(x.executionId) = x.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execution = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = execution.flatMap(id => executionSites.get(id.toLong))
      .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
    starts(e.jobId) = (e.time, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, site) => jobs += JobRecord(t0, e.time, site) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    totals.tasks += 1
    if (m != null) {
      totals.runMs += m.executorRunTime
      totals.cpuNs += m.executorCpuTime
      totals.gcMs += m.jvmGCTime
      totals.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      totals.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      totals.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      totals.input += m.inputMetrics.bytesRead
      totals.output += m.outputMetrics.bytesWritten
      totals.records += m.inputMetrics.recordsRead
    }
  }

  def snapshot(): (Int, TaskTotals) = synchronized((jobs.size, totals.copy))
}
