package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-query record of what the engine ran, which every job count,
  * plan check and profile reads: one SparkListener and one
  * QueryExecutionListener, attached by [[Trace.apply]] for a caller's
  * block only, so a session no one traces runs neither.
  *
  * A caller cuts its work into phases: [[build]] for a query function (its
  * eager stored frames, CC rounds and oracle flags) and [[phase]] for the
  * rest, usually the noop write ([[execute]]). A phase records its jobs
  * (wall, tasks, input records, and what ran each: its SQL execution
  * `exec <id>: <description>` — so an AQE stage job names the operator
  * call, and a [[Materialize]] job `materialize <site>` — else its call
  * site); its stages, tasks, task failures, executor CPU, shuffle and
  * spill bytes; each completed SQL execution; and its [[Materialize]]
  * calls. A phase drains the asynchronous listener bus at each end;
  * events between phases are dropped.
  */
final class Trace private (sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Trace._

  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val running = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private var open = new Tally // guarded by this

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties).getOrElse(new java.util.Properties)
    val what = Option(props.getProperty(SQLExecution.EXECUTION_ID_KEY))
      .flatMap(id => Option(executions.get(id.toLong)).map(d => s"exec $id: $d"))
      .orElse(Option(props.getProperty("spark.job.description")).filter(_.nonEmpty))
      .getOrElse(props.getProperty("callSite.short", ""))
    val job = new Job(js.jobId, what, js.stageInfos.map(_.numTasks).sum, js.time)
    running.put(js.jobId, job)
    js.stageIds.foreach(stageJobs.put(_, job))
    synchronized(open.jobs += job)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(running.remove(je.jobId)).foreach(_.endMs = je.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(open.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    open.tasks += 1
    if (!e.taskInfo.successful) open.taskFailures += 1
    Option(e.taskMetrics).foreach { m =>
      open.cpuNs += m.executorCpuTime
      open.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      open.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      open.spill += m.diskBytesSpilled
      Option(stageJobs.get(e.stageId)).foreach(_.read += m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val x = Execution(action, ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING), ns,
      Materialize.exchanges(plan), plan)
    synchronized(open.executions += x)
  }

  override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()

  /** The events delivered since the last cut; starts a fresh tally. */
  private def cut(): Tally = {
    GraftListenerBridge.waitUntilListenerBusEmpty(sc)
    synchronized { val t = open; open = new Tally; t }
  }

  /** Runs `body` as one phase. */
  def phase[A](body: => A): (A, Phase) = {
    cut()
    Materialize.drain()
    val t0 = System.nanoTime()
    val a = body
    val wallNs = System.nanoTime() - t0
    val t = cut()
    (a, Phase(wallNs, t.jobs.toSeq, t.executions.toSeq, Materialize.drain(), t.stages,
      t.tasks, t.taskFailures, t.cpuNs, t.shuffleWrite, t.shuffleRead, t.spill))
  }

  /** Runs a query function as its build phase, and counts the exchanges
    * of the plan it returned by the walk [[Materialize]] counts with.
    */
  def build(query: => DataFrame): Built = {
    val (df, p) = phase(query)
    Built(df, p, Materialize.exchanges(df.queryExecution.executedPlan))
  }

  /** The noop write of `df`, as Bench times it, as one phase. */
  def execute(df: DataFrame): Phase =
    phase(df.write.format("noop").mode("overwrite").save())._2
}

object Trace {

  /** Attaches a trace to `spark` for the length of `body`. */
  def apply[A](spark: SparkSession)(body: Trace => A): A = {
    val sc = spark.sparkContext
    val t = new Trace(sc)
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
    try body(t) finally {
      spark.listenerManager.unregister(t)
      sc.removeSparkListener(t)
    }
  }

  /** One Spark job: `wallMs` is -1 until its end is delivered, and
    * `recordsRead` sums its tasks' input records.
    */
  final class Job private[Trace] (val id: Int, val what: String, val tasks: Int,
      startMs: Long) {
    @volatile private[Trace] var endMs = -1L
    @volatile private[Trace] var read = 0L
    def wallMs: Long = if (endMs < 0) -1L else endMs - startMs
    def recordsRead: Long = read
  }

  /** One completed SQL execution: planning phases, run time, plan. */
  final case class Execution(action: String, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, runNs: Long, exchanges: Int,
      plan: SparkPlan)

  /** What one phase ran. */
  final case class Phase(wallNs: Long, jobs: Seq[Job],
      executions: Seq[Execution], calls: Seq[Materialize.Call], stages: Long,
      tasks: Long, taskFailures: Long, cpuNs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long)

  /** A built query: its frame, build phase and returned plan's exchanges. */
  final case class Built(df: DataFrame, phase: Phase, exchanges: Int)

  private final class Tally {
    val jobs = ArrayBuffer.empty[Job]
    val executions = ArrayBuffer.empty[Execution]
    var stages, tasks, taskFailures, cpuNs, shuffleWrite, shuffleRead, spill = 0L
  }
}
