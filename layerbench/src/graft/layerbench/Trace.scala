package graft.layerbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{LayerBenchAccess, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: one per layer call, linked to its parent span and to
  * the op (tick or query execution) it belongs to. Recording is off unless
  * the run is traced; the spans are written out when the run ends.
  */
object Spans {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  /** Op id the main thread is executing; stub threads tag their spans with it. */
  @volatile var currentOp = 0L
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def newOp(): Long = { currentOp = ids.incrementAndGet(); currentOp }

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), currentOp, name,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Spark-runtime and JVM counters for the traced passes: a SparkListener
  * for the scheduler's work, a QueryExecutionListener for the final
  * adaptive plans of the terminal writes, and the codegen and JVM MXBean
  * counters read at pass boundaries.
  */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val jobsByPhase = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var stages, tasks, taskFailures = 0L
  private var cpuNs, runMs, schedMs, fetchWaitMs = 0L
  private var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  private var exchanges = 0L
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
    jobsByPhase(phase.getOrElse("other")) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    tasks += 1
    if (!info.successful) taskFailures += 1
    busy += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val plan = qe.executedPlan
    if (isWrite(plan)) synchronized { exchanges += countExchanges(plan) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Counters accumulated since the last call; resets them. */
  def take(): Counters = {
    LayerBenchAccess.drainListenerBus(sc)
    synchronized {
      val c = Counters(jobsByPhase.toMap, stages, tasks, taskFailures, cpuNs,
        runMs, schedMs, fetchWaitMs, shuffleWrite, shuffleRead, spill,
        peakExecMem, exchanges, busy.toSeq)
      jobsByPhase.clear(); busy.clear()
      stages = 0; tasks = 0; taskFailures = 0; cpuNs = 0; runMs = 0
      schedMs = 0; fetchWaitMs = 0; shuffleWrite = 0; shuffleRead = 0
      spill = 0; peakExecMem = 0; exchanges = 0
      c
    }
  }
}

object Tracer {
  /** Local property naming the phase (build / exec) a job was started in. */
  val PhaseKey = "layerbench.phase"

  final case class Counters(jobsByPhase: Map[String, Long], stages: Long,
      tasks: Long, taskFailures: Long, cpuNs: Long, runMs: Long, schedMs: Long,
      fetchWaitMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      peakExecMem: Long, exchanges: Long, busy: Seq[(Long, Long)]) {
    def jobs: Long = jobsByPhase.values.sum
  }

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(walk)
  }

  def isWrite(p: SparkPlan): Boolean = walk(p).exists(_.isInstanceOf[V2TableWriteExec])

  def countExchanges(p: SparkPlan): Int = walk(p).count(_.isInstanceOf[Exchange])

  /** Milliseconds of [from, to] covered by at least one task interval. */
  def coveredMs(busy: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered, end = 0L
    busy.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
    covered
  }

  /** JVM and codegen counters, read at pass boundaries. */
  final case class Jvm(compiles: Long, codegenNs: Long, jitMs: Long,
      gcMs: Long, cpuNs: Long)

  private lazy val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def jvmNow(): Jvm = Jvm(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum,
    os.getProcessCpuTime)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum
}
