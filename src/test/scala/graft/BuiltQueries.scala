package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.queries.Registry

/** Each registry query built once per test JVM, in the specs' shared
  * session, with the [[Trace]] of its build, so a query's eager build jobs
  * run once, not once per plan or job check. The tables are warmed before
  * the first build, so the memoized first-load job (`Tables.load`) never
  * lands on one query.
  */
object BuiltQueries {

  /** A built query. `plan` is its returned plan's string, taken at build
    * time (an adaptive plan prints its final form once it has run). `exec`
    * is the noop write of its frame, traced once: a deferred checkpoint is
    * stored by its first consumer, so a second write could run fewer jobs.
    */
  final class Record private[BuiltQueries] (val name: String, built: Trace.Built,
      buildStarts: Long) {
    def df: DataFrame = built.df
    def build: Trace.Phase = built.phase
    val plan: String = df.queryExecution.executedPlan.toString
    private lazy val written = counted(Trace(df.sparkSession)(_.execute(df)))
    def exec: Trace.Phase = written._1
    /** Job starts a bare listener counted over the build and the noop
      * write: the reference for the trace's job counts.
      */
    def startedJobs: Long = buildStarts + written._2
  }

  /** Counts job starts and nothing else. */
  private object started extends SparkListener {
    val jobs = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  private lazy val spark = {
    Session.warmTables(SparkSpec.session, SparkSpec.sfDir)
    SparkSpec.session.sparkContext.addSparkListener(started)
    SparkSpec.session
  }

  /** `body`'s result and the jobs started while it ran. */
  private def counted[A](body: => A): (A, Long) = {
    def drained() = {
      GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      started.jobs.get
    }
    val j0 = drained()
    val a = body
    (a, drained() - j0)
  }

  private val records = scala.collection.mutable.Map.empty[String, Record]

  def apply(name: String): Record = synchronized {
    records.getOrElseUpdate(name, {
      val (built, jobs) =
        counted(Trace(spark)(_.build(SparkEntry.queries(name)(spark, SparkSpec.sfDir))))
      new Record(name, built, jobs)
    })
  }

  /** Every registry query, in registry order. */
  def all: Seq[Record] = Registry.all.map(q => apply(q.name))
}
