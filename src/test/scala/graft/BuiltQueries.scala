package graft

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
  final class Record private[BuiltQueries] (val name: String, built: Trace.Built) {
    def df: DataFrame = built.df
    def build: Trace.Phase = built.phase
    val plan: String = df.queryExecution.executedPlan.toString
    lazy val exec: Trace.Phase = Trace(df.sparkSession)(_.execute(df))
    /** Jobs from the start of the build through the noop write. */
    def jobs: Int = build.jobs.size + exec.jobs.size
  }

  private lazy val spark = {
    Session.warmTables(SparkSpec.session, SparkSpec.sfDir)
    SparkSpec.session
  }
  private val records = scala.collection.mutable.Map.empty[String, Record]

  def apply(name: String): Record = synchronized {
    records.getOrElseUpdate(name,
      new Record(name, Trace(spark)(_.build(SparkEntry.queries(name)(spark, SparkSpec.sfDir)))))
  }

  /** Every registry query, in registry order. */
  def all: Seq[Record] = Registry.all.map(q => apply(q.name))

  /** Fails naming each pinned query whose `measure` exceeds its pin plus
    * `slack`, and lists every count.
    */
  def assertPins(pins: Map[String, Int], what: String, slack: Int = 0)(
      measure: Record => Int): Unit = {
    val got = pins.toSeq.sorted.map { case (n, b) => (n, measure(apply(n)), b) }
    val over = got.collect { case (n, v, b) if v > b + slack =>
      s"$n: $v $what > budget $b + slack $slack" }
    org.scalatest.Assertions.assert(over.isEmpty,
      s"""$what budgets exceeded: ${over.mkString("; ")}
         |all counts: ${got.map { case (n, v, _) => s"$n=$v" }.mkString(", ")}""".stripMargin)
  }
}
