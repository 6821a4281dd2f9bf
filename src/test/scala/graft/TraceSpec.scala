package graft

import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Trace]]'s contract: a query's jobs, executions and [[Materialize]]
  * calls land in the phase that ran them, and its job totals are what a
  * bare job listener counts.
  */
class TraceSpec extends SparkSpec {

  private def frame(n: Long): DataFrame =
    spark.range(0L, n, 1L, 2).select(col("id"), (col("id") % 3).as("k"))

  test("a Materialize call inside the build is a build job; the noop write is an exec job") {
    val (built, exec) = Trace(spark) { t =>
      val built = t.build {
        val m = Materialize(frame(100L).groupBy("k").count(), "TraceSpec stored")
        m.route("gate", "shuffle")
        m.df.select(col("k"))
      }
      (built, t.execute(built.df))
    }
    val site = "materialize TraceSpec stored"
    assert(built.phase.jobs.nonEmpty && built.phase.jobs.forall(_.what.endsWith(site)),
      built.phase.jobs.map(_.what))
    assert(built.phase.calls.map(c => (c.site, c.rows, c.route)) ==
      Seq(("TraceSpec stored", 3L, "gate=shuffle")))
    assert(exec.jobs.nonEmpty && !exec.jobs.exists(_.what.contains(site)),
      exec.jobs.map(_.what))
    assert(exec.calls.isEmpty && exec.executions.nonEmpty)
    assert(exec.tasks >= exec.jobs.size && exec.taskFailures == 0L && exec.jobs.forall(_.wallMs >= 0L))
  }

  test("each Materialize call belongs to the query whose build made it") {
    Trace(spark) { t =>
      val a = t.build(Materialize(frame(10L), "TraceSpec a").df)
      Materialize(frame(20L), "TraceSpec between phases")
      val b = t.build(Materialize.deferred(frame(30L), "TraceSpec b"))
      assert(a.phase.calls.map(_.site) == Seq("TraceSpec a"))
      assert(b.phase.calls.map(_.site) == Seq("TraceSpec b"))
      assert(b.phase.jobs.isEmpty, b.phase.jobs.map(_.what))
    }
  }

  test("every registry query's traced job total equals a bare listener's count") {
    val differ = BuiltQueries.all
      .map(q => (q.name, q.build.jobs.size + q.exec.jobs.size, q.startedJobs))
      .filter { case (_, traced, counted) => traced != counted }
    assert(differ.isEmpty, s"traced != counted: ${differ.mkString(", ")}")
  }

  /** `graft.Profile` in its own JVM (it stops the session it builds),
    * with `SPARK_GRAFT_ONLY=only`: its exit code and output lines.
    */
  private def profile(only: String): (Int, Seq[String]) = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val log = scratchDir("graft-profile").resolve("profile.log")
    val pb = new ProcessBuilder((Seq(s"${sys.props("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.Profile")).asJava)
      .redirectErrorStream(true).redirectOutput(log.toFile)
    pb.environment().putAll(Map("SPARK_GRAFT_ONLY" -> only,
      "SPARK_GRAFT_SF_DIR" -> sfDir, "SPARK_GRAFT_CPUS" -> "2").asJava)
    val p = pb.start()
    val exited = p.waitFor(300, TimeUnit.SECONDS)
    if (!exited) p.destroyForcibly()
    val lines = java.nio.file.Files.readAllLines(log).asScala.toSeq
    assert(exited, lines.mkString("\n"))
    (p.exitValue, lines)
  }

  test("Profile.main prints job, plan and materialize lines for one query") {
    val (exit, lines) = profile("flagship")
    val printed = lines.filter(_.startsWith("["))
    assert(exit == 0, printed.mkString("\n"))
    for (tag <- Seq("[job]", "[plan]", "[materialize] CalTopo.flagship folders stored"))
      assert(printed.exists(_.startsWith(tag)), s"no $tag line in:\n${printed.mkString("\n")}")
  }

  test("Profile.main rejects an unknown SPARK_GRAFT_ONLY name before it builds a session") {
    val (exit, lines) = profile("flagship,q_nope")
    assert(exit != 0 && lines.exists(_.contains("q_nope")), lines.mkString("\n"))
    // a session start logs Spark's version line; a rejected env logs none
    assert(!lines.exists(_.contains("Running Spark version")), lines.mkString("\n"))
  }
}
