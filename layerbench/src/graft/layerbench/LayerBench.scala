package graft.layerbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The layer benchmark's JVM side: one workload, one process.
  *
  *   set-up   build the session, load the inputs, run two warm-ups: two
  *            warm passes, or for the query workload a warm pass and
  *            its result pass, which writes every result for the
  *            DuckDB oracle check
  *   measure  passes of the workload's fixed op list until `seconds` have
  *            passed (at least two); a traced run alternates untraced and
  *            traced passes; caltopo checks every tick as it ends
  *   layers   traced runs only: the source, operator and kernel passes
  *
  * Raw figures go to the `--out` JSON; `layerbench/run.py` turns them into
  * the reported metrics. Arguments: --workload --data --out --seconds
  * --trace 0|1 --cpus --launch-ns [--corrupt 1].
  */
object LayerBench {
  import Workload.timed

  final case class OpResult(name: String, latency: Double, build: Double,
      plan: Double, exec: Double, error: Option[String])
  final case class Pass(wall: Double, ops: Seq[OpResult], startMs: Long, endMs: Long)


  /** The session exactly as `graft.Bench` configures it for timing. */
  def session(tablesDir: String, cpus: Int): SparkSession = {
    val initParts = graft.Bench.dataSizedInitParts(tablesDir, cpus.toLong)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", initParts.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator
      .nextOption().getOrElse("")}".take(300)

  /** One pass of the workload's ops. Its wall time leaves out the
    * harness's own `before` and `check` work around each op.
    */
  def runPass(spark: SparkSession, wl: Workload, traced: Boolean): Pass = {
    val sc = spark.sparkContext
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var harness = 0.0
    val results = wl.ops.map { op =>
      Spans.newOp()
      harness += timed(op.before())
      var build, plan, exec = 0.0
      val o0 = System.nanoTime()
      val error =
        try {
          Spans(s"op.${op.name}") {
            sc.setLocalProperty(Tracer.PhaseKey, "build")
            var df: org.apache.spark.sql.DataFrame = null
            build = timed(Spans("queries.build") { df = op.build(spark) })
            if (traced) plan = timed(Spans("plans.plan") { df.queryExecution.executedPlan })
            sc.setLocalProperty(Tracer.PhaseKey, "exec")
            exec = timed(Spans("queries.exec") { op.exec(df) })
          }
          None
        } catch { case NonFatal(e) => Some(errorText(e)) }
        finally sc.setLocalProperty(Tracer.PhaseKey, null)
      val o1 = System.nanoTime()
      val checked = error.orElse(
        try Spans("check")(op.check()) catch { case NonFatal(e) => Some(errorText(e)) })
      harness += (System.nanoTime() - o1) / 1e9
      OpResult(op.name, (o1 - o0) / 1e9, build, plan, exec, checked)
    }
    Pass((System.nanoTime() - t0) / 1e9 - harness, results, startMs,
      System.currentTimeMillis())
  }

  /** One traced pass and its per-layer figures. */
  private def tracedPass(spark: SparkSession, wl: Workload, tracer: Tracer,
      cpus: Int): (Pass, Map[String, Double]) = {
    val sc = spark.sparkContext
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    tracer.take()
    val traffic0 = wl.traffic
    Tracer.resetHeapPeak()
    val j0 = Tracer.jvmNow()
    Spans.enabled = true
    val p = try runPass(spark, wl, traced = true) finally Spans.enabled = false
    val c = tracer.take()
    val j1 = Tracer.jvmNow()
    val heapPeak = Tracer.heapPeakBytes()
    sc.removeSparkListener(tracer)
    spark.listenerManager.unregister(tracer)
    val traffic = wl.traffic.map { case (k, v) => k -> (v - traffic0(k)).toDouble }
      .withDefaultValue(0.0)
    val mb = 1e6
    val taskRun = c.runMs / 1e3
    val m = Map(
      "sources.http_gets" -> traffic("gets"),
      "sources.http_posts" -> traffic("posts"),
      "sources.http_in_mb" -> traffic("in") / mb,
      "sources.http_out_mb" -> traffic("out") / mb,
      "sources.fetch_retries" -> traffic("fetch_retries"),
      "sources.post_retries" -> traffic("post_retries"),
      "queries.build_s" -> p.ops.map(_.build).sum,
      "queries.build_jobs" -> c.jobsByPhase.getOrElse("build", 0L).toDouble,
      "queries.exec_s" -> p.ops.map(_.exec).sum,
      "queries.exec_jobs" -> c.jobsByPhase.getOrElse("exec", 0L).toDouble,
      "plans.plan_s" -> p.ops.map(_.plan).sum,
      "plans.exchanges" -> c.exchanges.toDouble,
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.driver_only_s" ->
        (p.wall - Tracer.coveredMs(c.busy, p.startMs, p.endMs) / 1e3).max(0.0),
      "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.task_run_s" -> taskRun,
      "spark.slot_util" -> taskRun / (p.wall * cpus),
      "spark.sched_delay_s" -> c.schedMs / 1e3,
      "spark.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> c.shuffleRead / mb,
      "spark.spill_mb" -> c.spill / mb,
      "spark.peak_exec_mem_mb" -> c.peakExecMem / mb,
      "spark.task_failures" -> c.taskFailures.toDouble,
      "spark.codegen_compiles" -> (j1.compiles - j0.compiles).toDouble,
      "spark.codegen_s" -> (j1.codegenNs - j0.codegenNs) / 1e9,
      "jvm.jit_s" -> (j1.jitMs - j0.jitMs) / 1e3,
      "jvm.gc_s" -> (j1.gcMs - j0.gcMs) / 1e3,
      "jvm.heap_peak_mb" -> heapPeak / mb,
      "jvm.process_cpu_s" -> (j1.cpuNs - j0.cpuNs) / 1e9)
    (p, m)
  }

  private def epochNanos(): Long = {
    val now = Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  private def toJava(x: Any): Any = x match {
    case m: Map[_, _] => m.map { case (k, v) => k.toString -> toJava(v) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case other => other
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "wall_s" -> p.wall,
    "ops" -> p.ops.map(o => Map("name" -> o.name, "latency_s" -> o.latency,
      "error" -> o.error)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bootS = (epochNanos() - opt("launch-ns").toLong) / 1e9
    val data = Paths.get(opt("data"))
    val out = Paths.get(opt("out"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val tablesDir = data.resolve("tables").toString
    val wl = Workload(opt("workload"), data, cpus, opt.get("corrupt").contains("1"))
    var spark: SparkSession = null
    val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    try {
      // set-up, once, as a process pays it: setup_s runs from the JVM's
      // launch to the start of the first measured pass
      val sessionS = timed { spark = session(tablesDir, cpus) }
      val loadS = timed(wl.load(spark))
      // Two warm-ups before the first measured pass: after one, the first
      // measured pass ran up to 30 % slower than the next (JIT still
      // compiling), by a different amount in every JVM. The query
      // workload's second warm-up is its result pass, as a separate warm
      // pass would put a full acceptance round over its time budget.
      val w0 = System.nanoTime()
      val warm = ArrayBuffer(runPass(spark, wl, traced = false))
      val resultS = wl match {
        case q: QuerySet =>
          val dir = out.resolveSibling("results")
          result("results_dir") = dir.toString
          timed(q.writeResults(spark, dir))
        case _ =>
          warm += runPass(spark, wl, traced = false)
          0.0
      }
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = (epochNanos() - opt("launch-ns").toLong) / 1e9
      result ++= Seq("setup_s" -> setupS, "boot_s" -> bootS,
        "session_s" -> sessionS, "load_s" -> loadS,
        "warm" -> warm.map(passJson).toSeq, "result_pass_s" -> resultS,
        "rows_per_pass" -> wl.inputRows)

      val plain = ArrayBuffer.empty[Pass]
      val traced = ArrayBuffer.empty[(Pass, Map[String, Double])]
      lazy val tracer = new Tracer(spark.sparkContext)
      val m0 = System.nanoTime()
      def elapsed = (System.nanoTime() - m0) / 1e9
      while (plain.size < 2 || elapsed < seconds) {
        plain += runPass(spark, wl, traced = false)
        if (trace) traced += tracedPass(spark, wl, tracer, cpus)
      }
      result("passes") = plain.map(passJson).toSeq
      val plainWall = median(plain.map(_.wall).toSeq)
      if (trace) result("traced_passes") = traced.map(t => passJson(t._1)).toSeq

      if (trace) {
        val perPass = traced.map(_._2).toSeq
        val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        perPass.head.keys.foreach(k => layers(k) = median(perPass.map(_(k))))
        layers ++= Seq(
          "setup.boot_s" -> bootS,
          "setup.session_s" -> sessionS,
          "setup.load_s" -> loadS,
          "setup.warm_s" -> warmS,
          "trace.overhead_s" -> (median(traced.map(_._1.wall).toSeq) - plainWall))
        result("source_passes_s") = timed {
          wl.sourcePasses(spark, plainWall)
            .foreach { case (k, v) => layers(s"sources.${k}_s") = v }
        }
        result("probes_s") = timed { layers ++= Probes.run(spark, tablesDir, cpus) }
        result("per_layer") = layers.toMap
        val spans = out.resolveSibling("spans.jsonl")
        val mapper = new ObjectMapper()
        Files.write(spans, Spans.all.map(s => mapper.writeValueAsString(toJava(Map(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))).asJava)
        result("spans") = spans.toString
      }
    } catch {
      case NonFatal(e) =>
        result("fatal") = errorText(e)
        e.printStackTrace()
    } finally {
      wl.close()
      if (spark != null) spark.stop()
      new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValue(out.toFile, toJava(result.toMap))
    }
  }
}
