package graft

/** Prints the [[Trace]] of the queries of [[Session.env]] under Bench's
  * session ([[Session.build]]), warmed as Bench warms it
  * ([[Session.warm]]). Usage:
  *
  *   SPARK_GRAFT_ONLY=q_dedup_minhash SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Profile"
  *
  * With `SPARK_GRAFT_ONLY` set, each listed query is built and written to
  * noop `SPARK_GRAFT_RUNS` times (default 1), and each run prints, per
  * phase (build, then exec), one `[job]` line per job (id, wall ms, tasks,
  * input records, what ran it), one `[plan]` line per query execution
  * (action; analysis, optimization, planning and run ms) and a `[phase]`
  * counter line; then a `[materialize]` line per [[Materialize]] call of
  * the build (site, stored / deferred / known, rows, bytes, exchanges,
  * folds, routes); then its total. Unset, every declared query runs,
  * with no per-run lines. Each run is [[Session.guarded]], so a failed
  * query is logged and left out of the table. Either way Profile ends
  * with each run's build and exec job counts, sorted by total — job
  * round-trips, not data, make most of the small-SF suite's time — and
  * writes them to `target/jobcount.json`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val env = Session.env()
    val queries = env.queries
    val perRun = env.only.nonEmpty
    val spark = Session.build(env.sfDir, env.cpus)
    Session.warm(spark, env.sfDir)
    val rows = Trace(spark) { trace =>
      for {
        (n, fn) <- queries
        r <- 1 to env.runs
        row <- Session.guarded("profile", n) {
          val built = trace.build(fn(spark, env.sfDir))
          val (build, exec) = (built.phase, trace.execute(built.df))
          System.gc()
          val wall = (build.wallNs + exec.wallNs) / 1e9
          if (perRun) {
            println(s"---- $n run $r ----")
            printPhase("build", build)
            printPhase("exec", exec)
            build.calls.foreach(c => println(s"[materialize] $c"))
            println(f"---- $n run $r total $wall%.3f s (build ${build.wallNs / 1e6}%.1f ms," +
              s" returned plan ${built.exchanges} exchanges) ----")
          }
          (n, build.jobs.size, exec.jobs.size, wall, build.wallNs / 1e9)
        }.toOption
      } yield row
    }
    table(rows, env.sfDir)
    spark.stop()
  }

  private def printPhase(what: String, p: Trace.Phase): Unit = {
    p.jobs.sortBy(_.id).foreach { j =>
      println(f"[job] ${j.id}%4d ${j.wallMs}%7d ms  tasks=${j.tasks}%4d" +
        f"  records=${j.recordsRead}%8d  ${j.what}")
    }
    p.executions.foreach { x =>
      println(f"[plan] ${x.action}%-12s analysis ${x.analysisMs}%5d ms" +
        f"  optimization ${x.optimizationMs}%5d ms" +
        f"  planning ${x.planningMs}%5d ms  run ${x.runNs / 1e6}%9.1f ms")
    }
    println(f"[phase] $what%-5s jobs=${p.jobs.size} stages=${p.stages} tasks=${p.tasks}" +
      f" task_failures=${p.taskFailures} cpu=${p.cpuNs / 1e6}%.1f ms" +
      s" shuffle_write=${p.shuffleWrite} B shuffle_read=${p.shuffleRead} B spill=${p.spill} B")
  }

  /** The per-query job table, sorted by total jobs then name, and its
    * JSON copy.
    */
  private def table(rows: Seq[(String, Int, Int, Double, Double)], sfDir: String): Unit = {
    println(f"${"query"}%-34s ${"build"}%5s ${"exec"}%5s ${"total"}%5s ${"wall"}%7s ${"buildWall"}%9s")
    rows.sortBy { case (name, b, e, _, _) => (-(b + e), name) }.foreach {
      case (name, b, e, w, tb) =>
        println(f"$name%-34s $b%5d $e%5d ${b + e}%5d $w%7.2f s $tb%7.2f s")
    }
    println(f"[jobcount] TOTAL queries=${rows.size} jobs=${rows.map(r => r._2 + r._3).sum}" +
      f" wall=${rows.map(_._4).sum}%.1f s sf=$sfDir")
    val json = rows.sortBy(_._1).map { case (name, b, e, w, _) =>
      s"""\"$name\":{"build":$b,"exec":$e,"wall":${f"$w%.2f"}}"""
    }.mkString("{", ",", "}")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("target/jobcount.json"), json)
    catch { case scala.util.control.NonFatal(e) => System.err.println(s"[jobcount] dump: $e") }
  }
}
