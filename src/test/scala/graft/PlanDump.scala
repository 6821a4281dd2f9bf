package graft
import graft.queries.Registry

/** Regenerates PLANS.md. The session is Bench's ([[Session.build]]) at
  * the timed local[32], and it plans against sf0.1 — the SF the
  * bench actually measures (VERDICT r3 §next.7: AQE/broadcast thresholds
  * see sf0.1 input stats, so plans recorded at sf0.001 could differ from
  * the benched ones).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = 32
    val spark = Session.build(sfDir, cpus)
    val names = Seq("flagship", "q_sql_tpch_q5", "q_sql_tpch_q18", "q_dedup_minhash",
      "q_knn_lsh", "q_percentile", "q_text_repetition", "q_pack_sequences",
      "q_stream_join", "q_event_retention", "q_text_tfidf", "q_dedup_clusters",
      "q_text_vocab", "q_ntile", "q_ntile_approx", "q_knn_lsh_dedup",
      "q_dedup_pipeline_exact_first", "q_dedup_clusters_exact_first",
      "q_join_bucketed")
    val sb = new StringBuilder
    sb.append(s"# PLANS — headline physical plans ($sfDir, local[$cpus], " +
      "shuffle.partitions=" + cpus + " — the bench config; key operator lines only)\n\n")
    sb.append("Generated from `queryExecution.executedPlan` (initial plan — AQE may further\n")
    sb.append("coalesce/replan at runtime). Lines filtered to joins, exchanges, aggregates,\n")
    sb.append("windows, generators, and scans — the operators that decide 100 TB behavior.\n")
    sb.append("Iterative operators (the dedup CC family) materialize intermediate stages as\n")
    sb.append("checkpointed RDDs; their final-query plans start from `Scan ExistingRDD` —\n")
    sb.append("or, at this SF, from a `LocalTableScan`: sf0.1's candidate graphs sit far\n")
    sb.append("under `Dedup.clusters`' driverCap (2^20 edges), so the component labels come\n")
    sb.append("from driver-side union-find over the already-checkpointed edge frame (r7\n")
    sb.append("adaptive route; the distributed pointer-jumping plan — the 100 TB path — is\n")
    sb.append("unchanged and exercised by DedupSpec with driverCap=0).\n")
    sb.append("Note on `q_text_tfidf`: the initial plan below shows two `Generate`\n")
    sb.append("(explode) branches, but at runtime AQE's stage cache serves both\n")
    sb.append("aggregate branches from ONE exchange — the executed final plan has a\n")
    sb.append("single Generate + a ReusedExchange (kept canonical-identical by the\n")
    sb.append("pruning-blocking `tf >= 1` filter; probed, and A/B-measured 405→269 s\n")
    sb.append("at sf100).\n")
    sb.append("Note on `ts` attributes (ADVICE r6): events.ts appears WITHOUT the `L`\n")
    sb.append("long-type suffix because the driver's testdata generation stores it as\n")
    sb.append("parquet `timestamp[us]` (TimestampType); earlier generations stored\n")
    sb.append("nanos-as-long (LongType under the `nanosAsLong` flag).\n")
    sb.append("`Tables.normalizeTs` is the single normalization accepting both\n")
    sb.append("generations, and the full correctness surface (CORRECTNESS_r06:\n")
    sb.append("100/100 oracle pass) ran against the current micros type — the schema\n")
    sb.append("drift is driver-side and absorbed, not a regression.\n")
    // each plan's decisive operator lines: joins, exchanges, aggregates,
    // windows, generators, scans
    val keep = Seq("Join", "Exchange", "HashAggregate", "ObjectHashAggregate",
      "SortAggregate", "Window", "Generate", "FileScan", "Scan", "TakeOrdered",
      "CollectMetrics", "Expand", "WindowGroupLimit", "BatchEvalPython", "Sort ")
    for (n <- names) {
      val q = Registry.all.find(_.name == n).get
      val plan = q.build(spark, sfDir).queryExecution.executedPlan.toString
      sb.append(s"\n## $n\n\n```\n")
      plan.split("\n").foreach { l =>
        if (keep.exists(l.contains)) sb.append(l.take(160)).append("\n")
      }
      sb.append("```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
