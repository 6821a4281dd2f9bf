package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe. Bench times the queries under it, Verify
  * checks their answers under it, and Profile, PlanExplain, StreamRunner,
  * the specs and the test-scope probes build through it — so a config
  * change lands everywhere at once. It registers no listener: a caller
  * that wants the per-query record attaches [[Trace]] itself.
  */
object Session {

  /** `local[cpus]` with the timed config. `extra` lands last and carries
    * only per-caller settings that are not part of the measured config
    * (the specs' warehouse dir, StreamRunner's state-store provider).
    *
    * Shuffle sizing that survives a scale-up (r5): a FIXED partition count
    * equal to the core count is right at sf0.1 (one wave, no scheduling
    * overhead) but becomes the bottleneck two decades up — at sf100 a
    * 600 M-row lineitem shuffle split 32 ways is ~19 M rows (~2 GB) per
    * partition, past what a task's share of execution memory can sort or
    * hash-aggregate without spilling (measured: TPC-H Q18's 150 M-group
    * aggregation ×112 per decade instead of ~linear). So AQE's starting
    * partition count is sized to the DATA ([[Bench.dataSizedInitParts]]:
    * one partition per ~32 MB of source bytes, floored at the core count,
    * capped at 32× cores) and AQE coalesces small partitions back at
    * runtime. sf0.1 keeps exactly the core-count waves; sf100 starts
    * shuffles ~500-way. On a real cluster the same derivation holds with
    * executor count in place of cores.
    *
    * AQE coalesce target 32 MB (r6, measured at sf100): rows in
    * post-aggregate shuffles are far smaller than scan rows, so a
    * byte-sized advisory overpacks GROUPS per task — Q18's first aggregate
    * ran 111 s at 64 MB, 53 s at 32 MB, 59 s at 16 MB, 274 s at 256 MB;
    * the sf0.1 surface is unchanged within the host band at 32 MB.
    */
  def build(sfDir: String, cpus: Int,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Bench.dataSizedInitParts(sfDir, cpus.toLong).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
