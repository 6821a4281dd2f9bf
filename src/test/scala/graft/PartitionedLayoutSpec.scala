package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Partitioned table layout: writes partitioned by a filter column prune
  * at the directory level — the 100 TB layout where a predicate skips
  * entire partitions before any IO (PartitionFilters in the scan, not
  * DataFilters).
  */
class PartitionedLayoutSpec extends SparkSpec {

  test("partitionBy layout prunes directories for partition-key predicates") {
    val dir = scratchDir("graft-partitioned").resolve("events").toString
    Tables.events(spark, sfDir)
      .write.partitionBy("event_type").parquet(dir)

    val q = spark.read.parquet(dir).filter(col("event_type") === "error")
    val plan = q.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (directory pruning),
    // not DataFilters (row-level filtering after reading)
    val scanLine = plan.linesIterator.find(_.contains("FileScan")).get
    assert(scanLine.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition filter in: $scanLine")

    // and the rows are intact
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "error").count()
    assert(q.count() == expected)
  }
}
