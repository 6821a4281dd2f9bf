package graft

import org.apache.spark.sql.functions._
import graft.operators.CalTopo
import graft.sources.CalTopoFeatures

/** Nested schema pruning: selecting one field of a deeply nested struct
  * must shrink the parquet ReadSchema to that field — at 100 TB a feature
  * table's properties struct is most of the bytes, and a query touching
  * one sub-field must not read the rest.
  */
class NestedPruningSpec extends SparkSpec {

  test("selecting one nested field prunes the parquet ReadSchema to it") {
    val dir = scratchDir("graft-nested").resolve("features").toString
    CalTopo.projectNest(CalTopo.mainFlow(CalTopoFeatures.build(spark, sfDir)))
      .write.parquet(dir)

    val q = spark.read.parquet(dir)
      .select(col("properties.metadata.title").as("title"))
    val scanLine = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("title"), s"title missing: $scanLine")
    // sibling metadata fields and the geometry column must NOT be read
    assert(!scanLine.contains("geometry"), s"geometry read: $scanLine")
    assert(!scanLine.contains("creator"), s"sibling field read: $scanLine")
    assert(q.count() > 0)
  }
}
