package graft

/** The specs run under the config Bench times: [[Session.build]] is the
  * only session recipe, and SparkSpec's session comes from it.
  */
class SessionSpec extends SparkSpec {

  test("the spec session carries the timed config") {
    val c = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(c.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      == Bench.dataSizedInitParts(sfDir, 4).toString)
    assert(c.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "33554432")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(c.get("spark.ui.enabled") == "false")
    // the one per-caller extra the specs add
    assert(c.get("spark.sql.warehouse.dir").endsWith("/tmp/graft-warehouse"))
  }
}
