package graft

/** The specs run under the config Bench times: [[Session.build]] is the
  * only session recipe, and SparkSpec's session comes from it. Every main
  * reads its `SPARK_GRAFT_*` environment through [[Session.env]].
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
    assert(c.get("spark.sql.warehouse.dir").endsWith(SparkSpec.warehouse.toString))
  }

  test("env: defaults, a rejected SPARK_GRAFT_CPUS, and ONLY's order, trimming and empty entries") {
    val d = Session.env(Map.empty)
    assert(d == Session.Env("/root/testdata/sf0.1", 4, Seq.empty, 1, "target/plans", 1, "hdfs"))
    assert(d.queries.map(_._1) == SparkEntry.queries.keys.toSeq)
    val e = intercept[IllegalArgumentException](Session.env(Map("SPARK_GRAFT_CPUS" -> "lots")))
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    intercept[IllegalArgumentException](Session.env(Map("SPARK_GRAFT_RUNS" -> "0")))
    val f = intercept[IllegalArgumentException](
      Session.env(Map("SPARK_GRAFT_STREAM_MAX_FILES" -> "-1")))
    assert(f.getMessage.contains("SPARK_GRAFT_STREAM_MAX_FILES"), f.getMessage)
    val st = intercept[IllegalArgumentException](
      Session.env(Map("SPARK_GRAFT_STATE_STORE" -> "rocks")))
    assert(st.getMessage.contains("SPARK_GRAFT_STATE_STORE"), st.getMessage)
    assert(Session.env(Map("SPARK_GRAFT_STATE_STORE" -> "RocksDB")).stateStore == "rocksdb")
    val picked = Session.env(Map("SPARK_GRAFT_ONLY" -> " q_cube ,,flagship, q_percentile ,",
      "SPARK_GRAFT_SF_DIR" -> "/x", "SPARK_GRAFT_CPUS" -> "2"))
    assert(picked.only == Seq("q_cube", "flagship", "q_percentile"))
    assert(picked.queries.map(_._1) == Seq("q_cube", "flagship", "q_percentile"))
    assert((picked.sfDir, picked.cpus) == ("/x", 2))
    assert(Session.env(Map("SPARK_GRAFT_ONLY" -> " , ")).only.isEmpty)
  }

  test("env: an unknown SPARK_GRAFT_ONLY name is rejected by name") {
    // the parse keeps the names; the selection the query tools run
    // before building a session rejects an unknown one
    val only = Session.env(Map("SPARK_GRAFT_ONLY" -> "flagship,q_nope"))
    assert(only.only == Seq("flagship", "q_nope"))
    val e = intercept[IllegalArgumentException](only.queries)
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY") && e.getMessage.contains("q_nope"),
      e.getMessage)
  }
}
