package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** [[Materialize]]'s contract: the measured rows and folds are exactly
  * what `count()` and `agg()` give over the same frame, the optimizer
  * sees them, the checkpoint keeps the input's partitioning, and the
  * bounds the callers rely on hold whatever a frame's statistics claim.
  */
class MaterializeSpec extends SparkSpec {

  /** (id, m int, b boolean) with nulls in m and b, over `parts` partitions. */
  private def frame(n: Long, parts: Int): DataFrame =
    spark.range(0L, n, 1L, parts).select(col("id"),
      when(col("id") % 5 =!= 0, (col("id") % 7).cast("int")).as("m"),
      when(col("id") % 3 =!= 0, col("id") % 2 === 0).as("b"))

  test("rows and folds equal count() and agg() on empty, one- and multi-partition inputs") {
    for ((n, parts) <- Seq((0L, 1), (1000L, 1), (1000L, 7))) {
      val df = frame(n, parts)
      val m = Materialize(df, s"MaterializeSpec $n/$parts", Materialize.sum("id"),
        Materialize.max("m"), Materialize.any("b"), Materialize.sum("b"))
      val want = df.agg(count(lit(1)), sum(col("id")), max(col("m")),
        count(when(col("b"), 1)), sum(col("b").cast("long"))).head()
      assert(m.rows == want.getLong(0), s"rows at $n/$parts")
      assert(m.sum(0) == Option(want.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
      assert(m.value(1) == Option(want.get(2)).map(_.asInstanceOf[Int].toLong))
      assert(m.any(2) == (want.getLong(3) > 0L))
      assert(m.sum(3) == Option(want.get(4)).map(_.asInstanceOf[Long]).getOrElse(0L))
      // the stored frame holds the same rows
      assert(m.df.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    }
  }

  test("the optimizer's statistics are the measured count and bytes") {
    val m = Materialize(frame(1000L, 4).filter(col("id") < 137), "MaterializeSpec stats")
    assert(m.rows == 137L)
    val stats = m.df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(137)))
    assert(stats.sizeInBytes == BigInt(m.bytes) && m.bytes > 0L)
    assert(Materialize.knownRows(m.df.select(col("id"))).contains(137L))
    // a plain checkpoint's statistics are estimates, never trusted as exact
    assert(Materialize.knownRows(frame(10L, 1).localCheckpoint(true)).isEmpty)
  }

  test("a known count is not stored again and a deferred call runs no job") {
    val m = Materialize(frame(100L, 2), "MaterializeSpec once")
    val ((again, deferred), calls) = Trace(spark)(_.phase {
      (Materialize(m.df.select(col("id"), col("b")), "MaterializeSpec again"),
        Materialize.deferred(frame(100L, 2), "MaterializeSpec deferred"))
    })
    assert(calls.jobs.isEmpty, s"${calls.jobs.size} jobs")
    assert(again.rows == 100L && again.call.how == "known")
    assert(deferred.count() == 100L)
  }

  test("a repartition(dst) input keeps its hash partitioning") {
    // the connected-components loop joins every round on dst against an
    // edge frame partitioned by dst before it is stored
    val edges = spark.range(0L, 500L, 1L, 3)
      .select((col("id") % 50).as("src"), (col("id") % 37).as("dst"))
      .repartition(col("dst"))
    for (stored <- Seq(Materialize(edges, "MaterializeSpec edges").df,
        Materialize.deferred(edges, "MaterializeSpec edges deferred"))) {
      val plan = stored.groupBy(col("dst")).agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"re-shuffled a dst-partitioned frame:\n$plan")
    }
  }

  test("an over-cap pair frame reaches the driver as at most driverCap + P rows, whatever its stats claim") {
    // clusters() hands a frame whose known count is under the cap to
    // Materialize.bounded, whose per-partition share enforces the cap in
    // code, so a frame whose statistics lie (10 rows claimed, 3 000 stored
    // over 8 partitions) sends at most driverCap + 8 rows to the driver and
    // takes the distributed loop
    import spark.implicits._
    val ck = (0 until 1000).flatMap { c =>
        val b = c * 10L
        Seq((b, b + 1), (b + 1, b + 2), (b + 5, b + 6))
      }.toDF("id_a", "id_b").repartition(8).localCheckpoint(true)
    GraftSqlBridge.checkpointRdd(ck).setName(Materialize.Measured + "forged")
    val lying = GraftSqlBridge.restated(ck, ck, Some((10L, 160L)))
    assert(Materialize.knownRows(lying).contains(10L))
    val expected = (0 until 1000).flatMap { c =>
      val b = c * 10L
      Seq(b -> b, (b + 1) -> b, (b + 2) -> b, (b + 5) -> (b + 5), (b + 6) -> (b + 5))
    }.toMap
    val (got, run) = Trace(spark)(_.phase(Dedup.clusters(lying, driverCap = 100L)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap))
    assert(got == expected, "labels under a lying row count")
    val call = run.calls.find(_.site == "Dedup.clusters pairs")
    assert(call.exists(c => c.rows == 3000L && c.route == "cc=distributed"), s"$call")
    assert(call.exists(c => c.collected >= 0L && c.collected <= 100L + 8L),
      s"${call.map(_.collected)} pair rows reached the driver past a cap of 100")
  }

  test("a bounded call sends at most cap + P rows to the driver, whatever the frame's stats claim") {
    // 3 000 stored rows over 8 partitions, claimed as 10
    val ck = spark.range(0L, 3000L, 1L, 8).toDF("id").localCheckpoint(true)
    GraftSqlBridge.checkpointRdd(ck).setName(Materialize.Measured + "forged bounded")
    val lying = GraftSqlBridge.restated(ck, ck, Some((10L, 80L)))
    assert(Materialize.knownRows(lying).contains(10L))
    val cap = 100
    val over = Materialize.bounded(lying, "MaterializeSpec bounded lying", cap,
      Materialize.sum("id"))
    assert(over.rows == 3000L && over.sum(0) == 2999L * 3000L / 2)
    assert(over.local.isEmpty)
    assert(over.call.collected >= 0L && over.call.collected <= cap + 8L,
      s"${over.call.collected} rows reached the driver past a cap of $cap")
    assert(over.df.count() == 3000L)
    // 100 rows over 8 partitions sit within each share of ⌈101 / 8⌉ = 13
    val fits = Materialize.bounded(frame(100L, 8), "MaterializeSpec bounded fits", cap)
    assert(fits.local.map(_.map(_.getLong(0)).sorted) == Some((0L until 100L).toSeq))
    assert(fits.local.get.head.schema == frame(1L, 1).schema)
    // 104 rows, 13 in each partition: every partition within its share,
    // the frame over the cap
    val just = Materialize.bounded(frame(104L, 8), "MaterializeSpec bounded just over", cap)
    assert(just.local.isEmpty && just.call.collected == 104L)
    // 50 rows in one of 8 partitions: under the cap, over that partition's share
    val skewed = Materialize.bounded(frame(50L, 1).repartition(8, lit(0)),
      "MaterializeSpec bounded skewed", cap)
    assert(skewed.rows == 50L && skewed.local.isEmpty && skewed.call.collected == 0L)
    // an empty frame fits any cap
    assert(Materialize.bounded(frame(0L, 1), "MaterializeSpec bounded empty", 0)
      .local.contains(Nil))
  }

  test("an over-cap side is not broadcast") {
    val small = Materialize(frame(5000L, 4), "MaterializeSpec side")
    val big = spark.range(0L, 20000L, 1L, 4).toDF("id")
    def joinPlan(fits: Boolean): String = {
      val out = big.join(small.broadcastIf("side", fits)(small.df), Seq("id"))
      out.collect()
      out.queryExecution.executedPlan.toString
    }
    // measured at ~5 000 rows, the side is far over a 1 KB threshold, so
    // without the hint neither the planner nor AQE broadcasts it
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    try {
      val over = joinPlan(small.rows <= 100L)
      assert(small.call.route == "side=shuffle")
      assert(!over.contains("BroadcastHashJoin") && !over.contains("BroadcastExchange"), over)
      assert(joinPlan(small.rows <= 10000L).contains("BroadcastHashJoin"))
      assert(small.call.route == "side=broadcast")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
