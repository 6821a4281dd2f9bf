package graft

import org.apache.spark.sql.functions._
import graft.sources.{Layout, Tables}

/** Co-located joins via bucketing — the 100 TB shuffle-elision story: two
  * tables bucketed on the join key with equal bucket counts sort-merge
  * join with NO Exchange on either side.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed-by-key tables join without a shuffle") {
    // the tables land in SparkSpec's warehouse, a new directory per JVM
    Tables.orders(spark, sfDir)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.lineitem(spark, sfDir)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")

    val joined = spark.table("orders_b").hint("merge")
      .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_quantity"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")

    // and it returns the same rows as the plain-parquet join
    val n = joined.count()
    val expected = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(n == expected)
  }

  test("q_join_bucketed's Layout join is exchange-free and matches the shuffle sibling") {
    // the declared query's own join (pre-aggregation): both sides come
    // from Layout.bucketed, so the SMJ must need no Exchange at all
    val bare = Layout.bucketed(spark, sfDir, "orders", "o_orderkey").hint("merge")
      .join(Layout.bucketed(spark, sfDir, "lineitem", "l_orderkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_quantity"))
    val plan = bare.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), s"bucketed Layout join still shuffles:\n$plan")

    // second call reuses the materialized layout (no rebuild): same table
    val again = Layout.bucketed(spark, sfDir, "orders", "o_orderkey")
    assert(again.count() == Tables.orders(spark, sfDir).count())

    // and the full declared query equals its shuffle sibling row-for-row
    val byName = graft.queries.Registry.all.map(q => q.name -> q).toMap
    val fast = byName("q_join_bucketed").build(spark, sfDir).collect()
    val slow = byName("q_join_shuffle").build(spark, sfDir).collect()
    assert(fast.sameElements(slow))
  }
}
