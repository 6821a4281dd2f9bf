package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salting correctness: the salted aggregation must equal its unsalted
  * plan exactly, on data with a deliberately hot key.
  */
class SkewSpec extends SparkSpec {

  private def skewed = {
    import spark.implicits._
    // 90% of rows share key 1
    (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 1L, i.toDouble))
      .toDF("k", "v")
  }

  test("salted aggregation equals plain groupBy sum on a hot key") {
    val salted = Skew.saltedSum(skewed, col("k"), col("v"), salts = 16)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val plain = skewed.groupBy(col("k")).agg(sum(col("v")).as("total"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(salted.sameElements(plain))
  }
}
