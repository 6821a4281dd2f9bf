package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY.md §8): AQE's runtime skew-join split handles
  * skewed joins; this is the explicit-salting form for the case AQE can't
  * fix — a skewed AGGREGATION key (AQE only splits join partitions).
  * Results are salt-invariant by construction: the salt only routes rows
  * to reducers and sums are associative over salts, so ANY salt
  * assignment — including a retried task picking different values —
  * produces identical output.
  */
object Skew {

  /** Two-phase aggregation for skewed group keys: first aggregate on
    * (key, salt) — spreading each hot key over `salts` reducers — then
    * merge the partials per key. `aggs` must be algebraic (sum/count/min/
    * max-style) for the merge to be exact; pass the partial->merge pair.
    *
    * Example: saltedSum(df, $"k", $"v", 16) == df.groupBy($"k").sum("v")
    * with the single hot-key reducer split 16 ways.
    */
  def saltedSum(df: DataFrame, key: Column, value: Column,
      salts: Int = 16): DataFrame = {
    val salt = pmod(xxhash64(monotonically_increasing_id()), lit(salts))
    df.select(key.as("k"), value.as("v"), salt.as("s"))
      .groupBy(col("k"), col("s"))
      .agg(sum(col("v")).as("partial"))
      .groupBy(col("k"))
      .agg(sum(col("partial")).as("total"))
  }
}
