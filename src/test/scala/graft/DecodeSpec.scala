package graft

import org.apache.spark.sql.functions._
import graft.sources.CalTopoFeatures

/** Typed-decode failure mode: FAILFAST aborts, the reference's
  * `res.typed()` behavior.
  */
class DecodeSpec extends SparkSpec {

  test("failfast decode aborts on a corrupt document") {
    import spark.implicits._
    val bad = Seq("""{"id":"x","updated":"nope"}""").toDF("json")
    intercept[Exception] {
      bad.select(from_json(col("json"), CalTopoFeatures.featureSchema,
          java.util.Map.of("mode", "FAILFAST")).as("f"))
        .select(col("f.*")).collect()
    }
  }
}
