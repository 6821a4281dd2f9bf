package graft

/** The native kernels are reachable from SQL on every engine session:
  * [[Session.build]] installs [[GraftExtensions]], so the spec session
  * resolves them with no registration call.
  */
class ExtensionsSpec extends SparkSpec {

  test("dot_product and l2_norm are callable from SQL and match the Column API") {
    Sql.register(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT vec_id, dot_product(embedding, embedding) AS d, l2_norm(embedding) AS n
         FROM embeddings ORDER BY vec_id LIMIT 20""").collect()
    import org.apache.spark.sql.functions._
    val viaCol = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.operators.Vectors.dot(col("embedding"), col("embedding")).as("d"),
        graft.operators.Vectors.norm(col("embedding")).as("n"))
      .orderBy("vec_id").limit(20).collect()
    assert(viaSql.sameElements(viaCol))
  }

  test("arity errors are rejected") {
    // the registered builder's own message: an unregistered l2_norm fails
    // too, but as an unresolved routine, which names no arity
    val e = intercept[Exception] {
      spark.sql("SELECT l2_norm()").collect()
    }
    assert(e.getMessage.contains("l2_norm expects 1 arguments, got 0"), e.getMessage)
  }
}
