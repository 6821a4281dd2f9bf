package graft

import graft.sources.Tables

/** A15 schema introspection + A3 config parsing contracts. */
class CatalogSpec extends SparkSpec {

  test("catalog describes every driver table plus the feature record") {
    val d = Catalog.describe(spark, sfDir)
    assert(Tables.names.forall(d.contains))
    assert(d("lineitem").contains("l_orderkey BIGINT"))
    assert(d("caltopo_features").contains("geometry"))
    assert(Catalog.schemaJson(spark, sfDir, "region").contains("r_regionkey"))
  }

  test("config: defaults applied, required key enforced, bad values rejected") {
    val c = Config.fromEnv(Map("SHARE_ID" -> "abc"))
    assert(c == Config("abc", debug = false))
    assert(Config.fromEnv(Map("SHARE_ID" -> "x", "DEBUG" -> "true")).debug)
    intercept[IllegalArgumentException] { Config.fromEnv(Map.empty) }
    intercept[IllegalArgumentException] {
      Config.fromEnv(Map("SHARE_ID" -> "x", "DEBUG" -> "yes"))
    }
  }
}
