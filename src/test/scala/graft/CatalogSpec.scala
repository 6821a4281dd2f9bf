package graft

import graft.sources.Tables

/** A15 schema introspection contracts. */
class CatalogSpec extends SparkSpec {

  test("catalog describes every driver table plus the feature record") {
    val d = Catalog.describe(spark, sfDir)
    assert(Tables.names.forall(d.contains))
    assert(d("lineitem").contains("l_orderkey BIGINT"))
    assert(d("caltopo_features").contains("geometry"))
    assert(Catalog.schemaJson(spark, sfDir, "region").contains("r_regionkey"))
  }
}
