package graft

import org.apache.spark.sql.SparkSession
import graft.sources.{CalTopoFeatures, Tables}

/** Schema introspection surface (SURVEY.md §2 A15): the reference serves
  * its declared input/output JSON schemas from `schema(type, flow)`
  * (`/root/reference/task.ts:48-61`); the engine's analog exposes every
  * table's schema as JSON or DDL, plus the typed feature-record schema used
  * for strict decode (A2).
  */
object Catalog {

  /** Schema of a driver table as Spark's JSON schema encoding. */
  def schemaJson(spark: SparkSession, dir: String, table: String): String =
    Tables.load(spark, dir, table).schema.json

  /** Schema of a driver table as DDL (`col TYPE, ...`). */
  def schemaDdl(spark: SparkSession, dir: String, table: String): String =
    Tables.load(spark, dir, table).schema.toDDL

  /** All schemas, keyed by table — the `schema()` capability catalog. */
  def describe(spark: SparkSession, dir: String): Map[String, String] =
    Tables.names.map(t => t -> schemaDdl(spark, dir, t)).toMap +
      ("caltopo_features" -> CalTopoFeatures.featureSchema.toDDL)
}
