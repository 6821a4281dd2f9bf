package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthetic CalTopo GeoJSON-feature table, mirroring the reference's input
  * envelope (`/root/reference/task.ts:71-88`, properties schema
  * `task.ts:18-41`), generated *deterministically* from the driver parquet
  * tables (`part` × geometry-kind, folders from `region`) so it is
  * sf-parametric and DuckDB-oracle-checkable (SURVEY.md §7.2, FIXTURES.md §2).
  *
  * Field-name mapping: the reference uses hyphenated JSON keys
  * (`marker-color`, `stroke-opacity`, …; `task.ts:25-36`); we use snake_case
  * column names for SQL ergonomics. `geometry` is the reference's
  * `Type.Any()` (`task.ts:81`) modeled as `STRUCT<type STRING, coordinates
  * STRING>` where `coordinates` is JSON text — rank-specific parsing happens
  * in the coordinate operators (SURVEY.md §7.4), keeping everything inside
  * codegen'd built-ins and avoiding a UDT.
  *
  * The generation rules below are mirrored verbatim in
  * [[graft.queries.CalTopoQueries.featuresCte]]; any change here must change
  * there too. All derived doubles are either exact in binary (±0.5, ±0.25,
  * integers) or the same single IEEE division in both engines, so
  * engine-vs-oracle comparison is bit-exact.
  */
object CalTopoFeatures {

  val geometryDdl = "STRUCT<type: STRING, coordinates: STRING>"

  /** Scalar "source of truth" columns (pre-geometry-encoding). Used both to
    * build the feature table and, in tests, to cross-check the JSON round
    * trip.
    */
  def build(spark: SparkSession, dir: String,
      spread: Boolean = false): DataFrame = {
    // spread=true (r14): hash-repartition a small `part` scan to the core
    // count (Tables.spreadSmall; no-op at scale) — for the consumers that
    // run heavy per-row kernels over the feature rows (the from_json
    // round trip of typed_decode, the coordinate truncation walks); the
    // cheap consumers (plain projections/joins + orderBy) keep the
    // default false, where the exchange was measured as pure overhead
    // (×2–2.8 on their sub-second cells)
    val part = if (spread) Tables.spreadSmall(spark, dir, "part")
               else Tables.part(spark, dir)
    val region = Tables.region(spark, dir)

    val folders = region.select(
      concat(lit("F"), col("r_regionkey").cast("string")).as("id"),
      lit("Folder").as("class"),
      col("r_name").as("title"),
      lit(null).cast("string").as("description"),
      lit("caltopo").as("creator"),
      (lit(1700000000000L) + col("r_regionkey")).as("updated"),
      lit(null).cast("string").as("marker_symbol"),
      lit(null).cast("string").as("marker_rotation"),
      lit(null).cast("string").as("marker_color"),
      lit(null).cast("string").as("marker_size"),
      lit(null).cast("string").as("stroke"),
      lit(null).cast("double").as("stroke_opacity"),
      lit(null).cast("double").as("stroke_width"),
      lit(null).cast("string").as("pattern"),
      lit(null).cast("string").as("fill"),
      lit(null).cast("double").as("fill_opacity"),
      lit(null).cast("string").as("folder_id"),
      lit(null).cast("boolean").as("visible"),
      lit(null).cast("boolean").as("label_visible"),
      lit(null).cast(geometryDdl).as("geometry")
    )

    val k = col("p_partkey")
    val lon = (k % 360).cast("double") - 180 + 0.5
    val lat = (k % 180).cast("double") - 90 + 0.25
    val alt = col("p_size").cast("double")
    val tc = k.cast("double")
    // CalTopo emits 4+-component positions (task.ts:123): [lon, lat, alt, t].
    val pointCoords = to_json(array(lon, lat, alt, tc))
    val lineCoords = to_json(
      array(array(lon, lat, alt, tc), array(lon + 1, lat + 1, alt + 1, tc + 1)))
    // rank-4 geometry (two polygons, one ring each) so coord_truncate's
    // oracle exercises truncateGeometry's MultiPolygon branch (VERDICT r1
    // §wrong.1); all offsets are exact in binary (+1/+2/+3 on .5/.25
    // fractions), so engine-vs-oracle doubles compare bit-exact
    val mpolyCoords = to_json(array(
      array(array(
        array(lon, lat, alt, tc), array(lon + 1, lat, alt, tc + 1),
        array(lon + 1, lat + 1, alt, tc + 2), array(lon, lat, alt, tc))),
      array(array(
        array(lon + 2, lat + 2, alt, tc), array(lon + 3, lat + 2, alt, tc),
        array(lon + 2, lat + 3, alt, tc)))))
    val geomType = when(k % 11 === 0, lit(null).cast("string"))
      .when(k % 9 === 1, lit("MultiPolygon"))
      .when(k % 2 === 0, lit("Point"))
      .otherwise(lit("LineString"))
    val geometry = when(k % 11 === 0, lit(null).cast(geometryDdl))
      .otherwise(struct(
        geomType.as("type"),
        when(geomType === "Point", pointCoords)
          .when(geomType === "MultiPolygon", mpolyCoords)
          .otherwise(lineCoords).as("coordinates")))

    val feats = part.select(
      concat(lit("P"), k.cast("string")).as("id"),
      when(k % 2 === 0, "Marker").otherwise("Shape").as("class"),
      col("p_name").as("title"),
      when(k % 7 === 0, lit(null).cast("string"))
        .when(k % 7 === 1, lit(""))
        .otherwise(concat(lit("desc of "), col("p_name"))).as("description"),
      lit("caltopo").as("creator"),
      (lit(1700000000000L) + k).as("updated"),
      when(k % 2 === 0, lit("point")).otherwise(lit(null).cast("string")).as("marker_symbol"),
      lit(null).cast("string").as("marker_rotation"),
      when(k % 5 === 0, lit("FF0000"))
        .when(k % 5 === 1, lit("00FF00"))
        .when(k % 5 === 2, lit(""))
        .otherwise(lit(null).cast("string")).as("marker_color"),
      when(k % 4 === 0, col("p_size").cast("string"))
        .otherwise(lit(null).cast("string")).as("marker_size"),
      when(k % 3 === 0, lit("#FF8800")).otherwise(lit(null).cast("string")).as("stroke"),
      when(k % 4 === 0, lit(null).cast("double"))
        .otherwise((k % 10).cast("double") / 10.0).as("stroke_opacity"),
      when(k % 6 === 0, lit(null).cast("double"))
        .otherwise(col("p_size").cast("double")).as("stroke_width"),
      when(k % 8 === 0, lit("solid")).otherwise(lit(null).cast("string")).as("pattern"),
      when(k % 3 === 1, lit("#00AAFF")).otherwise(lit(null).cast("string")).as("fill"),
      when(k % 5 === 0, lit(0.5)).otherwise(lit(null).cast("double")).as("fill_opacity"),
      when(k % 7 === 2, lit(null).cast("string"))
        .when(k % 7 === 3, lit("F99"))
        .otherwise(concat(lit("F"), (k % 5).cast("string"))).as("folder_id"),
      (k % 2 === 0).as("visible"),
      (k % 3 === 0).as("label_visible"),
      geometry.as("geometry")
    )

    folders.unionByName(feats)
  }

  /** The feature record schema for strict `from_json` decoding — the engine's
    * analog of the reference's TypeBox envelope validation (`task.ts:71-88`).
    */
  val featureSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("class", StringType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("creator", StringType),
    StructField("updated", LongType),
    StructField("marker_symbol", StringType),
    StructField("marker_rotation", StringType),
    StructField("marker_color", StringType),
    StructField("marker_size", StringType),
    StructField("stroke", StringType),
    StructField("stroke_opacity", DoubleType),
    StructField("stroke_width", DoubleType),
    StructField("pattern", StringType),
    StructField("fill", StringType),
    StructField("fill_opacity", DoubleType),
    StructField("folder_id", StringType),
    StructField("visible", BooleanType),
    StructField("label_visible", BooleanType),
    StructField("geometry", StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", StringType))))
  ))

  /** Encode each feature row as a JSON document (the wire shape a REST JSON
    * source would deliver, cf. `task.ts:68-70`), then strictly decode it back
    * with [[featureSchema]] — `typed_decode`'s implementation. FAILFAST makes
    * decode failure abort like the reference's `res.typed(...)`.
    */
  def jsonRoundTrip(features: DataFrame): DataFrame = {
    val asJson = features.select(to_json(struct(features.columns.map(col).toSeq: _*)).as("json"))
    asJson.select(
      from_json(col("json"), featureSchema, Map("mode" -> "FAILFAST")).as("f"))
      .select(col("f.*"))
  }
}
