package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.CalTopo
import graft.sources.CalTopoFeatures

/** Part A of SURVEY.md §2 — every operator the reference implements, declared
  * as an individually oracle-checked query over the synthetic CalTopo feature
  * table (FIXTURES.md §2). The DuckDB oracle regenerates the same feature
  * table from `part`/`region` with [[featuresCte]] and applies the reference
  * semantics in SQL.
  */
object CalTopoQueries {

  /** DuckDB mirror of [[graft.sources.CalTopoFeatures.build]] — keep in
    * lockstep with it. Geometry is carried as scalar generation columns
    * (geom_type, lon, lat, alt, tc); the declared query outputs only expose
    * scalars so JSON text formatting is never compared.
    */
  val featuresCte: String = """features AS (
  SELECT 'F' || CAST(r_regionkey AS VARCHAR) AS id, 'Folder' AS class, r_name AS title,
    CAST(NULL AS VARCHAR) AS description, 'caltopo' AS creator,
    1700000000000 + r_regionkey AS updated,
    CAST(NULL AS VARCHAR) AS marker_symbol, CAST(NULL AS VARCHAR) AS marker_rotation,
    CAST(NULL AS VARCHAR) AS marker_color, CAST(NULL AS VARCHAR) AS marker_size,
    CAST(NULL AS VARCHAR) AS stroke, CAST(NULL AS DOUBLE) AS stroke_opacity,
    CAST(NULL AS DOUBLE) AS stroke_width, CAST(NULL AS VARCHAR) AS pattern,
    CAST(NULL AS VARCHAR) AS fill, CAST(NULL AS DOUBLE) AS fill_opacity,
    CAST(NULL AS VARCHAR) AS folder_id, CAST(NULL AS BOOLEAN) AS visible,
    CAST(NULL AS BOOLEAN) AS label_visible,
    CAST(NULL AS VARCHAR) AS geom_type, CAST(NULL AS DOUBLE) AS lon,
    CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS alt, CAST(NULL AS DOUBLE) AS tc
  FROM region
  UNION ALL
  SELECT 'P' || CAST(p_partkey AS VARCHAR),
    CASE WHEN p_partkey % 2 = 0 THEN 'Marker' ELSE 'Shape' END,
    p_name,
    CASE WHEN p_partkey % 7 = 0 THEN NULL WHEN p_partkey % 7 = 1 THEN '' ELSE 'desc of ' || p_name END,
    'caltopo',
    1700000000000 + p_partkey,
    CASE WHEN p_partkey % 2 = 0 THEN 'point' ELSE NULL END,
    CAST(NULL AS VARCHAR),
    CASE WHEN p_partkey % 5 = 0 THEN 'FF0000' WHEN p_partkey % 5 = 1 THEN '00FF00' WHEN p_partkey % 5 = 2 THEN '' ELSE NULL END,
    CASE WHEN p_partkey % 4 = 0 THEN CAST(p_size AS VARCHAR) ELSE NULL END,
    CASE WHEN p_partkey % 3 = 0 THEN '#FF8800' ELSE NULL END,
    CASE WHEN p_partkey % 4 = 0 THEN NULL ELSE CAST(p_partkey % 10 AS DOUBLE) / 10.0 END,
    CASE WHEN p_partkey % 6 = 0 THEN NULL ELSE CAST(p_size AS DOUBLE) END,
    CASE WHEN p_partkey % 8 = 0 THEN 'solid' ELSE NULL END,
    CASE WHEN p_partkey % 3 = 1 THEN '#00AAFF' ELSE NULL END,
    CASE WHEN p_partkey % 5 = 0 THEN 0.5 ELSE NULL END,
    CASE WHEN p_partkey % 7 = 2 THEN NULL WHEN p_partkey % 7 = 3 THEN 'F99' ELSE 'F' || CAST(p_partkey % 5 AS VARCHAR) END,
    p_partkey % 2 = 0,
    p_partkey % 3 = 0,
    CASE WHEN p_partkey % 11 = 0 THEN NULL WHEN p_partkey % 9 = 1 THEN 'MultiPolygon'
         WHEN p_partkey % 2 = 0 THEN 'Point' ELSE 'LineString' END,
    CAST(p_partkey % 360 AS DOUBLE) - 180 + 0.5,
    CAST(p_partkey % 180 AS DOUBLE) - 90 + 0.25,
    CAST(p_size AS DOUBLE),
    CAST(p_partkey AS DOUBLE)
  FROM part
)"""

  /** WHERE clause of the main (non-folder, has-geometry) flow, A5. */
  private val mainWhere = "class <> 'Folder' AND geom_type IS NOT NULL"

  /** The point-branch marker-color firing condition, A12 (JS truthy). */
  private val mcFires =
    "geom_type = 'Point' AND marker_color IS NOT NULL AND marker_color <> ''"

  /** Oracle for A10's observable truncation semantics, shared by
    * `coord_truncate` (codegen'd rank-dispatch path) and
    * `q_udf_geo_truncate` (generic string-walk UDF path) — both paths must
    * produce the same ≤3-component positions at both ends of the nested
    * structure, so they pair with the SAME SQL.
    */
  val coordTruncateSql: String =
    s"""WITH $featuresCte
SELECT id, geom_type, 3 AS n_components, lon AS x, lat AS y, alt AS z,
  3 AS n_last,
  CASE geom_type WHEN 'Point' THEN lon WHEN 'LineString' THEN lon + 1
       WHEN 'MultiPolygon' THEN lon + 2 END AS xl,
  CASE geom_type WHEN 'Point' THEN lat WHEN 'LineString' THEN lat + 1
       WHEN 'MultiPolygon' THEN lat + 3 END AS yl,
  CASE geom_type WHEN 'Point' THEN alt WHEN 'LineString' THEN alt + 1
       WHEN 'MultiPolygon' THEN alt END AS zl
FROM features WHERE $mainWhere ORDER BY id"""

  /** Flatten a truncated-geometry frame to the scalar columns
    * [[coordTruncateSql]] compares (first/last position components).
    * Components are read with `try_element_at`: under ANSI mode
    * `element_at` past a 2-component position fails the query instead of
    * giving null.
    */
  def truncatedScalars(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pos = CalTopo.firstPosition(col("geometry"))
    val lpos = CalTopo.lastPosition(col("geometry"))
    df.select(col("id"), col("geometry.type").as("geom_type"),
      size(pos).as("n_components"),
      try_element_at(pos, lit(1)).as("x"), try_element_at(pos, lit(2)).as("y"),
      try_element_at(pos, lit(3)).as("z"),
      size(lpos).as("n_last"),
      try_element_at(lpos, lit(1)).as("xl"), try_element_at(lpos, lit(2)).as("yl"),
      try_element_at(lpos, lit(3)).as("zl"))
      .orderBy("id")
  }

  val all: Seq[Q] = Seq(

    // A1 — scan: the feature table itself, flattened. The reference pull
    // is `/api/v1/map/<ShareId>/since/-500` (task.ts:68) — a full-state
    // read; the DSv2 source (GeoJsonSource) declares the same `since`
    // cursor as a read option for incremental pulls (SourceSinkSpec pins
    // since-T ≡ full-read-filtered).
    Q("scan_source",
      s"""WITH $featuresCte
SELECT id, class, title, updated, folder_id, geom_type
FROM features ORDER BY id""") { (s, d) =>
      CalTopoFeatures.build(s, d)
        .select(col("id"), col("class"), col("title"), col("updated"),
          col("folder_id"), col("geometry.type").as("geom_type"))
        .orderBy("id")
    },

    // A2 — typed decode: JSON round-trip through the strict feature schema.
    Q("typed_decode",
      s"""WITH $featuresCte
SELECT id, class, title, updated, stroke_opacity, visible, geom_type
FROM features ORDER BY id""") { (s, d) =>
      CalTopoFeatures.jsonRoundTrip(CalTopoFeatures.build(s, d, spread = true))
        .select(col("id"), col("class"), col("title"), col("updated"),
          col("stroke_opacity"), col("visible"),
          col("geometry.type").as("geom_type"))
        .orderBy("id")
    },

    // A4 — folder dimension extraction.
    Q("folder_dim",
      s"""WITH $featuresCte
SELECT id AS fid, title AS ftitle FROM features
WHERE class = 'Folder' ORDER BY fid""") { (s, d) =>
      CalTopo.folderDim(CalTopoFeatures.build(s, d)).orderBy("fid")
    },

    // A5 — null-geometry / folder drop.
    Q("filter_geometry",
      s"""WITH $featuresCte
SELECT id, class, geom_type FROM features
WHERE $mainWhere ORDER BY id""") { (s, d) =>
      CalTopo.mainFlow(CalTopoFeatures.build(s, d))
        .select(col("id"), col("class"), col("geometry.type").as("geom_type"))
        .orderBy("id")
    },

    // A6/A7/A11 — nested restructure + callsign cast-rename + archived const.
    Q("project_nest",
      s"""WITH $featuresCte
SELECT id, 'Feature' AS type, title AS metadata_title, class AS metadata_class,
  title AS callsign, TRUE AS archived
FROM features WHERE $mainWhere ORDER BY id""") { (s, d) =>
      val df = CalTopo.enrichProperties(
        CalTopo.projectNest(CalTopo.mainFlow(CalTopoFeatures.build(s, d))))
      df.select(col("id"), col("type"),
        col("properties.metadata.title").as("metadata_title"),
        col("properties.metadata.class").as("metadata_class"),
        col("properties.callsign").as("callsign"),
        col("properties.archived").as("archived"))
        .orderBy("id")
    },

    // A8 — falsy-coalescing remarks default.
    Q("coalesce_default",
      s"""WITH $featuresCte
SELECT id, description,
  CASE WHEN description IS NULL OR description = '' THEN '' ELSE description END AS remarks
FROM features WHERE $mainWhere ORDER BY id""") { (s, d) =>
      val df = CalTopo.enrichProperties(
        CalTopo.projectNest(CalTopo.mainFlow(CalTopoFeatures.build(s, d))))
      df.select(col("id"),
        col("properties.metadata.description").as("description"),
        col("properties.remarks").as("remarks"))
        .orderBy("id")
    },

    // A9 — conditional style copies + numeric casts.
    Q("style_casts",
      s"""WITH $featuresCte
SELECT id, fill, fill_opacity, stroke, stroke_opacity, stroke_width
FROM features WHERE $mainWhere ORDER BY id""") { (s, d) =>
      val df = CalTopo.enrichProperties(
        CalTopo.projectNest(CalTopo.mainFlow(CalTopoFeatures.build(s, d))))
      df.select(col("id"),
        col("properties.fill").as("fill"),
        col("properties.fill_opacity").as("fill_opacity"),
        col("properties.stroke").as("stroke"),
        col("properties.stroke_opacity").as("stroke_opacity"),
        col("properties.stroke_width").as("stroke_width"))
        .orderBy("id")
    },

    // A10 — coordinate truncation to ≤3 components (4th generated component
    // must be gone: n_components = 3 at BOTH ends of the nested structure —
    // the last position of a MultiPolygon lives in the last ring of the
    // last polygon, so the rank-4 branch is genuinely exercised).
    Q("coord_truncate", coordTruncateSql) { (s, d) =>
      val df = CalTopo.coordTruncate(
        CalTopo.projectNest(CalTopo.mainFlow(
          CalTopoFeatures.build(s, d, spread = true))))
      truncatedScalars(df)
    },

    // A12 — point branch enrichment.
    Q("point_enrich",
      s"""WITH $featuresCte
SELECT id,
  CASE WHEN geom_type = 'Point' THEN 'u-d-p' END AS cot_type,
  CASE WHEN $mcFires THEN '#' || marker_color END AS marker_color_out,
  CASE WHEN $mcFires THEN 1.0 END AS marker_opacity,
  CASE WHEN $mcFires THEN NULL ELSE marker_color END AS metadata_marker_color
FROM features WHERE $mainWhere ORDER BY id""") { (s, d) =>
      val df = CalTopo.pointEnrich(
        CalTopo.projectNest(CalTopo.mainFlow(CalTopoFeatures.build(s, d))))
      df.select(col("id"),
        col("properties.type").as("cot_type"),
        col("properties.marker_color").as("marker_color_out"),
        col("properties.marker_opacity").as("marker_opacity"),
        col("properties.metadata.marker_color").as("metadata_marker_color"))
        .orderBy("id")
    },

    // A13 — folder→path lookup on truthy folderId: the folder dimension
    // is measured while the query is built and read as a map literal
    // (CalTopo.folderJoin; a broadcast left join past its cap).
    Q("folder_join",
      s"""WITH $featuresCte,
main AS (SELECT * FROM features WHERE $mainWhere),
folders AS (SELECT id AS fid, title AS ftitle FROM features WHERE class = 'Folder')
SELECT m.id, m.folder_id,
  CASE WHEN f.fid IS NOT NULL THEN '/' || f.ftitle END AS path
FROM main m LEFT JOIN folders f
  ON m.folder_id IS NOT NULL AND m.folder_id <> '' AND m.folder_id = f.fid
ORDER BY m.id""") { (s, d) =>
      val features = CalTopoFeatures.build(s, d)
      val df = CalTopo.folderJoin(
        CalTopo.projectNest(CalTopo.mainFlow(features)),
        CalTopo.folderDim(features))
      df.select(col("id"),
        col("properties.metadata.folder_id").as("folder_id"),
        col("path"))
        .orderBy("id")
    },

    // A1→A14 fused — the flagship (the reference's single real "query").
    // The operator is the unordered delivery transform; the total order
    // the oracle compares on is this query's, like every query above.
    Q("flagship",
      s"""WITH $featuresCte,
folders AS (SELECT id AS fid, title AS ftitle FROM features WHERE class = 'Folder')
SELECT f.id,
  f.title AS callsign,
  CASE WHEN f.description IS NULL OR f.description = '' THEN '' ELSE f.description END AS remarks,
  f.fill, f.fill_opacity, f.stroke, f.stroke_opacity, f.stroke_width,
  TRUE AS archived,
  CASE WHEN f.geom_type = 'Point' THEN 'u-d-p' END AS cot_type,
  CASE WHEN $mcFires THEN '#' || f.marker_color END AS marker_color_out,
  CASE WHEN $mcFires THEN 1.0 END AS marker_opacity,
  CASE WHEN $mcFires THEN NULL ELSE f.marker_color END AS metadata_marker_color,
  f.geom_type, f.lon AS x, f.lat AS y, f.alt AS z,
  CASE WHEN fo.fid IS NOT NULL THEN '/' || fo.ftitle END AS path
FROM features f LEFT JOIN folders fo
  ON f.folder_id IS NOT NULL AND f.folder_id <> '' AND f.folder_id = fo.fid
WHERE $mainWhere
ORDER BY f.id""") { (s, d) =>
      CalTopo.flagship(CalTopoFeatures.build(s, d)).orderBy("id")
    }
  )
}
