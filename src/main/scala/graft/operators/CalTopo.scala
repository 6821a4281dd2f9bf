package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** The reference pipeline (`/root/reference/task.ts:90-159`) re-expressed as
  * DataFrame stages, each a `DataFrame => DataFrame`. The folder lookup
  * is the reference's in-memory `folders` Map (`task.ts:90`) made literal:
  * the dimension is measured once, while the query is built (the one
  * stage that runs a job), and a small one with unique ids becomes a map
  * literal the projection reads, so a map tick plans no join and no
  * exchange ([[folderLookup]]).
  *
  * Every per-feature rule (A7 callsign, A8 remarks, A9 style casts, A11
  * archived, A12 point type and marker colour, A13 path) is defined ONCE,
  * as a column expression over a feature's metadata fields. The staged
  * operators ([[projectNest]], [[enrichProperties]], [[pointEnrich]],
  * [[folderJoin]]) nest those columns into the `properties` struct the
  * reference builds; [[flagship]] selects the same columns flat, in one
  * projection over the main flow, so its plan carries no struct rewrites
  * for the optimizer to inline and unpick.
  *
  * Divergences from the reference, all documented per SURVEY.md §7.4:
  *  - JS `undefined` vs `null`: parquet can't express absent-vs-null, so
  *    "copy if present" (`task.ts:116-120`) becomes "copy if non-null": a
  *    present-but-null A9 style value is null, not JS `String(null)` =
  *    "null" or `Number(null)` = 0 — corrupt style data no consumer wants.
  *  - `metadata.ico`/`metadata.icon` (`task.ts:121`) reads fields the Output
  *    schema never declares — dead code for schema-valid inputs, so the
  *    flagship (which runs on decoded, schema-valid columns) never fires
  *    it, and it is not modelled.
  *  - `delete metadata['marker-color']` (`task.ts:134`) becomes nullify.
  *  - JS falsy semantics (`''` is falsy: `task.ts:114,132,144`) are encoded
  *    explicitly as `isNull || === ""` checks.
  */
object CalTopo {

  /** A4 — dimension extraction: the `folders` Map (`task.ts:90,93-96`).
    * Includes every class='Folder' feature regardless of geometry.
    */
  def folderDim(features: DataFrame): DataFrame =
    features.filter(col("class") === "Folder")
      .select(col("id").as("fid"), col("title").as("ftitle"))

  /** A5 — main flow: drop folders, drop geometry-less features
    * (`task.ts:97-100`; SARTopo "Operational Periods" have no geometry).
    */
  def mainFlow(features: DataFrame): DataFrame =
    features.filter(col("class") =!= "Folder" && col("geometry").isNotNull)

  private val metadataCols = Seq(
    "title", "description", "class", "creator", "updated",
    "marker_symbol", "marker_rotation", "marker_color", "marker_size",
    "stroke", "stroke_opacity", "stroke_width", "pattern",
    "fill", "fill_opacity", "folder_id", "visible", "label_visible")

  /** A6 — restructure: `{id, type:'Feature', properties:{metadata: <all
    * source props>}, geometry}` (`task.ts:102-111`).
    */
  def projectNest(main: DataFrame): DataFrame =
    main.select(
      col("id"),
      lit("Feature").as("type"),
      struct(struct(metadataCols.map(col): _*).as("metadata")).as("properties"),
      col("geometry"))

  /** A metadata field of a [[projectNest]]ed row. */
  private val nested = (f: String) => col(s"properties.metadata.$f")

  /** A7 — callsign cast-rename (`task.ts:113`). `m` reads a metadata field. */
  private def callsign(m: String => Column): Column = m("title").cast("string")

  /** A8 — falsy-coalescing remarks (`task.ts:114`). */
  private def remarks(m: String => Column): Column =
    when(m("description").isNull || m("description") === "", lit(""))
      .otherwise(m("description").cast("string"))

  /** A9 — conditional style copies with numeric casts (`task.ts:116-120`):
    * a null field stays null. `(field, value)` pairs in output order.
    */
  private def styleCasts(m: String => Column): Seq[(String, Column)] =
    Seq("fill" -> "string", "fill_opacity" -> "double", "stroke" -> "string",
      "stroke_opacity" -> "double", "stroke_width" -> "double")
      .map { case (f, t) => f -> m(f).cast(t) }

  /** A11 — constant `archived = true` (`task.ts:128`). */
  private def archived: Column = lit(true)

  /** A7/A8/A9/A11 as named `properties` fields, in output order. */
  private def enrichedFields(m: String => Column): Seq[(String, Column)] =
    Seq("callsign" -> callsign(m), "remarks" -> remarks(m)) ++ styleCasts(m) :+
      ("archived" -> archived)

  private def withFields(df: DataFrame, fields: Seq[(String, Column)]): DataFrame =
    df.withColumn("properties", fields.foldLeft(col("properties")) {
      case (p, (name, value)) => p.withField(name, value)
    })

  /** A7/A8/A9/A11 — callsign, remarks, style copies and `archived` added
    * to `properties`.
    */
  def enrichProperties(df: DataFrame): DataFrame =
    withFields(df, enrichedFields(nested))

  /** Generic any-rank coordinate walk (A10's escape hatch, and the
    * fallback arm of [[truncateGeometry]] for geometry types outside the
    * rank table): truncates every innermost `[n1,n2,...]` run of a JSON
    * text to ≤3 numbers, preserving nesting — a string-level walk, no JSON
    * lib. Because it works on the raw text, it also handles
    * GeometryCollection-style nesting (geometry objects embedding
    * coordinate arrays), mirroring `coordEach`'s recursion into nested
    * geometries (`task.ts:124-126`). Deliberately OFF the hot path: the
    * rank-dispatched codegen'd branches above it cover every concrete
    * GeoJSON geometry type.
    */
  val truncateCoordsJson: String => String = { js =>
    if (js == null) null
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < js.length) {
        val c = js.charAt(i)
        if (c == '[') {
          // innermost array = no '[' before the matching ']'
          val close = js.indexOf(']', i)
          val nextOpen = js.indexOf('[', i + 1)
          if (close >= 0 && (nextOpen < 0 || nextOpen > close)) {
            val inner = js.substring(i + 1, close)
            val parts = inner.split(",")
            sb.append('[').append(parts.take(3).mkString(",")).append(']')
            i = close + 1
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
  }

  /** A10 — generic GeoJSON coordinate truncation to ≤3 components
    * (`coordEach(..., coord => coord.splice(3))`, `task.ts:123-126`). The
    * reference mutates in place; the observable behavior is a pure
    * `slice(pos, 1, 3)` on every position of any geometry rank. Coordinates
    * travel as JSON text (SURVEY.md §7.4): parse at the rank implied by the
    * geometry type with `from_json`, truncate with higher-order `transform`/
    * `slice` (stays in codegen — no UDF), re-serialize with `to_json`.
    * All four GeoJSON coordinate ranks are dispatched (`coordEach`
    * truncates every position of EVERY geometry type, including
    * MultiPolygon); anything else — GeometryCollection, unknown types —
    * falls back to the generic string-level walk, which recurses into
    * nested structure like `coordEach` does, instead of passing
    * coordinates through untruncated (VERDICT r1 §wrong.1).
    */
  def truncateGeometry(geom: Column): Column = {
    val (t, cs, r1, r2, r3, r4) = ranked(geom)
    val truncated =
      when(t === "Point", to_json(slice(r1, 1, 3)))
        .when(t.isin("LineString", "MultiPoint"),
          to_json(transform(r2, p => slice(p, 1, 3))))
        .when(t.isin("Polygon", "MultiLineString"),
          to_json(transform(r3, ring => transform(ring, p => slice(p, 1, 3)))))
        .when(t === "MultiPolygon",
          to_json(transform(r4, poly => transform(poly,
            ring => transform(ring, p => slice(p, 1, 3))))))
        .otherwise(udf(truncateCoordsJson).apply(cs))
    when(geom.isNull, geom)
      .otherwise(struct(t.as("type"), truncated.as("coordinates")))
  }

  def coordTruncate(df: DataFrame): DataFrame =
    df.withColumn("geometry", truncateGeometry(col("geometry")))

  /** A12 — the point branch fires on a Point with a truthy marker-color
    * (empty string is falsy, `task.ts:132`).
    */
  private def markerFires(geomType: Column, mc: Column): Column =
    geomType === "Point" && mc.isNotNull && (mc =!= "")

  /** A12 — CoT type `u-d-p` on points (`task.ts:129-130`). */
  private def cotType(geomType: Column): Column = when(geomType === "Point", lit("u-d-p"))

  /** A12 — a firing marker-color, '#'-prefixed (`task.ts:132-133`). */
  private def markerColorOut(geomType: Column, mc: Column): Column =
    when(markerFires(geomType, mc), concat(lit("#"), mc))

  /** A12 — `marker-opacity = 1` when the marker-color fires (`task.ts:135`). */
  private def markerOpacity(geomType: Column, mc: Column): Column =
    when(markerFires(geomType, mc), lit(1.0))

  /** A12 — the metadata marker-color, removed once it fires (`task.ts:134`). */
  private def metadataMarkerColor(geomType: Column, mc: Column): Column =
    when(markerFires(geomType, mc), lit(null).cast("string")).otherwise(mc)

  /** A12 — point branch (`task.ts:129-137`): CoT type `u-d-p`; truthy
    * marker-color gets '#'-prefixed + `marker-opacity = 1` and is removed
    * from metadata (empty string is falsy — untouched, `task.ts:132`).
    */
  def pointEnrich(df: DataFrame): DataFrame = {
    val gt = col("geometry.type")
    val mc = nested("marker_color")
    withFields(df, Seq(
      "type" -> cotType(gt),
      "marker_color" -> markerColorOut(gt, mc),
      "marker_opacity" -> markerOpacity(gt, mc),
      "metadata" -> col("properties.metadata")
        .withField("marker_color", metadataMarkerColor(gt, mc))))
  }

  /** A13 — a feature joins its folder on a *truthy* folderId
    * (`task.ts:142-149`).
    */
  private def folderMatch(folderId: Column, fid: Column): Column =
    folderId.isNotNull && (folderId =!= "") && folderId === fid

  /** A13 — `path = '/' + folder.title` when the folder resolved
    * (`task.ts:150-152`).
    */
  private def path(ftitle: Column): Column =
    when(ftitle.isNotNull, concat(lit("/"), ftitle))

  /** Folder dimensions of at most this many rows, with unique usable ids,
    * resolve A13's path from a map literal; larger ones take a join. The
    * literal travels with every task of the plan, so the cap
    * keeps it to a few hundred KB.
    */
  val FolderLiteralCap = 4096

  /** A13's lookup of `folderId` in the folder dimension `folders` (fid,
    * ftitle): the frame to select from and its `path` column.
    *
    * The dimension is measured by one [[Materialize.bounded]] job, which
    * brings it to the driver when it holds at most [[FolderLiteralCap]]
    * rows. When its usable ids (non-null, non-`""`: the only ones
    * [[folderMatch]] can match) are also unique, the lookup is
    * `try_element_at` of a map literal from id to title: `df` itself,
    * with no join. A dangling,
    * null or `""` id finds no key and gets a null path, as the left join
    * gives. Otherwise — over the cap, or a duplicate id, where the left
    * join duplicates the feature row — `df` is left-joined to the stored
    * dimension, as the reference's semantics require: a broadcast while
    * its rows × 2 cells fit [[Materialize.BroadcastCells]], else a
    * shuffled join. The route is logged as `folders=literal|broadcast|shuffle`.
    */
  private def folderLookup(df: DataFrame, folderId: Column,
      folders: DataFrame, site: String): (DataFrame, Column) = {
    val dim = Materialize.bounded(folders.select("fid", "ftitle"), site, FolderLiteralCap)
    val usable = dim.local.map(_.filter(r => !r.isNullAt(0) && r.getString(0).nonEmpty))
    usable.filter(rs => rs.map(_.getString(0)).distinct.size == rs.size) match {
      case Some(rs) =>
        dim.route("folders", "literal")
        val titles = typedLit(rs.map(r => r.getString(0) -> r.getString(1)).toMap)
        (df, path(try_element_at(titles, folderId)))
      case None =>
        val f = dim.broadcastIf("folders", dim.rows * 2 <= Materialize.BroadcastCells)(dim.df)
        (df.join(f, folderMatch(folderId, f("fid")), "left"), path(f("ftitle")))
    }
  }

  /** A13 — folder→path lookup (`task.ts:142-152`) of every feature's
    * folderId in the folder dimension, through [[folderLookup]]: a map
    * literal when the dimension is small and its ids unique, else a LEFT
    * join. Measures `folders` while it is built.
    */
  def folderJoin(df: DataFrame, folders: DataFrame): DataFrame = {
    val (from, p) = folderLookup(df, nested("folder_id"), folders,
      "CalTopo.folderJoin folders")
    from.withColumn("path", p).drop("fid", "ftitle")
  }

  /** First coordinate position of the geometry, as array<double> —
    * dispatched on the geometry type's coordinate rank; null for types
    * outside the rank table.
    */
  def firstPosition(geom: Column): Column = endPosition(geom, 1)

  /** Last coordinate position of the geometry — with [[firstPosition]],
    * lets an oracle check truncation at BOTH ends of the nested structure
    * (for MultiPolygon the last position lives in the last ring of the
    * last polygon, so a rank-4 branch that silently passed coordinates
    * through would be caught).
    */
  def lastPosition(geom: Column): Column = endPosition(geom, -1)

  /** The geometry's type, raw coordinates, and the coordinates parsed at
    * each GeoJSON rank (position, line, polygon, multi-polygon).
    */
  private def ranked(geom: Column) = {
    val cs = geom.getField("coordinates")
    def parse(rank: Int) = from_json(cs,
      (1 to rank).foldLeft("double")((t, _) => s"array<$t>"), Map.empty[String, String])
    (geom.getField("type"), cs, parse(1), parse(2), parse(3), parse(4))
  }

  /** The position at index `at` (1 first, -1 last) of every nesting level,
    * dispatched on the geometry type's coordinate rank.
    */
  private def endPosition(geom: Column, at: Int): Column = {
    val (t, _, r1, r2, r3, r4) = ranked(geom)
    when(t === "Point", r1)
      .when(t.isin("LineString", "MultiPoint"), element_at(r2, at))
      .when(t.isin("Polygon", "MultiLineString"),
        element_at(element_at(r3, at), at))
      .when(t === "MultiPolygon",
        element_at(element_at(element_at(r4, at), at), at))
  }

  /** The whole reference pipeline A1→A13 fused (the flagship), flattened to
    * scalar columns for oracle comparison.
    *
    * ONE projection over [[mainFlow]], each output column taken from the
    * same rule definition the staged operators nest into `properties`
    * (A7–A13 above). The staged chain (projectNest → enrichProperties →
    * coordTruncate → pointEnrich → folderJoin, then a flattening select)
    * gives the same rows; CalTopoSpec keeps it as the reference. Building
    * the struct and unpicking it again cost the analyzer one pass per
    * rewrite and the optimizer a few hundred nested expression nodes per
    * map tick, before the first job.
    *
    * `path` comes from [[folderLookup]]: building the flagship runs one
    * job that measures [[folderDim]] over the whole scan (every document
    * of a multi-document read), and a dimension of at most
    * [[FolderLiteralCap]] rows with unique usable ids becomes a map
    * literal, so the returned plan is that one projection with no join.
    * Otherwise the projection reads the main flow left-joined to the
    * dimension (past the broadcast cell cap, a shuffled join that no
    * longer keeps a fetch unit in one partition).
    *
    * `x`/`y`/`z` are the first three components of [[firstPosition]] over
    * the decoded coordinates: A10 truncation keeps the first three
    * components of every position, so this is the truncated geometry's
    * first position, and the output carries no coordinates — no per-row
    * truncate → `to_json` → `from_json` round trip. A missing component
    * is null (a 2-component position has no `z`).
    *
    * UNORDERED: rows come out in scan order, and the plan carries no
    * exchange on the feature side, so each fetch unit of the scan stays
    * one partition and [[graft.sources.FeatureCollectionSink]] delivers it
    * as one FeatureCollection — the reference's one POST per map, in input
    * order (`task.ts:92-159` never sorts). The total order the oracle
    * compares on lives in the declared `flagship` query
    * ([[graft.queries.CalTopoQueries]]), not here: a sort on the delivery
    * path would cost a range-partitioning shuffle plus its sampling job
    * per tick, and at scale a full sort of the fact table.
    */
  def flagship(features: DataFrame): DataFrame = {
    val (main, folderPath) = folderLookup(mainFlow(features), col("folder_id"),
      folderDim(features), "CalTopo.flagship folders")
    val gt = col("geometry.type")
    val mc = col("marker_color")
    val pos = firstPosition(col("geometry"))
    val columns =
      Seq(col("id"), callsign(col).as("callsign"), remarks(col).as("remarks")) ++
      styleCasts(col).map { case (name, value) => value.as(name) } ++
      Seq(archived.as("archived"),
        cotType(gt).as("cot_type"),
        markerColorOut(gt, mc).as("marker_color_out"),
        markerOpacity(gt, mc).as("marker_opacity"),
        metadataMarkerColor(gt, mc).as("metadata_marker_color"),
        gt.as("geom_type"),
        try_element_at(pos, lit(1)).as("x"),
        try_element_at(pos, lit(2)).as("y"),
        try_element_at(pos, lit(3)).as("z"),
        folderPath.as("path"))
    main.select(columns: _*)
  }
}
