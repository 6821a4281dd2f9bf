package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference pipeline (`/root/reference/task.ts:90-159`) re-expressed as
  * composable DataFrame stages. Each stage is a pure `DataFrame => DataFrame`
  * so Catalyst sees one declarative plan across the whole flagship query —
  * filters collapse into the scan, struct ops stay in whole-stage codegen,
  * and the folder join is an explicit broadcast (the dimension is tiny by
  * construction, exactly like the reference's in-memory `Map`,
  * `task.ts:90`).
  *
  * Divergences from the reference, all documented per SURVEY.md §7.4:
  *  - JS `undefined` vs `null`: parquet can't express absent-vs-null, so
  *    "copy if present" (`task.ts:116-120`) becomes "copy if non-null" in
  *    the default arm. The strict-fidelity arm ([[styleCastsStrictJs]],
  *    selected by `Config.strictJsSemantics`) restores reference-exact
  *    presence gating + JS `String(null)`/`Number(null)` coercion over
  *    the raw wire JSON, where key presence is still observable.
  *  - `metadata.ico`/`metadata.icon` (`task.ts:121`) reads fields the Output
  *    schema never declares — dead code for schema-valid inputs, so the
  *    flagship (which runs on decoded, schema-valid columns) never fires
  *    it; the behavior itself IS modeled by [[icoIconQuirk]] over the raw
  *    wire JSON, where key presence is still observable.
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

  /** A7/A8/A9/A11 — callsign cast-rename (`task.ts:113`), falsy-coalescing
    * remarks (`task.ts:114`), conditional style copies with numeric casts
    * (`task.ts:116-120`), constant `archived = true` (`task.ts:128`).
    */
  def enrichProperties(df: DataFrame): DataFrame = {
    val m = (f: String) => col(s"properties.metadata.$f")
    df.withColumn("properties",
      col("properties")
        .withField("callsign", m("title").cast("string"))
        .withField("remarks",
          when(m("description").isNull || m("description") === "", lit(""))
            .otherwise(m("description").cast("string")))
        .withField("fill", m("fill").cast("string"))
        .withField("fill_opacity", m("fill_opacity").cast("double"))
        .withField("stroke", m("stroke").cast("string"))
        .withField("stroke_opacity", m("stroke_opacity").cast("double"))
        .withField("stroke_width", m("stroke_width").cast("double"))
        .withField("archived", lit(true)))
  }

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
    val t = geom.getField("type")
    val cs = geom.getField("coordinates")
    val r1 = from_json(cs, "array<double>", Map.empty[String, String])
    val r2 = from_json(cs, "array<array<double>>", Map.empty[String, String])
    val r3 = from_json(cs, "array<array<array<double>>>", Map.empty[String, String])
    val r4 = from_json(cs, "array<array<array<array<double>>>>",
      Map.empty[String, String])
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

  /** A12 — point branch (`task.ts:129-137`): CoT type `u-d-p`; truthy
    * marker-color gets '#'-prefixed + `marker-opacity = 1` and is removed
    * from metadata (empty string is falsy — untouched, `task.ts:132`).
    */
  def pointEnrich(df: DataFrame): DataFrame = {
    val mc = col("properties.metadata.marker_color")
    val isPoint = col("geometry.type") === "Point"
    val fire = isPoint && mc.isNotNull && (mc =!= "")
    df.withColumn("properties",
      col("properties")
        .withField("type", when(isPoint, lit("u-d-p")))
        .withField("marker_color", when(fire, concat(lit("#"), mc)))
        .withField("marker_opacity", when(fire, lit(1.0)))
        .withField("metadata",
          col("properties.metadata")
            .withField("marker_color",
              when(fire, lit(null).cast("string")).otherwise(mc))))
  }

  /** The `ico`/`icon` quirk (`task.ts:121`): `if (metadata.ico !==
    * undefined) feat.properties.icon = String(metadata.icon)` — gated on
    * the PRESENCE of the `ico` key (a present-but-null `ico` still fires:
    * JS `null !== undefined`), and the value is JS `String()` coercion of
    * `icon`, which may itself be absent (`String(undefined)` =
    * `"undefined"`) or null (`String(null)` = `"null"`).
    *
    * Neither key exists in the reference's TypeBox schema, so the typed
    * flagship columns cannot carry the distinction — but the RAW wire
    * JSON can: a map-typed decode preserves key presence
    * (`map_contains_key`), which absent==null typed columns do not (see
    * the divergence note above). Returns the `icon` output column (null
    * when the quirk does not fire); plugs in alongside
    * [[enrichProperties]] wherever the raw properties JSON rides with the
    * row (e.g. straight off [[graft.sources.GeoJsonSource]]'s
    * `properties_json`).
    */
  def icoIconQuirk(rawProps: Column): Column = {
    val m = from_json(rawProps, "map<string,string>", Map.empty[String, String])
    when(map_contains_key(m, "ico"),
      when(!map_contains_key(m, "icon"), lit("undefined")) // String(undefined)
        .when(element_at(m, "icon").isNull, lit("null"))   // String(null)
        .otherwise(element_at(m, "icon")))                 // String(<string>)
  }

  /** JS `Number()` coercion of a wire string value (the strict-fidelity
    * arm's numeric cast): `Number(null)` = 0, `Number('')` = 0 (whitespace
    * -only too — JS trims before parsing), numeric strings parse, anything
    * else is `NaN`. Exotic literal forms (`'0x10'`, `'Infinity'`) follow
    * Spark's cast and come out NaN; schema-valid wire data never carries
    * them and the default arm is the supported path anyway.
    */
  private def jsNumber(v: Column): Column =
    when(v.isNull || trim(v) === "", lit(0.0))
      .otherwise(coalesce(v.try_cast("double"), lit(Double.NaN)))

  /** A9 STRICT-JS arm (`Config.strictJsSemantics`): the reference copies
    * each style field with `if (metadata[k] !== undefined) out[k] =
    * String/Number(metadata[k])` (`task.ts:116-120`) — gated on key
    * PRESENCE, so a present-but-null value still copies, through JS
    * coercion: `String(null)` = `"null"`, `Number(null)` = 0. The
    * engine's default arm deliberately nullifies instead (divergence
    * note above; CalTopoSpec pins it); this arm restores reference-exact
    * behavior for bit-for-bit migrations, reading key presence off the
    * RAW wire JSON exactly like [[icoIconQuirk]] — typed absent==null
    * columns cannot carry the distinction. Wire keys are the reference's
    * hyphenated forms; output fields are the engine's underscored ones.
    * Returns the 5-field style struct (each field null when its key is
    * absent — the "no copy" case both arms share).
    */
  def styleCastsStrictJs(rawProps: Column): Column = {
    val m = from_json(rawProps, "map<string,string>", Map.empty[String, String])
    def str(k: String) = when(map_contains_key(m, k),
      when(element_at(m, k).isNull, lit("null"))      // String(null)
        .otherwise(element_at(m, k)))                 // String(<string>)
    def num(k: String) = when(map_contains_key(m, k),
      jsNumber(element_at(m, k)))                     // Number(<anything>)
    struct(
      str("fill").as("fill"),
      num("fill-opacity").as("fill_opacity"),
      str("stroke").as("stroke"),
      num("stroke-opacity").as("stroke_opacity"),
      num("stroke-width").as("stroke_width"))
  }

  /** [[enrichProperties]] dispatched on [[graft.Config.strictJsSemantics]]:
    * the default arm keeps the engine's nullify semantics; the strict arm
    * swaps ONLY the five A9 style copies for [[styleCastsStrictJs]] over
    * the raw properties JSON riding with the row (e.g.
    * [[graft.sources.GeoJsonSource]]'s `properties_json`). Callsign,
    * remarks, and `archived` are identical in both arms — the reference's
    * `String(title)` runs on a schema-required field and its remarks
    * branch is falsy-gated, so null coercion never reaches them on
    * decodable input.
    */
  def enrichProperties(df: DataFrame, cfg: graft.Config,
      rawProps: Column): DataFrame =
    if (!cfg.strictJsSemantics) enrichProperties(df)
    else {
      val m = (f: String) => col(s"properties.metadata.$f")
      val s = styleCastsStrictJs(rawProps)
      df.withColumn("properties",
        col("properties")
          .withField("callsign", m("title").cast("string"))
          .withField("remarks",
            when(m("description").isNull || m("description") === "", lit(""))
              .otherwise(m("description").cast("string")))
          .withField("fill", s.getField("fill"))
          .withField("fill_opacity", s.getField("fill_opacity"))
          .withField("stroke", s.getField("stroke"))
          .withField("stroke_opacity", s.getField("stroke_opacity"))
          .withField("stroke_width", s.getField("stroke_width"))
          .withField("archived", lit(true)))
    }

  /** A13 — folder→path broadcast join (`task.ts:142-152`): LEFT join of
    * features against the folder dimension on a *truthy* folderId, then
    * `path = '/' + folder.title`. Explicit `broadcast()` — the dim side is
    * one row per folder; at 100 TB the fact side never shuffles for this.
    */
  def folderJoin(df: DataFrame, folders: DataFrame): DataFrame = {
    val fid = col("properties.metadata.folder_id")
    df.join(broadcast(folders),
        fid.isNotNull && (fid =!= "") && fid === folders("fid"), "left")
      .withColumn("path",
        when(col("ftitle").isNotNull, concat(lit("/"), col("ftitle"))))
      .drop("fid", "ftitle")
  }

  /** First coordinate position of the (already truncated) geometry, as
    * array<double> — dispatched on the geometry type's coordinate rank.
    */
  def firstPosition(geom: Column): Column = {
    val t = geom.getField("type")
    val cs = geom.getField("coordinates")
    val r1 = from_json(cs, "array<double>", Map.empty[String, String])
    val r2 = from_json(cs, "array<array<double>>", Map.empty[String, String])
    val r3 = from_json(cs, "array<array<array<double>>>", Map.empty[String, String])
    val r4 = from_json(cs, "array<array<array<array<double>>>>",
      Map.empty[String, String])
    when(t === "Point", r1)
      .when(t.isin("LineString", "MultiPoint"), element_at(r2, 1))
      .when(t.isin("Polygon", "MultiLineString"),
        element_at(element_at(r3, 1), 1))
      .when(t === "MultiPolygon",
        element_at(element_at(element_at(r4, 1), 1), 1))
  }

  /** Last coordinate position of the geometry — with [[firstPosition]],
    * lets an oracle check truncation at BOTH ends of the nested structure
    * (for MultiPolygon the last position lives in the last ring of the
    * last polygon, so a rank-4 branch that silently passed coordinates
    * through would be caught).
    */
  def lastPosition(geom: Column): Column = {
    val t = geom.getField("type")
    val cs = geom.getField("coordinates")
    val r1 = from_json(cs, "array<double>", Map.empty[String, String])
    val r2 = from_json(cs, "array<array<double>>", Map.empty[String, String])
    val r3 = from_json(cs, "array<array<array<double>>>", Map.empty[String, String])
    val r4 = from_json(cs, "array<array<array<array<double>>>>",
      Map.empty[String, String])
    when(t === "Point", r1)
      .when(t.isin("LineString", "MultiPoint"), element_at(r2, -1))
      .when(t.isin("Polygon", "MultiLineString"),
        element_at(element_at(r3, -1), -1))
      .when(t === "MultiPolygon",
        element_at(element_at(element_at(r4, -1), -1), -1))
  }

  /** The whole reference pipeline A1→A13 fused (the flagship), flattened to
    * scalar columns for oracle comparison (struct fields → top-level columns;
    * the nested form is what flows through the stages above).
    *
    * UNORDERED: rows come out in scan order, and the plan carries no
    * exchange on the feature side (the folder dimension is broadcast), so
    * each fetch unit of the scan stays one partition and
    * [[graft.sources.FeatureCollectionSink]] delivers it as one
    * FeatureCollection — the reference's one POST per map, in input order
    * (`task.ts:92-159` never sorts). The total order the oracle compares
    * on lives in the declared `flagship` query
    * ([[graft.queries.CalTopoQueries]]), not here: a sort on the delivery
    * path would cost a range-partitioning shuffle plus its sampling job
    * per tick, and at scale a full sort of the fact table.
    */
  def flagship(features: DataFrame): DataFrame = {
    val folders = folderDim(features)
    val out = folderJoin(
      pointEnrich(coordTruncate(enrichProperties(projectNest(mainFlow(features))))),
      folders)
    val pos = firstPosition(col("geometry"))
    out.select(
      col("id"),
      col("properties.callsign").as("callsign"),
      col("properties.remarks").as("remarks"),
      col("properties.fill").as("fill"),
      col("properties.fill_opacity").as("fill_opacity"),
      col("properties.stroke").as("stroke"),
      col("properties.stroke_opacity").as("stroke_opacity"),
      col("properties.stroke_width").as("stroke_width"),
      col("properties.archived").as("archived"),
      col("properties.type").as("cot_type"),
      col("properties.marker_color").as("marker_color_out"),
      col("properties.marker_opacity").as("marker_opacity"),
      col("properties.metadata.marker_color").as("metadata_marker_color"),
      col("geometry.type").as("geom_type"),
      element_at(pos, 1).as("x"),
      element_at(pos, 2).as("y"),
      element_at(pos, 3).as("z"),
      col("path"))
  }
}
