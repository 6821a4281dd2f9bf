package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{StructsToJson, UpdateFields}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ObjectType, StructType}
import graft.operators.CalTopo
import graft.sources.CalTopoFeatures
import CalTopoSpec.{decode, multiset, stagedFlagship}

/** Reference-pipeline edge cases from the reference's own bug history
  * (FIXTURES.md §3): geometry-less features (CHANGELOG v2.2.0), 4-component
  * coordinates (v2.3.1), falsy marker-color/description (task.ts:114,132),
  * dangling folderId (task.ts:144-149).
  */
class CalTopoSpec extends SparkSpec {

  private def handRows: DataFrame = {
    import spark.implicits._
    // (id, class, title, description, marker_color, folder_id,
    //  geom_type or null, coordinates json)
    Seq(
      ("m1", "Marker", "With color", "d", "FF0000", "F1", "Point", "[10.5,20.25,100.0,999.0]"),
      ("m2", "Marker", "Empty color", "", "", null, "Point", "[1.0,2.0]"),
      ("m3", "Marker", "No geometry", null, null, "F1", null, null),
      ("s1", "Shape", "Line", "x", null, "DANGLING", "LineString",
        "[[0.0,0.0,5.0,7.0],[1.0,1.0,6.0,8.0]]"),
      ("F1", "Folder", "My Folder", null, null, null, null, null)
    ).toDF("id", "class", "title", "description", "marker_color",
        "folder_id", "geom_type", "coords")
      .select(col("id"), col("class"), col("title"), col("description"),
        lit("me").as("creator"), lit(1L).as("updated"),
        lit(null).cast("string").as("marker_symbol"),
        lit(null).cast("string").as("marker_rotation"),
        col("marker_color"),
        lit(null).cast("string").as("marker_size"),
        lit(null).cast("string").as("stroke"),
        lit(null).cast("double").as("stroke_opacity"),
        lit(null).cast("double").as("stroke_width"),
        lit(null).cast("string").as("pattern"),
        lit(null).cast("string").as("fill"),
        lit(null).cast("double").as("fill_opacity"),
        col("folder_id"),
        lit(null).cast("boolean").as("visible"),
        lit(null).cast("boolean").as("label_visible"),
        when(col("geom_type").isNotNull,
          struct(col("geom_type").as("type"), col("coords").as("coordinates")))
          .as("geometry"))
      .drop("geom_type", "coords")
  }

  test("geometry-less and folder features are dropped from the main flow") {
    val out = CalTopo.mainFlow(handRows).select("id").collect().map(_.getString(0))
    assert(out.toSet == Set("m1", "m2", "s1"))
  }

  test("folder dim extracts folders regardless of geometry") {
    val dim = CalTopo.folderDim(handRows).collect()
    assert(dim.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("F1", "My Folder")))
  }

  test("4-component coordinates truncate to 3, idempotently") {
    val df = CalTopo.coordTruncate(
      CalTopo.projectNest(CalTopo.mainFlow(handRows)))
    val m1 = df.filter(col("id") === "m1")
      .select(col("geometry.coordinates")).first().getString(0)
    assert(m1 == "[10.5,20.25,100.0]")
    // LineString: every position truncated
    val s1 = df.filter(col("id") === "s1")
      .select(col("geometry.coordinates")).first().getString(0)
    assert(s1 == "[[0.0,0.0,5.0],[1.0,1.0,6.0]]")
    // idempotent: truncating again is a no-op
    val twice = CalTopo.coordTruncate(df).filter(col("id") === "m1")
      .select(col("geometry.coordinates")).first().getString(0)
    assert(twice == m1)
    // 2-component point untouched
    val m2 = df.filter(col("id") === "m2")
      .select(col("geometry.coordinates")).first().getString(0)
    assert(m2 == "[1.0,2.0]")
  }

  test("rank-4 MultiPolygon truncates every position; GeometryCollection falls back to the generic walk") {
    import spark.implicits._
    val rows = Seq(
      ("mp1", "MultiPolygon",
        "[[[[1.0,2.0,3.0,4.0],[5.0,6.0,7.0,8.0]]],[[[9.0,10.0,11.0,12.0]]]]"),
      // GeometryCollection-style nesting: geometry objects embedding
      // coordinate arrays — handled by the string-level coordEach analog
      ("gc1", "GeometryCollection",
        """[{"type":"Point","coordinates":[1.0,2.0,3.0,4.0]},{"type":"LineString","coordinates":[[5.0,6.0,7.0,8.0],[9.0,10.0,11.0,12.0]]}]""")
    ).toDF("id", "gt", "coords")
      .select(col("id"),
        struct(col("gt").as("type"), col("coords").as("coordinates"))
          .as("geometry"))
    val out = CalTopo.coordTruncate(rows)
      .select(col("id"), col("geometry.coordinates"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("mp1") ==
      "[[[[1.0,2.0,3.0],[5.0,6.0,7.0]]],[[[9.0,10.0,11.0]]]]")
    assert(out("gc1") ==
      """[{"type":"Point","coordinates":[1.0,2.0,3.0]},{"type":"LineString","coordinates":[[5.0,6.0,7.0],[9.0,10.0,11.0]]}]""")
    // last position of a MultiPolygon reaches the last ring of the last poly
    val lp = CalTopo.coordTruncate(rows).filter(col("id") === "mp1")
      .select(CalTopo.lastPosition(col("geometry"))).first().getSeq[Double](0)
    assert(lp == Seq(9.0, 10.0, 11.0))
  }

  test("marker-color: set => '#'-prefixed + opacity 1 + removed from metadata; empty string untouched (JS falsy)") {
    val df = CalTopo.pointEnrich(
      CalTopo.projectNest(CalTopo.mainFlow(handRows)))
    val m1 = df.filter(col("id") === "m1")
      .select(col("properties.marker_color"), col("properties.marker_opacity"),
        col("properties.metadata.marker_color"), col("properties.type"))
      .first()
    assert(m1.getString(0) == "#FF0000")
    assert(m1.getDouble(1) == 1.0)
    assert(m1.isNullAt(2))
    assert(m1.getString(3) == "u-d-p")
    val m2 = df.filter(col("id") === "m2")
      .select(col("properties.marker_color"), col("properties.metadata.marker_color"))
      .first()
    assert(m2.isNullAt(0)) // empty string is falsy: NOT prefixed
    assert(m2.getString(1) == "")
  }

  test("A9 null-style values NULLIFY (pinned divergence from JS String(null)='null' / Number(null)=0)") {
    // The reference (task.ts:116-120) copies style fields through JS
    // String()/Number(): a present-but-null fill would become the literal
    // string "null" and a null numeric opacity would become 0. The engine
    // DELIBERATELY nullifies instead (operators/CalTopo.scala:14-21):
    // "null"-the-string and 0-opacity are corrupt style data no consumer
    // wants, and schema-valid CalTopo exports never exercise the branch.
    // This spec pins the chosen behavior on an explicit null-style row so
    // the divergence is tested contract, not a comment (VERDICT r3 item 6).
    val row = CalTopo.enrichProperties(CalTopo.projectNest(
        CalTopo.mainFlow(handRows)))
      .filter(col("id") === "s1") // its fill/stroke/opacities are all null
      .select(
        col("properties.fill"), col("properties.fill_opacity"),
        col("properties.stroke"), col("properties.stroke_opacity"),
        col("properties.stroke_width"))
      .collect().head
    (0 until 5).foreach { i =>
      assert(row.isNullAt(i),
        s"null style field $i must stay NULL (never JS 'null'/0 coercion)")
    }
  }

  test("falsy description coalesces to empty remarks") {
    val df = CalTopo.enrichProperties(
      CalTopo.projectNest(CalTopo.mainFlow(handRows)))
    val remarks = df.select(col("id"), col("properties.remarks"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(remarks("m1") == "d")
    assert(remarks("m2") == "") // empty -> empty
  }

  test("folder join: resolving folderId gets '/'-prefixed path; dangling/missing get none") {
    val df = CalTopo.folderJoin(
      CalTopo.projectNest(CalTopo.mainFlow(handRows)),
      CalTopo.folderDim(handRows))
    val paths = df.select(col("id"), col("path"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(paths("m1").contains("/My Folder"))
    assert(paths("m2").isEmpty)      // null folderId
    assert(paths("s1").isEmpty)      // dangling folderId
  }

  test("flagship over driver data is non-empty and deterministic") {
    val a = CalTopo.flagship(CalTopoFeatures.build(spark, sfDir)).collect()
    val b = CalTopo.flagship(CalTopoFeatures.build(spark, sfDir)).collect()
    assert(a.nonEmpty)
    assert(a.sameElements(b))
  }

  /** The flagship and the staged chain over `features`, and the folder
    * routes their builds logged.
    */
  private def bothForms(features: DataFrame): (Seq[Row], Seq[Row], Seq[String]) = {
    Materialize.drain()
    val fused = CalTopo.flagship(features).collect().toSeq
    val staged = stagedFlagship(features).collect().toSeq
    val routes = Materialize.drain().filter(_.site.startsWith("CalTopo.")).map(_.route)
    (fused, staged, routes.distinct)
  }

  /** `features` plus `n` unreferenced folders with null titles. */
  private def withFolders(features: DataFrame, n: Long): DataFrame =
    features.unionByName(spark.range(0L, n, 1L, 1)
      .select(features.schema.fields.toSeq.map(f => f.name match {
        case "id"    => concat(lit("pad-"), col("id").cast("string")).as("id")
        case "class" => lit("Folder").as("class")
        case name    => lit(null).cast(f.dataType).as(name)
      }): _*))

  test("fused flagship equals the staged stage chain on the generated features") {
    val features = CalTopoFeatures.build(spark, sfDir)
    val (literal, literalStaged, literalRoutes) = bothForms(features)
    assert(literal.nonEmpty)
    assert(literalRoutes == Seq("folders=literal"))
    assert(multiset(literal) == multiset(literalStaged))
    // as many unreferenced folders again as the cap admits force the
    // broadcast join, and change no row
    val (joined, joinedStaged, joinedRoutes) =
      bothForms(withFolders(features, CalTopo.FolderLiteralCap))
    assert(joinedRoutes == Seq("folders=broadcast"))
    assert(multiset(joined) == multiset(joinedStaged))
    assert(multiset(joined) == multiset(literal))
  }

  test("a folder dimension past the broadcast cell cap takes a shuffled join with the staged chain's rows") {
    // (fid, ftitle) rows: one past 2 cells a row within BroadcastCells
    val (features, dim) = (CalTopoFeatures.build(spark, sfDir), 1000001L)
    val padded = withFolders(features, dim - CalTopo.folderDim(features).count())
    Materialize.drain()
    val fused = CalTopo.flagship(padded)
    val rows = fused.collect().toSeq
    val staged = stagedFlagship(padded).collect().toSeq
    assert(Materialize.drain().filter(_.site.startsWith("CalTopo.")).map(c => (c.rows, c.route)) ==
      Seq.fill(2)((dim, "folders=shuffle")))
    // the final adaptive plan: AQE may not turn the join into a broadcast
    val plan = fused.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true") && !plan.contains("BroadcastExchange"), plan)
    assert(rows.nonEmpty && multiset(rows) == multiset(staged))
  }

  private def feat(id: String, props: String, geom: String) =
    s"""{"id":"$id","type":"Feature","properties":{$props}""" +
      (if (geom == null) "}" else s""","geometry":$geom}""")
  private def g(t: String, cs: String) = s"""{"type":"$t","coordinates":$cs}"""

  private def edgeTick: DataFrame = edgeTick(Nil)

  /** [[edgeTick]]'s document with the `extra` features appended. */
  private def edgeTick(extra: Seq[String]): DataFrame = {
    val feats = Seq(
      feat("F1", """"class":"Folder","title":"One"""", null),
      feat("F2", """"class":"Folder","title":"Two"""", g("Point", "[0.0,0.0]")),
      feat("pt4", """"class":"Marker","title":"p4","description":"d","marker_color":"FF0000","folder_id":"F1"""",
        g("Point", "[10.5,20.25,100.0,999.0]")),
      feat("pt2", """"class":"Marker","title":"p2","description":"","marker_color":"","folder_id":""""",
        g("Point", "[1.0,2.0]")),
      feat("pt3", """"class":"Marker","title":"p3","description":null""",
        g("Point", "[1.5,2.5,3.5]")),
      feat("ln", """"class":"Shape","title":"l","fill":"#00AAFF","fill_opacity":0.5,"stroke":"#FF8800","stroke_opacity":0.25,"stroke_width":2.0,"folder_id":"DANGLING"""",
        g("LineString", "[[0.0,1.0],[1.0,1.0,1.0],[2.0,2.0,2.0,2.0]]")),
      feat("pg", """"class":"Shape","title":"pg","marker_color":"00FF00","folder_id":"F2"""",
        g("Polygon", "[[[1.0,2.0,3.0,4.0],[5.0,6.0,7.0,8.0],[1.0,2.0,3.0,4.0]]]")),
      feat("mpt", """"class":"Shape","title":"mpt","description":"x"""",
        g("MultiPoint", "[[1.0,2.0,3.0],[4.0,5.0,6.0,7.0]]")),
      feat("mls", """"class":"Shape","title":"mls","folder_id":"F1"""",
        g("MultiLineString", "[[[1.0,2.0,3.0,4.0],[5.0,6.0]],[[7.0,8.0,9.0]]]")),
      feat("mpg", """"class":"Shape","title":"mpg"""",
        g("MultiPolygon", "[[[[1.0,2.0,3.0,4.0],[5.0,6.0,7.0,8.0]]],[[[9.0,10.0,11.0,12.0]]]]")),
      feat("gc", """"class":"Shape","title":"gc","folder_id":"F2"""",
        g("GeometryCollection",
          """[{"type":"Point","coordinates":[1.0,2.0,3.0,4.0]},{"type":"LineString","coordinates":[[5.0,6.0,7.0,8.0],[9.0,10.0,11.0,12.0]]}]""")),
      feat("nogeom", """"class":"Marker","title":"n","folder_id":"F1"""", "null"),
      feat("absent", """"class":"Marker","title":"a"""", null)) ++ extra
    val doc = scratchDir("graft-flagship-doc").resolve("map.json")
    Files.writeString(doc,
      feats.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}"))
    decode(spark.read.format("graft.sources.GeoJsonSource").load(doc.toString))
  }

  test("fused flagship equals the staged stage chain on a decoded GeoJSON document") {
    val features = edgeTick
    val fused = CalTopo.flagship(features).collect().toSeq
    assert(multiset(fused) == multiset(stagedFlagship(features).collect().toSeq))
    val byId = fused.map(r => r.getString(0) -> r).toMap
    assert(byId.keySet ==
      Set("pt4", "pt2", "pt3", "ln", "pg", "mpt", "mls", "mpg", "gc"))
    def get(id: String, c: String) = Option(byId(id).getAs[Any](c))
    def xyz(id: String) = Seq("x", "y", "z").map(get(id, _))
    assert(xyz("pt4") == Seq(Some(10.5), Some(20.25), Some(100.0)))
    assert(xyz("pt2") == Seq(Some(1.0), Some(2.0), None))
    assert(xyz("ln") == Seq(Some(0.0), Some(1.0), None))
    assert(xyz("mpg") == Seq(Some(1.0), Some(2.0), Some(3.0)))
    assert(xyz("gc") == Seq(None, None, None))
    assert(get("pt4", "marker_color_out") == Some("#FF0000"))
    assert(get("pt2", "marker_color_out").isEmpty && get("pt2", "remarks") == Some(""))
    assert(get("pg", "marker_color_out").isEmpty &&
      get("pg", "metadata_marker_color") == Some("00FF00"))
    assert(Seq("pt4", "pt2", "pt3", "ln", "pg", "gc").map(get(_, "path")) ==
      Seq(Some("/One"), None, None, None, Some("/Two"), Some("/Two")))
  }

  test("both folder routes give the staged chain's rows: literal at the cap, over it, duplicate id") {
    // a null-title folder, folders with "" and null ids (never matched:
    // a folderId must be truthy), and a feature in the null-title folder;
    // edgeTick already holds dangling, "" and absent folder ids
    val extra = Seq(
      feat("F3", """"class":"Folder","title":null""", null),
      feat("", """"class":"Folder","title":"Empty id"""", null),
      """{"id":null,"type":"Feature","properties":{"class":"Folder","title":"Null id"}}""",
      feat("nt", """"class":"Marker","title":"nt","folder_id":"F3"""", g("Point", "[1.0,2.0]")))
    // unreferenced folders fill the dimension to the cap, then one past it
    def padded(n: Int) = (0 until n).map(i =>
      feat(s"pad-$i", s""""class":"Folder","title":"Pad $i"""", null))
    val features = edgeTick(extra ++ padded(CalTopo.FolderLiteralCap - 5))
    assert(CalTopo.folderDim(features).count() == CalTopo.FolderLiteralCap)
    val (literal, literalStaged, literalRoutes) = bothForms(features)
    assert(literalRoutes == Seq("folders=literal"))
    assert(multiset(literal) == multiset(literalStaged))
    val (over, overStaged, overRoutes) =
      bothForms(edgeTick(extra ++ padded(CalTopo.FolderLiteralCap - 4)))
    assert(overRoutes == Seq("folders=broadcast"))
    assert(multiset(over) == multiset(overStaged))
    assert(multiset(over) == multiset(literal))
    val paths = literal.map(r => r.getString(0) -> Option(r.getAs[String]("path"))).toMap
    assert(Seq("pt4", "pt2", "pt3", "ln", "pg", "nt").map(paths) ==
      Seq(Some("/One"), None, None, None, Some("/Two"), None))
    // a second F1 folder: the left join gives F1's features one row per
    // folder, and the literal route must not be taken
    val dup = edgeTick(extra :+ feat("F1", """"class":"Folder","title":"Uno"""", null))
    val (dupRows, dupStaged, dupRoutes) = bothForms(dup)
    assert(dupRoutes == Seq("folders=broadcast"))
    assert(multiset(dupRows) == multiset(dupStaged))
    assert(dupRows.filter(_.getString(0) == "pt4").map(_.getAs[String]("path")).sorted ==
      Seq("/One", "/Uno"))
    assert(dupRows.size == literal.size + 2) // pt4 and mls sit in F1
  }

  test("truncated scalars read 2-, 3- and 4-component positions under ANSI mode") {
    // coord_truncate / q_udf_geo_truncate flatten positions through
    // truncatedScalars: a missing third component is null, never an
    // INVALID_ARRAY_INDEX_IN_ELEMENT_AT failure of the whole query
    val rows = graft.queries.CalTopoQueries.truncatedScalars(
        CalTopo.coordTruncate(CalTopo.mainFlow(edgeTick)))
      .collect().map(r => r.getString(0) -> r).toMap
    def vals(id: String, cs: String*) = cs.map(c => Option(rows(id).getAs[Any](c)))
    assert(vals("pt2", "n_components", "x", "y", "z") ==
      Seq(Some(2), Some(1.0), Some(2.0), None))
    assert(vals("pt3", "n_components", "z") == Seq(Some(3), Some(3.5)))
    assert(vals("pt4", "n_components", "x", "y", "z") ==
      Seq(Some(3), Some(10.5), Some(20.25), Some(100.0)))
    // a LineString from a 2-component first to a 4-component last position
    assert(vals("ln", "n_components", "z", "n_last", "xl", "yl", "zl") ==
      Seq(Some(2), None, Some(3), Some(2.0), Some(2.0), Some(2.0)))
  }

  test("flagship's plan rewrites no struct and serializes no JSON") {
    // over a decoded tick: the generated feature table serializes its own
    // coordinates with to_json, a decoded document does not
    val qe = CalTopo.flagship(edgeTick).queryExecution
    // the optimizer rewrites UpdateFields into struct builds and replaces
    // StructsToJson with an Invoke of its evaluator, so look for all three
    def found(plan: LogicalPlan) = plan.flatMap(_.expressions.flatMap(_.collect {
      case e: UpdateFields => e.prettyName
      case e: StructsToJson => e.prettyName
      case i: Invoke if (i.targetObject.dataType match {
        case ObjectType(c) => c.getSimpleName == "StructsToJsonEvaluator"
        case _ => false
      }) => i.prettyName
    }))
    for (plan <- Seq(qe.analyzed, qe.optimizedPlan))
      assert(found(plan).isEmpty, s"${found(plan)} in\n$plan")
  }
}

object CalTopoSpec {

  /** The flagship as the staged chain A5 → A6 → A7/8/9/11 → A10 → A12 →
    * A13, flattened by one select: the reference the fused operator must
    * equal row for row. Position components are read with
    * `try_element_at`, as the operator does: under ANSI mode `element_at`
    * past a 2-component position fails the query instead of giving null.
    */
  def stagedFlagship(features: DataFrame): DataFrame = {
    val folders = CalTopo.folderDim(features)
    val out = CalTopo.folderJoin(
      CalTopo.pointEnrich(CalTopo.coordTruncate(CalTopo.enrichProperties(
        CalTopo.projectNest(CalTopo.mainFlow(features))))),
      folders)
    val pos = CalTopo.firstPosition(col("geometry"))
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
      try_element_at(pos, lit(1)).as("x"),
      try_element_at(pos, lit(2)).as("y"),
      try_element_at(pos, lit(3)).as("z"),
      col("path"))
  }

  /** The typed decode a map tick runs between the scan and the flagship:
    * strict `from_json` of the raw properties plus the geometry struct.
    */
  def decode(raw: DataFrame): DataFrame = {
    val propsSchema = StructType(CalTopoFeatures.featureSchema.fields
      .filterNot(f => f.name == "id" || f.name == "geometry"))
    raw.select(col("id"),
        from_json(col("properties_json"), propsSchema, Map("mode" -> "FAILFAST")).as("p"),
        when(col("geom_type").isNotNull,
          struct(col("geom_type").as("type"), col("geom_coords").as("coordinates")))
          .as("geometry"))
      .select(col("id"), col("p.*"), col("geometry"))
  }

  def multiset(rows: Seq[Row]): Map[Row, Int] =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.size }
}
