package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.{UTF_8, UTF_16BE}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{CalTopoFeatures, Fetch, GeoJsonReader}

/** The streaming GeoJSON reader against the Jackson-tree reader it
  * replaced, kept here as the reference: on every document below, both
  * give the same rows, with `properties_json` and `geom_coords` compared
  * decoded (the typed `from_json` of the properties, the parsed
  * coordinates), since the streaming reader keeps the document's own
  * spelling of both.
  */
class GeoJsonReaderSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** The tree reader: the document's rows as (id, feature_type,
    * properties_json, geom_type, geom_coords).
    */
  private def treeRows(doc: Array[Byte], since: Long): Seq[Seq[String]] = {
    val root = mapper.readTree(new java.io.ByteArrayInputStream(doc))
    val fc = if (root.has("result")) root.path("result").path("state") else root
    def str(n: JsonNode): String =
      if (n.isMissingNode || n.isNull) null else if (n.isTextual) n.asText() else n.toString
    fc.path("features").elements().asScala.filter { f =>
      since < 0 || {
        val u = f.path("properties").path("updated")
        u.isNumber && u.asLong() >= since
      }
    }.map { f =>
      val geom = f.path("geometry")
      val noGeom = geom.isMissingNode || geom.isNull
      Seq(str(f.path("id")), str(f.path("type")), str(f.path("properties")),
        if (noGeom) null else str(geom.path("type")),
        if (noGeom) null else str(geom.path("coordinates")))
    }.toSeq
  }

  private def streamRows(doc: Array[Byte], since: Long): Seq[Seq[String]] =
    GeoJsonReader.features(doc, since).map(r =>
      (0 until 5).map(i => Option(r.getUTF8String(i)).map(_.toString).orNull))

  /** A member's text parsed as JSON; text that is no JSON (a string
    * member's value) as itself.
    */
  private def parsed(js: String): Any =
    if (js == null) null else scala.util.Try(mapper.readTree(js)).getOrElse(js)

  private val propsSchema = StructType(CalTopoFeatures.featureSchema.fields
    .filterNot(f => f.name == "id" || f.name == "geometry"))

  private val docs: Seq[(String, String)] = Seq(
    "bare collection" -> """{"type":"FeatureCollection","features":[
      |{"id":"a","type":"Feature","properties":{"title":"A","class":"Marker","updated":250,"stroke_width":2.50},
      | "geometry":{"type":"Point","coordinates":[1.5,2.50,3e0,4]}},
      |{"id":"b","type":"Feature","properties":{"title":"B","fill_opacity":1E-1},
      | "geometry":{"type":"LineString","coordinates":[[0,0],[1,1.0]]}}]}""".stripMargin,
    "pretty printed" -> """{
      |  "type" : "FeatureCollection",
      |  "features" : [ {
      |    "id" : "p", "type" : "Feature",
      |    "properties" : { "title" : "P", "updated" : 300 },
      |    "geometry" : { "type" : "Polygon", "coordinates" : [ [ [ 1 , 2 ] , [ 3 , 4 ] ] ] }
      |  } ]
      |}""".stripMargin,
    "result after features" -> """{"features":[{"id":"top"}],"status":"ok",
      |"result":{"state":{"type":"FeatureCollection","features":[
      |{"id":"inner","properties":{"title":"I","updated":300}}]}}}""".stripMargin,
    "result before features" -> """{"result":{"state":{"features":[{"id":"inner"}]}},
      |"features":[{"id":"top"}]}""".stripMargin,
    "result without state" -> """{"result":{"status":"ok"},"features":[{"id":"top"}]}""",
    "null result" -> """{"features":[{"id":"top"}],"result":null}""",
    "array result" -> """{"result":[{"state":{"features":[{"id":"x"}]}}]}""",
    "array state" -> """{"result":{"state":[{"features":[{"id":"x"}]}]}}""",
    "object features" ->
      """{"features":{"k1":{"id":"o1"},"k2":{"id":"o2","properties":{"updated":900}},"k1":{"id":"o3"}}}""",
    "string features" -> """{"features":"none"}""",
    "null features" -> """{"features":null}""",
    "non-object elements" ->
      """{"features":[1,"s",null,[1,2],true,{},{"id":"ok","properties":{"updated":700}}]}""",
    // JSON escapes, \u escapes (a surrogate pair included) and raw UTF-8
    "escaped strings" -> ("""{"features":[{"id":"q\"uote\\back\/slash","type":"Fe""" +
      "\\u0061" + """ture","properties":{"title":"caf""" + "\\u00e9 \\ud83d\\ude00" +
      """ café ü","description":"line\nbreak\ttab \"q\"","marker_color":"FF0000",
      |"class":"Marker"},"geometry":{"type":"Point","coordinates":[1.0,2.0]}}]}""".stripMargin),
    "numeric ids" -> """{"features":[{"id":12},{"id":-0},{"id":1.50},{"id":1e2},
      |{"id":12345678901234567890},{"id":true},{"id":{"a" : 1}},{"id":[1, 2]},{"id":null},
      |{"id":"t","type":7}]}""".stripMargin,
    "geometries" -> """{"features":[{"id":"null","geometry":null},{"id":"absent"},
      |{"id":"no coordinates","geometry":{"type":"Point"}},
      |{"id":"null coordinates","geometry":{"type":"Point","coordinates":null}},
      |{"id":"string coordinates","geometry":{"type":"Point","coordinates":"[1,2]"}},
      |{"id":"array geometry","geometry":[1,2]},{"id":"string geometry","geometry":"Point"},
      |{"id":"numeric type","geometry":{"type":7,"coordinates":[ 1 , 2 ]}},
      |{"id":"collection","geometry":{"type":"GeometryCollection","coordinates":[{"type":"Point","coordinates":[1,2,3,4]}]}},
      |{"id":"later null","geometry":{"type":"Point","coordinates":[1,2]},"geometry":null}]}""".stripMargin,
    "duplicate keys" -> """{"features":[{"id":"first"}],"features":[{"id":"a","id":"b",
      |"properties":{"title":"x","title":"y","updated":1,"updated":500},
      |"properties":{"updated":9}},{"id":"c","properties":{"updated":1,"updated":600}}]}""".stripMargin,
    "since stamps" -> """{"features":[{"id":"int","properties":{"updated":200}},
      |{"id":"under","properties":{"updated":199.9}},{"id":"over","properties":{"updated":200.5}},
      |{"id":"string","properties":{"updated":"300"}},{"id":"null","properties":{"updated":null}},
      |{"id":"exp","properties":{"updated":1e300}},
      |{"id":"huge","properties":{"updated":123456789012345678901234567890}},
      |{"id":"negative","properties":{"updated":-5}},{"id":"text","properties":"text"},
      |{"id":"array","properties":[{"updated":900}]},{"id":"nested","properties":{"x":{"updated":900}}},
      |{"id":"absent"}]}""".stripMargin,
    "empty collection" -> """{"type":"FeatureCollection","features":[]}""",
    "root array" -> """[{"features":[{"id":"x"}]}]""",
    "root scalar" -> "42",
    "blank" -> " \n ",
    "trailing document" -> """{"features":[{"id":"x"}]} {"features":[{"id":"y"}]}""")

  test("streaming and tree readers give the same decoded rows on every document") {
    import spark.implicits._
    val encodings = docs.flatMap { case (name, doc) =>
      Seq(name -> doc.getBytes(UTF_8),
        s"$name, byte-order mark" -> ("\uFEFF" + doc).getBytes(UTF_8),
        s"$name, UTF-16" -> doc.getBytes(UTF_16BE))
    }
    val pairs = for {
      (name, bytes) <- encodings
      since <- Seq(-500L, 0L, 200L, 300L)
    } yield {
      val (tree, stream) = (treeRows(bytes, since), streamRows(bytes, since))
      val where = s"$name, since $since"
      assert(stream.size == tree.size, s"$where: ${stream.map(_.head)} vs ${tree.map(_.head)}")
      tree.zip(stream).zipWithIndex.map { case ((t, s), i) =>
        // id, feature type and geometry type are the same strings
        assert(Seq(0, 1, 3).map(s) == Seq(0, 1, 3).map(t), s"$where, row $i")
        // properties and coordinates decode to the same values
        assert(parsed(s(2)) == parsed(t(2)), s"$where, row $i: ${s(2)} vs ${t(2)}")
        assert(parsed(s(4)) == parsed(t(4)), s"$where, row $i: ${s(4)} vs ${t(4)}")
        (s"$where, row $i", t(2), s(2))
      }
    }
    assert(pairs.flatten.size > 100)
    val decoded = pairs.flatten.toDF("row", "tree", "stream")
      .select(col("row"), from_json(col("tree"), propsSchema).as("t"),
        from_json(col("stream"), propsSchema).as("s"))
    val differ = decoded.filter(!(col("t") <=> col("s"))).collect()
    assert(differ.isEmpty, differ.take(3).mkString("; "))
    assert(decoded.filter(col("s.title").isNotNull).count() > 10)
  }

  test("the streaming reader keeps the document's own text of properties and coordinates") {
    val rows = streamRows(docs.toMap.apply("pretty printed").getBytes(UTF_8), -500L)
    assert(rows.map(_.take(2)) == Seq(Seq("p", "Feature")))
    assert(rows.head(2) == """{ "title" : "P", "updated" : 300 }""")
    assert(rows.head(4) == "[ [ [ 1 , 2 ] , [ 3 , 4 ] ] ]")
    val escaped = streamRows(docs.toMap.apply("escaped strings").getBytes(UTF_8), -500L).head
    assert(escaped(0) == "q\"uote\\back/slash" && escaped(1) == "Feature" && escaped(3) == "Point")
    assert(escaped(2).contains("caf\\u00e9"))
  }

  test("a malformed document aborts the read without a retry") {
    val bad = Seq(
      """{"features":[{"id":"a"}""",               // ends inside the array
      """{"features":[{"id":"a",}]}""",             // trailing comma
      """{"features":[{"id":"a","properties":{"updated":1}}]""", // no closing brace
      """{"features":[{"id":nope}]}""")
    bad.foreach { doc =>
      val e = intercept[JsonProcessingException](GeoJsonReader.features(doc.getBytes(UTF_8), -500L))
      assert(!Fetch.isTransient(e), doc)
      intercept[JsonProcessingException](treeRows(doc.getBytes(UTF_8), -500L))
    }
    // over a live fetch: one GET, then the task aborts
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/map", (ex: HttpExchange) => {
      try {
        hits.incrementAndGet()
        val body = bad.head.getBytes(UTF_8)
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      } finally ex.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/map"
      intercept[JsonProcessingException](
        new GeoJsonReader(url).next())
      assert(hits.get() == 1)
    } finally server.stop(0)
  }
}
