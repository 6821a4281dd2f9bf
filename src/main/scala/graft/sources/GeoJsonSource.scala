package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.core.JsonToken._
import com.fasterxml.jackson.core.json.UTF8StreamJsonParser
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DSv2 source for GeoJSON FeatureCollection documents (SURVEY.md §2
  * A1): the reference's scan is an HTTP GET of one CalTopo map's state
  * (`/root/reference/task.ts:68-88`); this is the productionized Spark
  * shape — a TableProvider whose partitions are fetch units. Here the fetch
  * unit is either a local file or an http(s) URL (one unit = one
  * InputPartition = one task); [[DocTransport]] dispatches on the scheme,
  * so the same scan reads a directory of documents or a list of live map
  * endpoints.
  *
  * Row shape: (id, feature_type, properties_json, geom_type, geom_coords) —
  * properties stay raw JSON so the strict typed decode (A2,
  * `from_json(featureSchema)`) is a downstream, catalyst-optimizable step,
  * exactly like the reference's envelope-then-`typed()` split. Each fetch
  * unit is read once and tokenized once ([[GeoJsonReader]]):
  * `properties_json` and `geom_coords` are the document's own member
  * text, sliced from its bytes, never a parsed tree serialized again.
  *
  * Incremental cursor: the reference URL embeds `since/<timestamp>`
  * (`task.ts:68` — it always passes `-500`, i.e. full state, and CalTopo's
  * server returns only features updated since T otherwise). The same
  * semantics are declared here as a `since` read option applied AT THE
  * FETCH UNIT, before rows ever enter the scan: a negative T is the
  * reference's full-state pull, a non-negative T keeps exactly the
  * features whose `properties.updated >= T` (features without a numeric
  * `updated` stamp cannot prove recency and are excluded, matching a
  * post-hoc `updated >= T` filter's NULL semantics — SourceSinkSpec pins
  * the equivalence).
  *
  * Usage: spark.read.format("graft.sources.GeoJsonSource").load(path)
  *   [.option("since", t)].
  */
class GeoJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoJsonSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GeoJsonTable(GeoJsonSource.pathsFrom(properties))
}

object GeoJsonSource {
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("feature_type", StringType),
    StructField("properties_json", StringType),
    StructField("geom_type", StringType),
    StructField("geom_coords", StringType)))

  private[sources] def pathsFrom(props: util.Map[String, String]): Seq[String] = {
    val single = Option(props.get("path")).toSeq
    val multi = Option(props.get("paths")).toSeq.flatMap { js =>
      new ObjectMapper().readTree(js).elements().asScala
        .map(_.asText()).toSeq
    }
    (single ++ multi).distinct
  }
}

class GeoJsonTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"geojson(${paths.mkString(",")})"
  override def schema(): StructType = GeoJsonSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // the incremental cursor rides the per-read options
    // (`.option("since", t)`); the retry policy is Fetch's
    () => new GeoJsonScan(paths,
      options.getLong("since", -500L),
      // the reference's `verbose: DEBUG` fetch pass-through (task.ts:87)
      options.getBoolean("verbose", false))
}

class GeoJsonScan(paths: Seq[String], since: Long, verbose: Boolean = false)
    extends Scan with Batch {
  override def readSchema(): StructType = GeoJsonSource.schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    paths.map(p => GeoJsonPartition(p, since, verbose): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[GeoJsonPartition]
      new GeoJsonReader(p.path, p.since, p.verbose)
    }
}

case class GeoJsonPartition(path: String, since: Long, verbose: Boolean)
  extends InputPartition

/** Reads one fetch unit's FeatureCollection document into feature rows.
  * Accepts either a bare FeatureCollection or the reference's envelope
  * `{result: {state: <FeatureCollection>}}` (`task.ts:71-88`).
  *
  * The fetch: transport picked by scheme (file, or live HTTP GET for
  * http(s):// fetch units — reference task.ts:70); transient faults (I/O,
  * 5xx) retry in place ([[Fetch.withRetry]] with [[Fetch.MaxAttempts]]
  * and [[Fetch.BackoffMs]]), permanent faults (4xx,
  * malformed document) abort the task — reference fetch().typed()
  * semantics split across transport, retry, and decode layers; `verbose`
  * gates per-exchange logging (the reference's `verbose: DEBUG`,
  * task.ts:87). The document's bytes are read and tokenized inside the
  * retry, so a malformed one fails there, before any row is emitted.
  */
class GeoJsonReader(path: String, since: Long = -500L, verbose: Boolean = false)
  extends PartitionReader[InternalRow] {
  private val rows: Iterator[InternalRow] =
    Fetch.withRetry(verbose) {
      val in = DocTransport.forTarget(path).open(path, verbose)
      val doc = try in.readAllBytes() finally in.close()
      GeoJsonReader.features(doc, since)
    }.iterator

  private var current: InternalRow = _

  override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

object GeoJsonReader {
  private val mapper = new ObjectMapper()

  /** The feature rows of one document, in document order, from one pass
    * of a streaming tokenizer over its bytes; throws a Jackson parse error
    * on a malformed document.
    *
    * Each row is what a Jackson tree of the document would give: the
    * envelope's `result.state` whenever `result` is present, in any key
    * order (an absent `state` gives no rows); the last of duplicate keys;
    * `features` elements, or the member values of an object `features`,
    * and nothing from any other `features`; null columns for a non-object
    * element; null geometry columns for a null, absent or non-object
    * geometry. A string member is its text and null is null. `id`, `type`
    * and the geometry's `type` render any other value as its compact JSON
    * (a numeric id `12` is `"12"`). `properties_json` and `geom_coords`
    * are an object's or array's text exactly as the document spells it, a
    * view of `doc`'s bytes. `since` >= 0 keeps only the features whose
    * `properties.updated` is a number of at least `since`.
    *
    * A document in a UTF-16 or UTF-32 encoding is read as its tree,
    * written back as UTF-8, and tokenized from those bytes.
    */
  def features(doc: Array[Byte], since: Long): Seq[InternalRow] = {
    val p = mapper.getFactory.createParser(doc)
    try p match {
      case _: UTF8StreamJsonParser => new Walk(doc, p, since).document()
      case _ => features(mapper.writeValueAsBytes(mapper.readTree(p)), since)
    } finally p.close()
  }

  /** One pass over a document: each method starts on the first token of
    * a value and leaves the parser on that value's last token.
    */
  private final class Walk(doc: Array[Byte], p: JsonParser, since: Long) {

    def document(): Seq[InternalRow] =
      if (p.nextToken() == null) Nil
      else {
        var own: Seq[InternalRow] = Nil
        var state: Option[Seq[InternalRow]] = None
        objectMembers {
          case "features" => own = featureList()
          case "result"   => state = Some(member("state")(featureCollection()))
          case _          => p.skipChildren()
        }
        state.getOrElse(own)
      }

    private def featureCollection(): Seq[InternalRow] = member("features")(featureList())

    /** The last `name` member of an object value, read by `read`; empty
      * for an object without one and for any other value.
      */
    private def member(name: String)(read: => Seq[InternalRow]): Seq[InternalRow] = {
      var out: Seq[InternalRow] = Nil
      objectMembers { n => if (n == name) out = read else p.skipChildren() }
      out
    }

    /** Calls `f` with each member name of an object value, on the first
      * token of the member's value; skips any other value.
      */
    private def objectMembers(f: String => Unit): Unit =
      if (p.currentToken != START_OBJECT) p.skipChildren()
      else while (p.nextToken() == FIELD_NAME) {
        val name = p.currentName()
        p.nextToken()
        f(name)
      }

    private def featureList(): Seq[InternalRow] = p.currentToken match {
      case START_ARRAY =>
        val out = Vector.newBuilder[InternalRow]
        while (p.nextToken() != END_ARRAY) feature().foreach(out += _)
        out.result()
      case START_OBJECT =>
        // a later duplicate key replaces the value in the first one's place
        val byKey = mutable.LinkedHashMap.empty[String, Option[InternalRow]]
        objectMembers(k => byKey(k) = feature())
        byKey.values.flatten.toSeq
      case _ => Nil
    }

    /** The feature row, or None when the `since` cursor drops it. */
    private def feature(): Option[InternalRow] = {
      var (id, kind, props, geomType, coords) =
        (null: UTF8String, null: UTF8String, null: UTF8String, null: UTF8String, null: UTF8String)
      var updated: Option[Long] = None
      objectMembers {
        case "id"         => id = text()
        case "type"       => kind = text()
        case "properties" => updated = None; props = properties(u => updated = u)
        case "geometry"   =>
          geomType = null; coords = null
          objectMembers {
            case "type"        => geomType = text()
            case "coordinates" => coords = raw()
            case _             => p.skipChildren()
          }
        case _ => p.skipChildren()
      }
      if (since >= 0 && !updated.exists(_ >= since)) None
      else Some(new GenericInternalRow(Array[Any](id, kind, props, geomType, coords)))
    }

    /** The raw text of `properties`, reporting its numeric `updated` stamp
      * (as a tree's `asLong`) when the `since` cursor needs it.
      */
    private def properties(stamp: Option[Long] => Unit): UTF8String =
      if (since < 0 || p.currentToken != START_OBJECT) raw()
      else {
        val from = p.currentTokenLocation().getByteOffset
        objectMembers {
          case "updated" => stamp(p.currentToken match {
            case VALUE_NUMBER_INT   => Some(p.getNumberValue.longValue)
            case VALUE_NUMBER_FLOAT => Some(p.getDoubleValue.toLong)
            case _                  => p.skipChildren(); None
          })
          case _ => p.skipChildren()
        }
        slice(from)
      }

    /** An object's or array's text as the document spells it; else [[text]]. */
    private def raw(): UTF8String = p.currentToken match {
      case START_OBJECT | START_ARRAY =>
        val from = p.currentTokenLocation().getByteOffset
        p.skipChildren()
        slice(from)
      case _ => text()
    }

    /** The bytes from `from` to the end of the current token. */
    private def slice(from: Long): UTF8String =
      UTF8String.fromBytes(doc, from.toInt,
        (p.currentLocation().getByteOffset - from).toInt)

    /** A string's text, null for null, else the value's compact JSON. */
    private def text(): UTF8String = p.currentToken match {
      case VALUE_NULL   => null
      case VALUE_STRING => UTF8String.fromString(p.getText)
      case _ => UTF8String.fromString(mapper.readTree[JsonNode](p).toString)
    }
  }
}
