package graft.layerbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.CalTopo
import graft.sources.{CalTopoFeatures, FeatureCollectionSink, Tables}

/** One timed operation of a pass: a CalTopo map tick or one registered
  * query. `build` is the queries-layer call that returns the DataFrame;
  * `exec` is the terminal write. `before` and `check` are the harness's own
  * work around the op, off the op's and the pass's clocks: `check` inspects
  * the output and returns an error message on a mismatch.
  */
trait Op {
  def name: String
  def build(spark: SparkSession): DataFrame
  def exec(df: DataFrame): Unit
  def before(): Unit = ()
  def check(): Option[String] = None
}

trait Workload {
  def ops: Seq[Op]
  /** Input rows one pass processes (the numerator of rows_per_s). */
  def inputRows: Long
  /** Set-up work after the session is built: read the inputs. */
  def load(spark: SparkSession): Unit
  /** Source-layer costs for the traced run, in seconds: scan, decode and
    * sink, given the median measured pass wall.
    */
  def sourcePasses(spark: SparkSession, passWall: Double): Map[String, Double]
  /** Stub traffic counters (zeros when the workload has no stub). */
  def traffic: Map[String, Long] = Map.empty
  def close(): Unit = ()
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def apply(name: String, data: Path, cpus: Int, corrupt: Boolean): Workload =
    name match {
      case "caltopo_etl" => new CalTopoEtl(data, cpus, corrupt)
      case "llm_dedup" => new QuerySet(data, LlmQueries, Seq("documents", "embeddings"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  val LlmQueries = Seq("q_dedup_pipeline", "q_dedup_minhash", "q_dedup_simhash",
    "q_knn_lsh_dedup", "q_text_tfidf", "q_text_quality")
}

/** Registered queries over the generated `inputs` tables, each built
  * through `SparkEntry.queries(name)` and forced with a noop write; a pass
  * processes every row of the inputs.
  */
final class QuerySet(data: Path, names: Seq[String], inputs: Seq[String])
    extends Workload {
  private val dir = data.resolve("tables").toString

  val ops: Seq[Op] = names.map { n =>
    new Op {
      val name: String = n
      def build(spark: SparkSession): DataFrame = SparkEntry.queries(n)(spark, dir)
      def exec(df: DataFrame): Unit = Workload.noop(df)
    }
  }

  private val manifest = new ObjectMapper().readTree(data.resolve("manifest.json").toFile)

  val inputRows: Long = inputs.map(t => manifest.path("rows").path(t).asLong()).sum

  /** Resolve and read the input tables, as `graft.Bench` does before it
    * times anything.
    */
  def load(spark: SparkSession): Unit =
    inputs.foreach(t => Tables.load(spark, dir, t).count())

  /** scan: the first column of each input table; decode: all columns,
    * less the scan; sink: writing each input table as parquet, less its
    * noop write.
    */
  def sourcePasses(spark: SparkSession, passWall: Double): Map[String, Double] = {
    val tables = inputs.map(t => Tables.load(spark, dir, t))
    val scan = tables.map(df => Workload.timed(Workload.noop(df.select(df.columns.head)))).sum
    val full = tables.map(df => Workload.timed(Workload.noop(df))).sum
    val parquet = tables.zip(inputs).map { case (df, t) =>
      val out = Paths.get(sys.props("java.io.tmpdir"), s"sink-$t").toString
      Workload.timed(df.write.mode("overwrite").parquet(out))
    }.sum
    Map("scan" -> scan, "decode" -> (full - scan), "sink" -> (parquet - full))
  }

  /** The result pass: every query's result as parquet, plus the oracle SQL
    * of each, in the layout `scripts/selfcheck.py` reads.
    */
  def writeResults(spark: SparkSession, out: Path): Unit = {
    names.foreach { n =>
      SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(n).toString)
    }
    val oracles = new java.util.TreeMap[String, String]()
    names.foreach(n => oracles.put(n, SparkEntry.oracleSql(n)))
    new ObjectMapper().writeValue(out.resolve("oracle_sql.json").toFile, oracles)
  }
}

/** The reference's traffic: per tick, GET one map's state from the stub
  * through `GeoJsonSource`, decode it to typed features, run
  * `CalTopo.flagship`, and POST the result back through
  * `FeatureCollectionSink`. Every tick's posted ids are checked against the
  * generator's expected ids for that map.
  */
final class CalTopoEtl(data: Path, cpus: Int, corrupt: Boolean) extends Workload {
  private val mapper = new ObjectMapper()
  private val mapNames: Seq[String] =
    Files.list(data.resolve("maps")).iterator().asScala
      .map(_.getFileName.toString.stripSuffix(".json")).toSeq.sorted
  private val expected: Map[String, Seq[String]] = {
    val tree = mapper.readTree(data.resolve("expected.json").toFile)
    mapNames.map(m => m -> tree.path(m).elements().asScala.map(_.asText()).toSeq).toMap
  }
  private var stub: Stub = _

  val inputRows: Long = {
    val f = mapper.readTree(data.resolve("manifest.json").toFile).path("features")
    mapNames.map(m => f.path(m).asLong()).sum
  }

  /** Start the stub with the maps read into memory. */
  def load(spark: SparkSession): Unit = {
    stub = new Stub(mapNames.map(m =>
      m -> Files.readAllBytes(data.resolve("maps").resolve(s"$m.json"))).toMap, cpus)
  }

  private def scan(spark: SparkSession, map: String): DataFrame =
    spark.read.format("graft.sources.GeoJsonSource")
      .option("path", s"${stub.base}/map/$map").load()

  private val propsSchema = StructType(CalTopoFeatures.featureSchema.fields
    .filterNot(f => f.name == "id" || f.name == "geometry"))

  /** Typed decode of the scan's raw rows to the flagship's input columns. */
  private def decode(raw: DataFrame): DataFrame =
    raw.select(col("id"),
        from_json(col("properties_json"), propsSchema, Map("mode" -> "FAILFAST")).as("p"),
        when(col("geom_type").isNotNull,
          struct(col("geom_type").as("type"), col("geom_coords").as("coordinates")))
          .as("geometry"))
      .select(col("id"), col("p.*"), col("geometry"))

  val ops: Seq[Op] = mapNames.map { m =>
    new Op {
      val name: String = m
      override def before(): Unit = stub.beginTick()
      def build(spark: SparkSession): DataFrame = {
        val out = CalTopo.flagship(decode(scan(spark, m)))
        // self-test hook: rename the lowest delivered id, which the
        // output check must catch
        if (!corrupt) out
        else out.withColumn("id", when(col("id") === expected(m).head,
          concat(col("id"), lit("-corrupt"))).otherwise(col("id")))
      }
      def exec(df: DataFrame): Unit = FeatureCollectionSink.write(df, s"${stub.base}/submit/$m")
      override def check(): Option[String] = {
        val got = stub.postedIds(m).sorted
        val want = expected(m)
        if (got == want) None
        else Some(s"posted ${got.size} features, expected ${want.size}; " +
          s"unexpected ${got.diff(want).take(3).mkString(",")} " +
          s"missing ${want.diff(got).take(3).mkString(",")}")
      }
    }
  }

  /** scan, scan+decode, and scan+decode+flagship over every map, each
    * forced with a noop write; the sink is what a measured pass adds to the
    * last of them.
    */
  def sourcePasses(spark: SparkSession, passWall: Double): Map[String, Double] = {
    def pass(f: DataFrame => DataFrame) = mapNames.map { m =>
      stub.beginTick()
      Workload.timed(Workload.noop(f(scan(spark, m))))
    }.sum
    val scanned = pass(identity)
    val decoded = pass(decode)
    val transformed = pass(raw => CalTopo.flagship(decode(raw)))
    Map("scan" -> scanned, "decode" -> (decoded - scanned),
      "sink" -> (passWall - transformed))
  }

  override def traffic: Map[String, Long] = Map(
    "gets" -> stub.gets.get, "posts" -> stub.posts.get,
    "in" -> stub.bytesIn.get, "out" -> stub.bytesOut.get,
    "fetch_retries" -> stub.fetchRetries.get, "post_retries" -> stub.postRetries.get)

  override def close(): Unit = if (stub != null) stub.stop()
}
