package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.CalTopo
import graft.queries.Registry
import graft.sources.{CalTopoFeatures, FeatureCollectionSink, Tables}
import CalTopoSpec.{decode, multiset}

/** Custom DSv2 GeoJSON source (A1) + partition-parallel FeatureCollection
  * sink (A14): fixture round trips.
  */
class SourceSinkSpec extends SparkSpec {

  private def writeFixture(): String = {
    val doc =
      """{"status":"ok","result":{"state":{"type":"FeatureCollection","features":[
        |{"id":"f1","type":"Feature","properties":{"title":"A","class":"Marker"},
        | "geometry":{"type":"Point","coordinates":[1.5,2.5,3.5,4.5]}},
        |{"id":"f2","type":"Feature","properties":{"title":"B","class":"Folder"}},
        |{"id":"f3","type":"Feature","properties":{"title":"C","class":"Shape"},
        | "geometry":{"type":"LineString","coordinates":[[0,0],[1,1]]}}
        |]}}}""".stripMargin.replace("\n", "")
    val p = scratchDir("graft-geojson").resolve("map.json")
    Files.writeString(p, doc)
    p.toString
  }

  /** The test data's CalTopo features as GeoJSON FeatureCollection
    * documents in the wire shape the map endpoint serves (properties keyed
    * by the typed schema's field names, coordinates as JSON arrays): one
    * document per id predicate in `docs`, written under `dir`.
    */
  private def writeFeatureDocs(dir: java.nio.file.Path,
      docs: Seq[String => Boolean]): Seq[String] = {
    val f = CalTopoFeatures.build(spark, sfDir)
    val props = f.columns.filterNot(Set("id", "geometry")).map(col)
    val rows = f.select(col("id"), to_json(struct(props.toSeq: _*)),
        col("geometry.type"), col("geometry.coordinates"))
      .collect()
    docs.zipWithIndex.map { case (holds, i) =>
      val feats = rows.filter(r => holds(r.getString(0))).map { r =>
        val geom =
          if (r.isNullAt(2)) "null"
          else s"""{"type":"${r.getString(2)}","coordinates":${r.getString(3)}}"""
        s"""{"id":"${r.getString(0)}","type":"Feature","properties":${r.getString(1)},"geometry":$geom}"""
      }
      val p = dir.resolve(s"map$i.json")
      Files.writeString(p,
        feats.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}"))
      p.toString
    }
  }

  /** Delivered documents under `out`: each one's feature ids. */
  private def deliveredIds(out: java.nio.file.Path): Seq[Seq[String]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    out.toFile.listFiles.filter(_.getName.endsWith(".json")).toSeq.map { f =>
      val root = mapper.readTree(f)
      assert(root.path("type").asText() == "FeatureCollection")
      root.path("features").elements().asScala.map(_.path("id").asText()).toSeq
    }
  }

  private lazy val declaredFlagship: Seq[Row] =
    Registry.all.find(_.name == "flagship").get.build(spark, sfDir).collect().toSeq

  test("flagship operator equals the declared flagship query as a multiset") {
    val op = CalTopo.flagship(CalTopoFeatures.build(spark, sfDir)).collect().toSeq
    assert(op.nonEmpty)
    assert(multiset(op) == multiset(declaredFlagship))
  }

  test("map tick: a build job, an exchange-free write job, one document per fetch unit") {
    val Seq(doc) = writeFeatureDocs(scratchDir("graft-tick-in"),
      Seq(_ => true))
    val out = scratchDir("graft-tick-out")
    // building the tick measures the folder dimension in one job
    val (built, written) = Trace(spark) { t =>
      val built = t.build(CalTopo.flagship(decode(
        spark.read.format("graft.sources.GeoJsonSource").load(doc))))
      (built, t.phase(FeatureCollectionSink.write(built.df, out.toString))._2)
    }
    assert(built.phase.calls.map(_.route) == Seq("folders=literal"))
    assert(built.phase.jobs.size == 1 && written.jobs.size == 1,
      s"jobs: build ${built.phase.jobs.size}, write ${written.jobs.size}")
    val Seq(write) = written.executions
    assert(write.exchanges == 0, write.plan.toString)
    assert(!write.plan.toString.toLowerCase.contains("rangepartitioning"), write.plan.toString)
    val docs = deliveredIds(out)
    assert(docs.size == 1)
    assert(docs.flatten.toSet == declaredFlagship.map(_.getString(0)).toSet)
    assert(docs.flatten.size == declaredFlagship.size)
    // the GeoJSON path computes the declared query's rows
    assert(multiset(built.df.collect().toSeq) == multiset(declaredFlagship))
  }

  test("a 2-document paths read delivers 2 documents holding every id") {
    // folders sit in the first document only: the folder dimension is
    // read from the whole scan, so the second document's paths resolve too
    val first = (id: String) => id.startsWith("F") || id.hashCode % 2 == 0
    val docs = writeFeatureDocs(scratchDir("graft-tick2-in"),
      Seq(first, !first(_)))
    val out = scratchDir("graft-tick2-out")
    val tick = CalTopo.flagship(decode(
      spark.read.format("graft.sources.GeoJsonSource")
        .option("paths", docs.map("\"" + _ + "\"").mkString("[", ",", "]"))
        .load()))
    assert(multiset(tick.collect().toSeq) == multiset(declaredFlagship))
    FeatureCollectionSink.write(tick, out.toString)
    val delivered = deliveredIds(out)
    assert(delivered.size == 2)
    assert(delivered.flatten.sorted == declaredFlagship.map(_.getString(0)).sorted)
  }

  test("table warm-up loads the tables present and skips the absent ones") {
    val dir = scratchDir("graft-warm").toString
    Tables.region(spark, sfDir).write.parquet(s"$dir/region.parquet")
    Tables.nation(spark, sfDir).write.parquet(s"$dir/nation.parquet")
    assert(Session.warmTables(spark, dir) == Seq("region", "nation"))
    assert(Session.warmTables(spark, sfDir) == Tables.names)
  }

  test("normalizeTs recovers NTZ micros independent of session timezone") {
    // the NTZ branch must be pure local-datetime arithmetic: a plain
    // cast(ts as timestamp) only preserved instants because every harness
    // pins spark.sql.session.timeZone=UTC (ADVICE r5). Run it under a
    // shifted session zone and assert the stored micros come back intact.
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val ntz = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-03-15 12:34:56.789012' AS ts, 1 AS x")
      val out = graft.sources.Tables.normalizeTs(ntz)
      assert(out.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      val micros = out.select(unix_micros(col("ts"))).collect().head.getLong(0)
      // 2024-03-15T12:34:56.789012Z as micros since the epoch
      assert(micros == 1710506096789012L, s"got $micros")
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("since-T cursor read equals the full read filtered on updated >= T") {
    // the reference URL's since/<timestamp> segment (task.ts:68): -500 =
    // full state; non-negative T = only features updated at/after T. The
    // source applies the cursor at the fetch unit, and the result must be
    // indistinguishable from filtering a full pull.
    val doc =
      """{"type":"FeatureCollection","features":[
        |{"id":"a","type":"Feature","properties":{"title":"A","updated":100}},
        |{"id":"b","type":"Feature","properties":{"title":"B","updated":200}},
        |{"id":"c","type":"Feature","properties":{"title":"C","updated":300}},
        |{"id":"d","type":"Feature","properties":{"title":"D"}}
        |]}""".stripMargin.replace("\n", "")
    val p = scratchDir("graft-geojson-since").resolve("map.json")
    Files.writeString(p, doc)
    def read(opts: Map[String, String]) = {
      val r = spark.read.format("graft.sources.GeoJsonSource")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(p.toString)
    }
    val full = read(Map.empty)
    assert(full.count() == 4) // default = the reference's since/-500 pull
    assert(read(Map("since" -> "-500")).count() == 4)
    val sinceT = read(Map("since" -> "200"))
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    val fullFiltered = full
      .filter(get_json_object(col("properties_json"), "$.updated") >= 200)
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(sinceT == Seq("b", "c"))
    assert(sinceT == fullFiltered,
      "cursor read must equal post-hoc updated>=T filter (incl. null-updated rows)")
  }

  test("geojson source reads envelope documents into feature rows") {
    val path = writeFixture()
    val df = spark.read.format("graft.sources.GeoJsonSource").load(path)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    val f1 = rows(0)
    assert(f1.getString(0) == "f1")
    assert(f1.getString(1) == "Feature")
    assert(f1.getString(2).contains("\"title\":\"A\""))
    assert(f1.getString(3) == "Point")
    assert(f1.getString(4) == "[1.5,2.5,3.5,4.5]")
    // geometry-less feature -> null geometry columns (A5's input condition)
    val f2 = rows(1)
    assert(f2.isNullAt(3) && f2.isNullAt(4))
  }

  test("source rows feed the typed decode (A2) downstream") {
    val path = writeFixture()
    val df = spark.read.format("graft.sources.GeoJsonSource").load(path)
    val decoded = df.select(col("id"),
      from_json(col("properties_json"),
        "STRUCT<title: STRING, class: STRING>",
        java.util.Collections.emptyMap[String, String]()).as("p"))
    val classes = decoded.select(col("p.class")).collect().map(_.getString(0))
    assert(classes.toSet == Set("Marker", "Folder", "Shape"))
  }

  test("streaming writeStream delivers micro-batches through the feature sink") {
    val base = scratchDir("graft-stream-sink")
    val out = base.resolve("out")
    graft.streaming.StreamRunner.eventsStream(spark, sfDir)
      .select(to_json(struct(col("event_id"), col("event_type"), col("value")))
        .as("feature"))
      .writeStream.format("graft.sources.FeatureCollectionSink")
      .option("path", out.toString)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val files = out.toFile.listFiles.filter(_.getName.endsWith(".json"))
    assert(files.nonEmpty)
    val total = files.map(f => mapper.readTree(f).path("features").size()).sum
    assert(total == graft.sources.Tables.events(spark, sfDir).count())
  }

  test("feature sink writes one FeatureCollection per partition, all rows present") {
    val out = scratchDir("graft-sink-out").toString
    val flagship = CalTopo.flagship(CalTopoFeatures.build(spark, sfDir))
    val n = flagship.count()
    FeatureCollectionSink.write(flagship.repartition(3), out)
    val files = Paths.get(out).toFile.listFiles.filter(_.getName.endsWith(".json"))
    assert(files.nonEmpty && files.length <= 3)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val total = files.map { f =>
      val root = mapper.readTree(f)
      assert(root.path("type").asText() == "FeatureCollection")
      root.path("features").size()
    }.sum
    assert(total == n)
  }

  test("DSv2 sink round-trips through the DSv2 source under the commit protocol") {
    import spark.implicits._
    val out = scratchDir("graft-dsv2-sink").toString
    val dirFile = Paths.get(out).toFile
    val df = Seq(
      ("a", "Feature", """{"title":"A"}""", "Point", "[1.5,2.5]"),
      ("b", "Feature", """{"title":"B"}""", "Point", "[3.5,4.5]"),
      ("c", "Feature", """{"title":"C"}""", "LineString", "[[0,0],[1,1]]"))
      .toDF("fid", "ftype", "props", "gtype", "gcoords")
      .select(col("fid").as("id"), col("ftype").as("type"),
        from_json(col("props"), lit("title STRING")).as("properties"),
        struct(col("gtype").as("type"),
          from_json(col("gcoords"), lit("ARRAY<STRING>")).as("coordinates"))
          .as("geometry"))
      .repartition(2)
    graft.sources.FeatureCollectionSink.write(df, out)
    val files = dirFile.listFiles()
    // commit renamed every temp: only final .json documents remain
    assert(files.nonEmpty && files.forall(_.getName.endsWith(".json")),
      files.map(_.getName).mkString(","))
    // the emitted FeatureCollections read back through the DSv2 source
    val back = spark.read.format("graft.sources.GeoJsonSource")
      .option("paths",
        files.map(f => "\"" + f.getAbsolutePath + "\"").mkString("[", ",", "]"))
      .load()
    assert(back.count() == 3)
    assert(back.select("id").collect().map(_.getString(0)).sorted
      .sameElements(Array("a", "b", "c")))
  }

  test("failed commit restores previously delivered documents it had replaced") {
    import java.nio.charset.StandardCharsets
    val d = scratchDir("graft-rollback-sink")
    val dir = d.toString
    // an EARLIER delivery already sits at the final name (re-run of a
    // batch job into the same dir / replayed streaming epoch)
    val target = d.resolve("doc-00000.json")
    Files.write(target, "EARLIER DELIVERY".getBytes(StandardCharsets.UTF_8))
    // this job's temp document, about to replace it
    val tmp = d.resolve(".doc-00000-attempt1.tmp")
    Files.write(tmp, "NEW PARTIAL".getBytes(StandardCharsets.UTF_8))
    val bw = new graft.sources.FcBatchWrite(dir, "doc", dir)
    // second message is malformed: commit renames the first document,
    // then throws — the rollback path must run
    val boom = new org.apache.spark.sql.connector.write.WriterCommitMessage {}
    intercept[IllegalStateException] {
      bw.commit(Array(
        graft.sources.FcCommit(tmp.toString, "doc-00000.json"), boom))
    }
    // ADVICE r3: rollback must RESTORE the earlier delivery, not delete
    // the replacement and destroy it
    assert(Files.exists(target), "earlier delivery was destroyed by rollback")
    assert(new String(Files.readAllBytes(target), StandardCharsets.UTF_8)
      == "EARLIER DELIVERY")
    // no set-aside or temp residue
    assert(d.toFile.listFiles().map(_.getName).toSet == Set("doc-00000.json"),
      d.toFile.listFiles().map(_.getName).mkString(","))
  }

  test("fetch retry: transient failures retry with backoff, then succeed") {
    import graft.sources.Fetch
    var calls = 0
    // transient on every attempt but the last one the policy allows
    val got = Fetch.withRetry() {
      calls += 1
      if (calls < Fetch.MaxAttempts) throw new java.io.IOException(s"transient $calls")
      "ok"
    }
    assert(got == "ok" && calls == Fetch.MaxAttempts)
  }

  test("fetch retry: permanent failures abort immediately, exhausted retries abort with last error") {
    import graft.sources.Fetch
    assert(Fetch.MaxAttempts > 1, "a policy of one attempt would not tell abort from retry")
    var calls = 0
    val perm = intercept[IllegalArgumentException] {
      Fetch.withRetry() {
        calls += 1
        throw new IllegalArgumentException("malformed") // not transient
      }
    }
    assert(perm.getMessage == "malformed" && calls == 1)
    // Jackson parse errors extend IOException but mean a malformed
    // document — they must classify as PERMANENT (no pointless re-parse)
    assert(!Fetch.isTransient(
      new com.fasterxml.jackson.core.JsonParseException(null, "bad doc")))
    calls = 0
    val malformed = intercept[com.fasterxml.jackson.core.JsonParseException] {
      Fetch.withRetry() {
        calls += 1
        throw new com.fasterxml.jackson.core.JsonParseException(null, "bad doc")
      }
    }
    assert(malformed.getMessage.contains("bad doc") && calls == 1)
    calls = 0
    val exhausted = intercept[java.io.IOException] {
      Fetch.withRetry() {
        calls += 1
        throw new java.io.IOException(s"still down $calls")
      }
    }
    assert(exhausted.getMessage == s"still down ${Fetch.MaxAttempts}" &&
      calls == Fetch.MaxAttempts)
  }

  test("the DSv2 scan fetches with Fetch's retry policy") {
    val path = writeFixture()
    val n = spark.read.format("graft.sources.GeoJsonSource")
      .option("path", path)
      .load()
      .count()
    assert(n == 3)
    // a permanently-missing fetch unit aborts the read after
    // Fetch.MaxAttempts attempts and their linear backoff — never a
    // silently-empty partition
    val t0 = System.nanoTime()
    intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.sources.GeoJsonSource")
        .option("path", Paths.get(path).resolveSibling("absent.json").toString)
        .load()
        .count()
    }
    val backoffMs = (1 until graft.sources.Fetch.MaxAttempts).map(_ * graft.sources.Fetch.BackoffMs).sum
    assert((System.nanoTime() - t0) / 1000000L >= backoffMs)
  }
}
