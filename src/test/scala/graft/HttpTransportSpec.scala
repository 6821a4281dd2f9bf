package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._

import graft.sources.{DocTransport, Fetch, HttpStatusException, HttpTransport}

/** The HTTP arm of A1/A14 (VERDICT r3 §next.3) over a real local socket:
  * the reference's process boundaries are live HTTPS calls — a GET of map
  * state (`/root/reference/task.ts:70`) and a POST of the transformed
  * FeatureCollection (`task.ts:154`). These tests run both through
  * `com.sun.net.httpserver` so retry/abort classification and
  * deliver-on-commit are proven against an actual HTTP exchange, not the
  * file stand-in.
  */
class HttpTransportSpec extends SparkSpec {

  private val doc =
    """{"result":{"state":{"type":"FeatureCollection","features":[
      |{"id":"f1","type":"Feature","properties":{"title":"A","class":"Marker"},
      | "geometry":{"type":"Point","coordinates":[1.5,2.5]}},
      |{"id":"f2","type":"Feature","properties":{"title":"B","class":"Folder"}}
      |]}}}""".stripMargin.replace("\n", "")

  /** Serve `handler` on an ephemeral port for the duration of `body`. */
  private def withServer[A](routes: (String, HttpExchange => Unit)*)(body: String => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, h) =>
      server.createContext(path, (ex: HttpExchange) => {
        try h(ex) finally ex.close()
      })
    }
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, status: Int, bytes: Array[Byte]): Unit = {
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }

  test("status classification: 5xx/408/429 transient, other 4xx permanent") {
    intercept[HttpStatusException.Transient] {
      HttpStatusException.raise(503, "u")
    }
    intercept[HttpStatusException.Transient] {
      HttpStatusException.raise(429, "u")
    }
    val p = intercept[HttpStatusException.Permanent] {
      HttpStatusException.raise(404, "u")
    }
    assert(p.status == 404)
    // the transient form IS an IOException, so Fetch's taxonomy needs no
    // HTTP-specific case; the permanent form is not
    assert(Fetch.isTransient(new HttpStatusException.Transient(503, "u")))
    assert(!Fetch.isTransient(new HttpStatusException.Permanent(404, "u")))
  }

  test("scheme dispatch picks the HTTP transport only for http(s) targets") {
    assert(DocTransport.forTarget("http://x/a") eq HttpTransport)
    assert(DocTransport.forTarget("HTTPS://x/a") eq HttpTransport)
    assert(DocTransport.forTarget("/tmp/x.json") ne HttpTransport)
  }

  test("GeoJson scan over HTTP: one 503 then 200 — retried in place, rows read") {
    val hits = new AtomicInteger(0)
    withServer("/map" -> { ex =>
      if (hits.incrementAndGet() == 1) respond(ex, 503, Array.emptyByteArray)
      else respond(ex, 200, doc.getBytes(StandardCharsets.UTF_8))
    }) { base =>
      val rows = spark.read.format("graft.sources.GeoJsonSource")
        .option("path", s"$base/map")
        .load()
        .select(col("id")).collect().map(_.getString(0)).sorted
      assert(rows.sameElements(Array("f1", "f2")))
      // the retry happened inside the task — no Spark task re-schedule
      assert(hits.get() == 2)
    }
  }

  test("GeoJson scan fans out over multiple HTTP endpoints, one fetch unit per partition") {
    val doc2 = doc.replace("f1", "g1").replace("f2", "g2")
    withServer(
      "/map1" -> { ex => respond(ex, 200, doc.getBytes(StandardCharsets.UTF_8)) },
      "/map2" -> { ex => respond(ex, 200, doc2.getBytes(StandardCharsets.UTF_8)) }
    ) { base =>
      val df = spark.read.format("graft.sources.GeoJsonSource")
        .option("paths", s"""["$base/map1","$base/map2"]""")
        .load()
      // two live endpoints = two InputPartitions = two tasks
      assert(df.rdd.getNumPartitions == 2)
      val ids = df.select(col("id")).collect().map(_.getString(0)).sorted
      assert(ids.sameElements(Array("f1", "f2", "g1", "g2")))
    }
  }

  test("GeoJson scan over HTTP: 404 aborts the task without retrying") {
    val hits = new AtomicInteger(0)
    withServer("/gone" -> { ex =>
      hits.incrementAndGet()
      respond(ex, 404, Array.emptyByteArray)
    }) { base =>
      intercept[org.apache.spark.SparkException] {
        spark.read.format("graft.sources.GeoJsonSource")
          .option("path", s"$base/gone")
          .load().count()
      }
      // permanent: an in-place retry would re-fetch the same rejection
      // Fetch.MaxAttempts times. local[n] gives the one task one attempt,
      // so a 404 that is not retried is exactly one request.
      assert(graft.sources.Fetch.MaxAttempts > 1)
      assert(hits.get() == 1)
    }
  }

  test("DSv2 sink over HTTP: documents POST to $dir/$name at commit, temps swept") {
    import spark.implicits._
    val posted = scala.collection.concurrent.TrieMap.empty[String, String]
    withServer("/submit" -> { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      assert(ex.getRequestMethod == "POST")
      posted.put(ex.getRequestURI.getPath, body)
      respond(ex, 200, Array.emptyByteArray)
    }) { base =>
      val spool = scratchDir("graft-http-spool")
      val df = Seq(("a", "A"), ("b", "B"), ("c", "C"))
        .toDF("id", "title").repartition(2)
      df.select(to_json(struct(col("id"), col("title"))).as("feature"))
        .write.format("graft.sources.FeatureCollectionSink")
        .option("path", s"$base/submit")
        .option("prefix", "doc")
        .option("spoolDir", spool.toString)
        .mode("append").save()
      // each non-empty partition delivered one named FeatureCollection
      assert(posted.nonEmpty && posted.size <= 2, posted.keys.mkString(","))
      assert(posted.keys.forall(_.matches("/submit/doc-\\d{5}\\.json")))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val ids = posted.values.flatMap { body =>
        val root = mapper.readTree(body)
        assert(root.path("type").asText() == "FeatureCollection")
        import scala.jdk.CollectionConverters._
        root.path("features").elements().asScala.map(_.path("id").asText())
      }.toSeq.sorted
      assert(ids == Seq("a", "b", "c"))
      // delivered temps were deleted from the spool after their POST
      assert(spool.toFile.listFiles().isEmpty,
        spool.toFile.listFiles().map(_.getName).mkString(","))
    }
  }

  test("streaming DSv2 sink over HTTP: epoch-scoped documents POST at micro-batch commit") {
    import org.apache.spark.sql.streaming.Trigger
    val posted = scala.collection.concurrent.TrieMap.empty[String, String]
    withServer("/stream" -> { ex =>
      posted.put(ex.getRequestURI.getPath,
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      respond(ex, 200, Array.emptyByteArray)
    }) { base =>
      val spool = scratchDir("graft-http-stream-spool")
      val ckpt = scratchDir("graft-http-stream-ckpt")
      val q = graft.streaming.StreamRunner.eventsStream(spark, sfDir)
        .select(to_json(struct(col("event_id"), col("user_id"))).as("feature"))
        .writeStream
        .format("graft.sources.FeatureCollectionSink")
        .option("path", s"$base/stream").option("prefix", "ev")
        .option("spoolDir", spool.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // names are epoch-scoped, so a replayed epoch re-POSTs its own
      // names — the receiver's key for exactly-once
      assert(posted.nonEmpty &&
        posted.keys.forall(_.matches("/stream/ev-epoch\\d+-\\d{5}\\.json")),
        posted.keys.mkString(","))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val total = posted.values
        .map(b => mapper.readTree(b).path("features").size()).sum
      assert(total == graft.sources.Tables.events(spark, sfDir).count())
      // every delivered temp was swept from the spool
      assert(spool.toFile.listFiles().isEmpty)
    }
  }

  test("two concurrent apps sharing an HTTP target deliver independently via per-app spools") {
    import graft.sources.{FcBatchWrite, FcCommit, FcWriter, FeatureCollectionSink, FcSinkTable}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    // the r4 ADVICE fix scoped the DEFAULT spool per application. Pin both
    // halves of the property:
    // 1. derivation — an HTTP-target table without an explicit spoolDir
    //    lands on a spool embedding applicationId + startTime;
    val props = new java.util.HashMap[String, String]()
    props.put("path", "http://example.invalid/submit")
    val table = new FeatureCollectionSink()
      .getTable(FeatureCollectionSink.inputSchema, Array.empty, props)
      .asInstanceOf[FcSinkTable]
    val sc = spark.sparkContext
    assert(table.spool.contains(sc.applicationId) &&
      table.spool.contains(sc.startTime.toString),
      s"default HTTP spool is not app-scoped: ${table.spool}")
    // 2. isolation — task ids are per-app counters, so two apps WILL
    //    produce identical (partitionId, taskId) pairs. In one shared
    //    spool those writers collide on the same temp path (the pre-fix
    //    cross-delivery hazard); in per-app spools they cannot, and both
    //    apps' documents arrive intact at the shared target.
    def row(s: String) = new GenericInternalRow(Array[Any](UTF8String.fromString(s)))
    val shared = scratchDir("graft-shared-spool").toString
    val sharedA = new FcWriter(shared, "doc", 0, 7L)
    val sharedB = new FcWriter(shared, "doc", 0, 7L)
    sharedA.write(row("""{"id":"a"}"""))
    sharedB.write(row("""{"id":"b"}"""))
    val ctA = sharedA.commit().asInstanceOf[FcCommit]
    val ctB = sharedB.commit().asInstanceOf[FcCommit]
    assert(ctA.tempPath == ctB.tempPath,
      "same (partition, task) ids in one spool MUST collide — the hazard the fix removes")
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    withServer("/submit" -> { ex =>
      received.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      respond(ex, 200, Array.emptyByteArray)
    }) { base =>
      val spoolA = scratchDir("graft-app-a").toString
      val spoolB = scratchDir("graft-app-b").toString
      val appA = new FcWriter(spoolA, "doc", 0, 7L)
      val appB = new FcWriter(spoolB, "doc", 0, 7L)
      appA.write(row("""{"id":"a"}"""))
      appB.write(row("""{"id":"b"}"""))
      val cA = appA.commit().asInstanceOf[FcCommit]
      val cB = appB.commit().asInstanceOf[FcCommit]
      assert(cA.tempPath != cB.tempPath)
      // interleaved commits, as two concurrent apps would produce
      new FcBatchWrite(s"$base/submit", "doc", spoolA).commit(Array(cA))
      new FcBatchWrite(s"$base/submit", "doc", spoolB).commit(Array(cB))
      val bodies = received.toArray(Array.empty[String]).sorted.toSeq
      assert(bodies == Seq(
        """{"type":"FeatureCollection","features":[{"id":"a"}]}""",
        """{"type":"FeatureCollection","features":[{"id":"b"}]}"""),
        s"cross-delivery or corruption: $bodies")
      // each app swept exactly its own temps
      assert(new java.io.File(spoolA).listFiles().isEmpty)
      assert(new java.io.File(spoolB).listFiles().isEmpty)
    }
  }

  test("deliver follows method-preserving 307/308 with the body; 301/302/303 abort loudly") {
    val finalBody = new java.util.concurrent.atomic.AtomicReference[String]("")
    withServer(
      "/moved308" -> { ex =>
        ex.getResponseHeaders.add("Location", "/final")
        respond(ex, 308, Array.emptyByteArray)
      },
      "/moved301" -> { ex =>
        ex.getResponseHeaders.add("Location", "/final")
        respond(ex, 301, Array.emptyByteArray)
      },
      "/final" -> { ex =>
        assert(ex.getRequestMethod == "POST")
        finalBody.set(new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8))
        respond(ex, 200, Array.emptyByteArray)
      }) { base =>
      val doc = scratchDir("graft-redirect").resolve("doc.json")
      java.nio.file.Files.writeString(doc, """{"type":"FeatureCollection"}""")
      // 308: POST re-issued WITH body at the redirect target
      HttpTransport.deliver(s"$base/moved308", doc)
      assert(finalBody.get() == """{"type":"FeatureCollection"}""")
      // 301: the JDK would re-issue a bodyless GET — must abort instead
      val e = intercept[HttpStatusException.Permanent] {
        HttpTransport.deliver(s"$base/moved301", doc)
      }
      assert(e.status == 301)
    }
  }

  test("DSv2 sink over HTTP: a rejecting receiver fails the job, nothing half-delivered silently") {
    import spark.implicits._
    val posts = new AtomicInteger(0)
    withServer("/reject" -> { ex =>
      posts.incrementAndGet()
      respond(ex, 400, Array.emptyByteArray) // permanent rejection
    }) { base =>
      val spool = scratchDir("graft-http-spool-rej")
      val e = intercept[Exception] {
        Seq(("a", "A")).toDF("id", "title")
          .select(to_json(struct(col("id"), col("title"))).as("feature"))
          .write.format("graft.sources.FeatureCollectionSink")
          .option("path", s"$base/reject")
          .option("spoolDir", spool.toString)
          .mode("append").save()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(_.isInstanceOf[HttpStatusException.Permanent]),
        s"expected a permanent HTTP failure in ${chain(e).map(_.getClass.getName)}")
      // permanent: no in-place redelivery attempts
      assert(posts.get() == 1)
    }
  }

  test("DEBUG verbose pass-through gates transport logging both ways (task.ts:87,158)") {
    import graft.sources.TransportLog
    import spark.implicits._
    // the reference hands `env.DEBUG` to fetch and submit as `verbose`
    // (task.ts:87,158); here it is the DSv2 read/write `verbose` option,
    // and the transports log each exchange through TransportLog only when
    // it is set
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val old = TransportLog.sink
    TransportLog.sink = s => lines.add(s)
    try {
      withServer(
        "/map" -> { ex => respond(ex, 200, doc.getBytes(StandardCharsets.UTF_8)) },
        "/submit" -> { ex =>
          ex.getRequestBody.readAllBytes()
          respond(ex, 200, Array.emptyByteArray)
        }
      ) { base =>
        def fetchWith(debug: Boolean): Unit =
          spark.read.format("graft.sources.GeoJsonSource")
            .option("verbose", debug.toString)
            .option("path", s"$base/map").load().count()
        def submitWith(debug: Boolean): Unit = {
          val spool = scratchDir("graft-dbg-spool")
          Seq(("a", "A")).toDF("id", "title")
            .select(to_json(struct(col("id"), col("title"))).as("feature"))
            .write.format("graft.sources.FeatureCollectionSink")
            .option("path", s"$base/submit")
            .option("verbose", debug.toString)
            .option("spoolDir", spool.toString)
            .mode("append").save()
        }
        // DEBUG off (the reference default, task.ts:15): fully silent
        fetchWith(false); submitWith(false)
        assert(lines.isEmpty,
          s"transport logged without DEBUG: ${lines}")
        // DEBUG on: both exchanges and the delivery confirmation logged
        fetchWith(true); submitWith(true)
        import scala.jdk.CollectionConverters._
        val got = lines.asScala.toList
        assert(got.exists(l => l.contains("GET") && l.contains("/map")), got)
        assert(got.exists(l => l.contains("POST") && l.contains("/submit")), got)
        assert(got.exists(_.contains("delivered")), got)
      }
    } finally TransportLog.sink = old
  }
}
