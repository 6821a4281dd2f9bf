package graft.layerbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-in for the CalTopo API: serves each map's state document
  * on `GET /map/<map>` and accepts the transformed FeatureCollections on
  * `POST /submit/<map>/<document>`. It binds 127.0.0.1 only.
  *
  * Traffic is counted here, from the engine's side: `bytesIn` is what the
  * engine fetched, `bytesOut` what it posted. A retry is a repeat request
  * for the same document within one tick. POST bodies are stored as
  * received and parsed only by [[postedIds]], after the tick's clock has
  * stopped.
  */
final class Stub(maps: Map[String, Array[Byte]], threads: Int) {
  val gets, posts, bytesIn, bytesOut, fetchRetries, postRetries = new AtomicLong
  private val fetchedThisTick = new ConcurrentHashMap[String, AtomicLong]()
  private val postedThisTick = new ConcurrentHashMap[String, Array[Byte]]()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/map/", ex => handle(ex) {
    val name = ex.getRequestURI.getPath.stripPrefix("/map/")
    Spans("stub.get") {
      maps.get(name) match {
        case Some(body) =>
          gets.incrementAndGet()
          if (fetchedThisTick.computeIfAbsent(name, _ => new AtomicLong)
              .getAndIncrement() > 0) fetchRetries.incrementAndGet()
          bytesIn.addAndGet(body.length)
          ex.sendResponseHeaders(200, body.length)
          ex.getResponseBody.write(body)
        case None => ex.sendResponseHeaders(404, -1)
      }
    }
  })
  server.createContext("/submit/", ex => handle(ex) {
    Spans("stub.post") {
      val body = ex.getRequestBody.readAllBytes()
      posts.incrementAndGet()
      bytesOut.addAndGet(body.length)
      if (postedThisTick.put(ex.getRequestURI.getPath, body) != null)
        postRetries.incrementAndGet()
      ex.sendResponseHeaders(200, -1)
    }
  })
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange)(body: => Unit): Unit =
    try body
    catch { case e: Throwable => ex.sendResponseHeaders(500, -1); throw e }
    finally ex.close()

  /** Forget the previous tick's requests. */
  def beginTick(): Unit = { fetchedThisTick.clear(); postedThisTick.clear() }

  /** Feature ids of every FeatureCollection posted for `map` this tick. */
  def postedIds(map: String): Seq[String] = {
    val mapper = new ObjectMapper()
    postedThisTick.asScala.toSeq
      .filter(_._1.startsWith(s"/submit/$map/")).sortBy(_._1)
      .flatMap { case (_, body) =>
        mapper.readTree(body).path("features").elements().asScala
          .map(_.path("id").asText(null)).toSeq
      }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
