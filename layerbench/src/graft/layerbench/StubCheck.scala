package graft.layerbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.sources.HttpTransport

/** Self-test of the loopback stub through the engine's own HTTP transport:
  * a GET returns the served document, a repeat GET in the same tick counts
  * as a fetch retry, and a POSTed FeatureCollection's ids come back from
  * [[Stub.postedIds]]. Prints "stub round trip ok" or exits nonzero.
  */
object StubCheck {
  def main(args: Array[String]): Unit = {
    val doc = """{"result":{"state":{"type":"FeatureCollection","features":[]}}}"""
    val stub = new Stub(Map("m1" -> doc.getBytes(UTF_8)), threads = 2)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String, ok: Boolean): Unit = if (!ok) failures += what
    try {
      stub.beginTick()
      val got = new String(HttpTransport.open(s"${stub.base}/map/m1").readAllBytes(), UTF_8)
      expect("GET returns the served document", got == doc)
      HttpTransport.open(s"${stub.base}/map/m1").close()
      expect("a repeat GET is a fetch retry", stub.fetchRetries.get == 1)
      val body = Files.createTempFile("stubcheck", ".json")
      Files.writeString(body,
        """{"type":"FeatureCollection","features":[{"id":"b"},{"id":"a"}]}""")
      HttpTransport.deliver(s"${stub.base}/submit/m1/doc-0.json", body)
      Files.delete(body)
      expect("posted ids are read back", stub.postedIds("m1").sorted == Seq("a", "b"))
      expect("traffic is counted", stub.gets.get == 2 && stub.posts.get == 1 &&
        stub.bytesIn.get == 2L * doc.length && stub.postRetries.get == 0)
      expect("an unknown map is 404",
        scala.util.Try(HttpTransport.open(s"${stub.base}/map/nope")).isFailure)
    } finally stub.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"stub check failed: $f"))
      sys.exit(1)
    }
    println("stub round trip ok")
  }
}
