package graft.sources

import java.io.{FileInputStream, IOException, InputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Path
import java.time.Duration

/** Pluggable document transport for the engine's two process boundaries
  * (SURVEY.md §2 A1/A14). The reference's boundaries are live HTTPS calls —
  * a GET of one map's state (`/root/reference/task.ts:70`) and a POST of the
  * transformed FeatureCollection (`task.ts:154`). The engine's fetch goes
  * through one seam, picked by the target's scheme:
  *
  *  - [[FileTransport]] (default): fetch = open a local file — the
  *    sandbox/test protocol, and also the right protocol for staging
  *    through a shared filesystem.
  *  - [[HttpTransport]]: fetch = GET, over `java.net.http` (JDK built-in,
  *    no extra dependency). Selected automatically when the target is an
  *    `http://`/`https://` URL.
  *
  * The submit side is the sink's: [[FcBatchWrite.commit]] picks the
  * protocol by [[DocTransport.isHttp]], renaming with `Files.move` for
  * files and POSTing through [[HttpTransport.deliver]] for URLs.
  *
  * Failure classification is part of the transport contract and feeds
  * [[Fetch.isTransient]] unchanged: transient faults (connect/read errors,
  * HTTP 5xx/408/429) raise [[HttpStatusException.Transient]] — an
  * `IOException`, so `Fetch.withRetry` retries in place; permanent faults
  * (other 4xx) raise [[HttpStatusException.Permanent]] — NOT an
  * `IOException`, so the task aborts immediately and Spark's own retry /
  * job-abort policy takes over, the reference's scheduled-rerun semantic.
  */
trait DocTransport extends Serializable {

  /** Open the document at `target` for reading (the A1 fetch). `verbose`
    * is the reference's `verbose: DEBUG` fetch pass-through
    * (`task.ts:87`): when set, the transport logs each exchange through
    * [[TransportLog]].
    */
  def open(target: String, verbose: Boolean = false): InputStream
}

/** Debug-gated transport logging — the engine's rendering of the
  * reference's `verbose: DEBUG` option on fetch and submit
  * (`/root/reference/task.ts:87,158`: the typed-fetch wrapper and
  * `submit()` both take a `verbose` flag that turns on per-exchange
  * logging). Messages flow through a swappable sink so tests can assert
  * the gating both ways; the default writes to stderr like the
  * reference's `console.log`. The sink var is per-JVM (driver and each
  * executor log locally — in local mode that is one JVM, on a cluster
  * each executor's stderr, the normal Spark logging posture).
  */
object TransportLog {
  @volatile var sink: String => Unit = s => Console.err.println(s)

  def apply(verbose: Boolean)(msg: => String): Unit =
    if (verbose) sink(s"[graft.transport] $msg")
}

object DocTransport {
  def isHttp(target: String): Boolean = {
    val t = target.toLowerCase(java.util.Locale.ROOT)
    t.startsWith("http://") || t.startsWith("https://")
  }

  /** Scheme-based dispatch: URLs ride HTTP, everything else is a file. */
  def forTarget(target: String): DocTransport =
    if (isHttp(target)) HttpTransport else FileTransport
}

object FileTransport extends DocTransport {
  override def open(target: String, verbose: Boolean): InputStream = {
    TransportLog(verbose)(s"open file $target")
    new FileInputStream(target) // FileNotFoundException => transient (Fetch)
  }
}

/** HTTP status mapped onto the retry taxonomy. `Transient` extends
  * IOException on purpose — [[Fetch.isTransient]] already classifies
  * IOException as retry-in-place, so a 503 behaves exactly like a
  * connection reset. `Permanent` (e.g. 404, 401) is a RuntimeException:
  * retrying re-fetches the same rejection, so the task aborts at once.
  */
object HttpStatusException {
  final class Transient(val status: Int, url: String)
    extends IOException(s"HTTP $status from $url (transient)")
  final class Permanent(val status: Int, url: String)
    extends RuntimeException(s"HTTP $status from $url (permanent)")

  def raise(status: Int, url: String): Nothing =
    if (status >= 500 || status == 408 || status == 429)
      throw new Transient(status, url)
    else throw new Permanent(status, url)
}

object HttpTransport extends DocTransport {
  // One client per executor JVM: HttpClient pools connections internally,
  // and building one per task would defeat keep-alive. @transient — the
  // singleton re-creates them lazily after deserialization on executors.
  @transient private lazy val getClient: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()
  // POSTs must NEVER follow redirects: the JDK client re-issues a
  // 301/302/303-redirected POST as a BODYLESS GET and reports the final
  // 2xx — deliver() would "succeed" while the document was never
  // delivered, silently breaking the at-least-once contract. A 3xx on
  // submit is receiver misconfiguration and aborts loudly (Permanent).
  @transient private lazy val postClient: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .followRedirects(HttpClient.Redirect.NEVER)
    .build()

  /** Complete the WHOLE exchange — headers and body — within the
    * deadline. `HttpRequest.timeout` only bounds response-header arrival,
    * so a server stalling mid-body would hang the Spark task forever with
    * no exception for [[Fetch.withRetry]] to classify; the bounded
    * future.get + cancel closes that hole. Timeout => IOException =>
    * transient (retried in place, then the task aborts).
    */
  private def exchange[A](client: HttpClient, req: HttpRequest,
      handler: HttpResponse.BodyHandler[A]): HttpResponse[A] = {
    val fut = client.sendAsync(req, handler)
    try fut.get(Fetch.ExchangeTimeoutSec,
      java.util.concurrent.TimeUnit.SECONDS)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        fut.cancel(true)
        throw new IOException(
          s"HTTP exchange exceeded ${Fetch.ExchangeTimeoutSec}s: ${req.uri()}", e)
      case e: InterruptedException =>
        // Spark task kill / speculation: cancel the in-flight exchange so
        // the client's background threads stop downloading and release
        // the pooled connection, then propagate the interrupt (permanent
        // by Fetch's taxonomy — a killed task must not retry in place)
        fut.cancel(true)
        Thread.currentThread().interrupt()
        throw e
      case e: java.util.concurrent.ExecutionException =>
        e.getCause match {
          case io: IOException => throw io
          case t               => throw new IOException(t)
        }
    }
  }

  override def open(target: String, verbose: Boolean): InputStream = {
    TransportLog(verbose)(s"GET $target")
    val req = HttpRequest.newBuilder(URI.create(target)).GET().build()
    // buffer the document (the reference buffers the whole response too,
    // task.ts:70-88) so the deadline above covers every byte of it
    val resp = exchange(getClient, req, HttpResponse.BodyHandlers.ofByteArray())
    TransportLog(verbose)(
      s"GET $target -> ${resp.statusCode()} (${resp.body().length} bytes)")
    if (resp.statusCode() / 100 == 2)
      new java.io.ByteArrayInputStream(resp.body())
    else HttpStatusException.raise(resp.statusCode(), target)
  }

  /** POSTs the finished document `body` to `target` (the A14 submit) —
    * NOT atomic across documents; see [[FcBatchWrite.commit]] for the
    * at-least-once contract. `verbose` is the submit-side `verbose: DEBUG`
    * (`task.ts:158`).
    */
  def deliver(target: String, body: Path, verbose: Boolean = false): Unit = {
    // Method-preserving redirects (307/308) are followed MANUALLY with the
    // body re-sent — the JDK's Redirect.NORMAL would also "follow"
    // 301/302/303 by re-issuing a bodyless GET (silent delivery loss), so
    // the client follows nothing and this loop implements only the safe
    // class. 301/302/303 on a submit abort loudly (Permanent).
    var url = target
    var hops = 0
    while (true) {
      TransportLog(verbose)(s"POST $url (${java.nio.file.Files.size(body)} bytes)")
      val req = HttpRequest.newBuilder(URI.create(url))
        .header("Content-Type", "application/geo+json")
        .POST(HttpRequest.BodyPublishers.ofFile(body))
        .build()
      val resp = exchange(postClient, req, HttpResponse.BodyHandlers.discarding())
      val code = resp.statusCode()
      TransportLog(verbose)(s"POST $url -> $code")
      if (code / 100 == 2) return
      else if ((code == 307 || code == 308) && hops < 5) {
        val loc = resp.headers().firstValue("Location")
        if (!loc.isPresent) HttpStatusException.raise(code, url)
        url = URI.create(url).resolve(loc.get()).toString
        hops += 1
      } else HttpStatusException.raise(code, url)
    }
  }
}
