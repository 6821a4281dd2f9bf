package graft.sources

/** Fetch-unit retry/abort semantics (SURVEY.md §2 A1): the reference's
  * `fetch().typed()` (`/root/reference/task.ts:70-88`) either yields a
  * validated document or throws, and the Lambda runtime retries the whole
  * scheduled invocation. The Spark analog splits that into two layers:
  *
  *  - TRANSIENT failures (I/O: connection reset, missing-yet file, 5xx in
  *    an HTTP impl) retry HERE, inside the task, with bounded attempts and
  *    linear backoff — cheap, no task re-schedule.
  *  - PERMANENT failures (malformed document, 4xx) abort the task
  *    immediately; Spark's own task-retry / job-abort policy then decides,
  *    which is exactly the scheduled-rerun semantic of the reference.
  *
  * The decode layer stays downstream (FAILFAST `from_json` = abort, in
  * CalTopoFeatures), so retry policy and decode policy compose
  * independently, like `fetch()` vs `.typed()`.
  */
object Fetch {

  /** The retry policy (attempts, first backoff) of the GeoJSON scan's
    * fetch and the FeatureCollection sink's POST, and the deadline of one
    * whole HTTP exchange ([[HttpTransport]]): a timed-out exchange is an
    * I/O failure, so it is retried in place like any other.
    */
  val MaxAttempts = 3
  val BackoffMs = 100L
  val ExchangeTimeoutSec = 60L

  /** True for failure classes worth retrying in place. Jackson's parse
    * errors extend IOException but mean a MALFORMED document — retrying
    * re-parses the same bad bytes, so they are explicitly permanent.
    */
  def isTransient(t: Throwable): Boolean = t match {
    case _: com.fasterxml.jackson.core.JsonProcessingException => false
    case _: java.io.FileNotFoundException => true // not-yet-visible fetch unit
    case _: java.io.IOException           => true
    case _                                => false
  }

  /** Run `open`, retrying transient failures up to [[MaxAttempts]] total
    * attempts with linear backoff ([[BackoffMs]], 2x, 3x, ...). Permanent
    * failures and exhausted retries propagate — aborting the Spark task is
    * the contract, never a silently-empty partition. `verbose` is the
    * reference's `verbose: DEBUG` pass-through (`task.ts:87,158`): each
    * in-place retry is logged through [[TransportLog]] so transport
    * debugging sees the attempts, not just the final outcome.
    */
  def withRetry[A](verbose: Boolean = false)(open: => A): A = {
    var attempt = 1
    while (true) {
      try return open
      catch {
        case t: Throwable if isTransient(t) && attempt < MaxAttempts =>
          TransportLog(verbose)(
            s"transient failure (attempt $attempt/$MaxAttempts), " +
              s"retrying in ${BackoffMs * attempt} ms: $t")
          Thread.sleep(BackoffMs * attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
