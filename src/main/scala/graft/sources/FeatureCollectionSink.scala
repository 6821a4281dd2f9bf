package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 write-path sink for FeatureCollection delivery (SURVEY.md §2 A14):
  * the engine's one FeatureCollection sink, for batch writes and streaming
  * micro-batches alike. What the connector protocol adds over a bare
  * foreachPartition delivery is exactly what a production submit needs:
  *
  *  - task attempts write to ATTEMPT-UNIQUE temp names, so speculative /
  *    retried tasks can never interleave partial documents;
  *  - the driver renames temps to final names only in `commit()` after
  *    every task succeeded — a failed job leaves no delivered documents;
  *  - `abort()` removes whatever temps exist.
  *
  * One FeatureCollection document per non-empty partition, named
  * `prefix-%05d.json` by partition id. The delivery step is
  * transport-dispatched on the `path` option's scheme ([[DocTransport]]): a directory path renames temps to
  * final names; an http(s) URL POSTs each document to `$path/$finalName`
  * at commit (the reference's submit, `task.ts:154`), spooling task temps
  * under `spoolDir` (driver-visible; defaults under java.io.tmpdir).
  *
  * Input contract: ONE string column holding each row's Feature JSON —
  * produced by [[FeatureCollectionSink.write]], which wraps the caller's
  * DataFrame with a `to_json(struct(*))` projection. (Serializing arbitrary rows inside the writer would need the
  * private catalyst JacksonGenerator; the projection keeps serialization
  * in codegen'd Catalyst land where it belongs.)
  */
class FeatureCollectionSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FeatureCollectionSink.inputSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("FeatureCollectionSink requires .option(\"path\", dir)"))
    new FcSinkTable(
      path,
      Option(properties.get("prefix")).getOrElse("featurecollection"),
      // HTTP targets spool task temps on a driver-visible filesystem (same
      // shared-fs assumption the file protocol already makes of `dir`).
      // The default spool is scoped PER APPLICATION (ADVICE r4): temp
      // names are unique only within one Spark app (taskId is a per-app
      // counter), so two concurrent apps sharing a fixed spool could
      // deliver or sweep each other's temps — the app id (plus a
      // startTime tiebreak for id reuse across restarts) isolates them.
      Option(properties.get("spoolDir")).getOrElse(
        if (DocTransport.isHttp(path)) {
          val sc = org.apache.spark.sql.SparkSession.active.sparkContext
          sys.props("java.io.tmpdir") +
            s"/graft-fc-spool-${sc.applicationId}-${sc.startTime}"
        } else path),
      // the submit-side `verbose: DEBUG` pass-through (task.ts:158)
      Option(properties.get("verbose")).exists(_.toBoolean))
  }
}

object FeatureCollectionSink {
  val inputSchema: StructType =
    StructType(Seq(StructField("feature", StringType)))

  /** Deliver `df` through the DSv2 sink: serialize each row to Feature
    * JSON and write one FeatureCollection per partition into `outDir`
    * under the connector's commit protocol.
    */
  def write(df: DataFrame, outDir: String): Unit =
    df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("feature"))
      .write.format("graft.sources.FeatureCollectionSink")
      .option("path", outDir)
      .mode("append").save()
}

class FcSinkTable(dir: String, prefix: String, val spool: String,
    verbose: Boolean = false)
    extends Table with SupportsWrite {
  override def name(): String = s"featurecollection-sink($dir)"
  override def schema(): StructType = FeatureCollectionSink.inputSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().length == 1 &&
      info.schema().head.dataType == StringType,
      s"FeatureCollectionSink expects one string column (the feature JSON); " +
        s"got ${info.schema().simpleString} — use FeatureCollectionSink.write")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new FcBatchWrite(dir, prefix, spool, verbose)
        // streaming epochs scope the document names by micro-batch id, so
        // successive epochs never collide and a replayed epoch (failure
        // recovery) overwrites its own documents idempotently
        override def toStreaming: streaming.StreamingWrite =
          new FcStreamingWrite(dir, prefix, spool, verbose)
      }
    }
  }
}

/** Streaming flavor: per-epoch commit with epoch-scoped final names —
  * exactly-once delivery per micro-batch under replay (an epoch that
  * re-runs renames onto the same names).
  */
class FcStreamingWrite(dir: String, prefix: String, spool: String,
    verbose: Boolean = false)
    extends streaming.StreamingWrite {
  private def batch = new FcBatchWrite(dir, prefix, spool, verbose)
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    new FcStreamingWriterFactory(spool, prefix)
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    batch.commit(messages)
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    batch.abort(messages)
}

/** Commit message: (tempPath, finalName) of one task's document. */
case class FcCommit(tempPath: String, finalName: String)
  extends WriterCommitMessage

class FcBatchWrite(dir: String, prefix: String, spool: String,
    verbose: Boolean = false)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FcWriterFactory(spool, prefix)

  // deliver-on-commit: only after EVERY task reported success are the
  // temp documents delivered — renamed to final names (file protocol) or
  // POSTed to `$dir/$finalName` (HTTP protocol, reference task.ts:154).
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (DocTransport.isHttp(dir)) commitHttp(messages)
    else commitFile(messages)

  /** HTTP delivery: one POST per document, transient statuses retried in
    * place ([[Fetch.withRetry]] over [[HttpTransport.deliver]]). POSTs are
    * NOT transactional across documents — a failure midway leaves the
    * already-POSTed documents delivered, and the job-level rerun re-POSTs
    * everything: AT-LEAST-ONCE per document, exactly the reference's
    * Lambda-retry delivery contract (`task.ts:154` POSTs once per run and
    * the scheduler reruns failed invocations). Receivers needing
    * exactly-once should key on the document name (names are stable across
    * reruns; streaming epochs scope them by epoch id). Temps are deleted
    * only after their POST succeeds, so a failed commit leaves the
    * undelivered temps for abort() to sweep.
    */
  private def commitHttp(messages: Array[WriterCommitMessage]): Unit = {
    val base = if (dir.endsWith("/")) dir.dropRight(1) else dir
    messages.foreach {
      case FcCommit(null, _) => () // empty partition: nothing written
      case FcCommit(tmp, fin) =>
        // the GET side's retry policy; `verbose` gates per-delivery
        // logging (the reference's submit `verbose: DEBUG`, task.ts:158)
        Fetch.withRetry(verbose) {
          HttpTransport.deliver(s"$base/$fin", Paths.get(tmp), verbose)
        }
        TransportLog(verbose)(s"delivered $fin")
        Files.deleteIfExists(Paths.get(tmp))
      case other => throw new IllegalStateException(s"unexpected $other")
    }
  }

  // File delivery: renames are atomic per document and reversible, so the
  // protocol is stronger than HTTP's — a rename failure midway
  // un-delivers the documents renamed so far before rethrowing; otherwise
  // a failed job would leave a PARTIAL document set at final names, the
  // exact outcome the protocol exists to prevent (abort() only knows the
  // temp paths).
  // Redelivery safety (ADVICE r3): a final name may already hold a
  // PREVIOUSLY delivered document (batch re-run into the same dir, or a
  // replayed streaming epoch whose earlier partial commit succeeded).
  // Each such original is renamed aside before being replaced, so a
  // failed commit restores it instead of deleting the replacement and
  // destroying the earlier delivery; a successful commit discards the
  // set-aside copies.
  private def commitFile(messages: Array[WriterCommitMessage]): Unit = {
    // (target, set-aside original if one existed)
    val delivered = scala.collection.mutable
      .ArrayBuffer.empty[(java.nio.file.Path, Option[java.nio.file.Path])]
    try {
      messages.foreach {
        case FcCommit(null, _) => () // empty partition: nothing written
        case FcCommit(tmp, fin) =>
          val target = Paths.get(dir, fin)
          val aside =
            if (Files.exists(target)) {
              val a = Paths.get(dir, s".$fin.replaced-${System.nanoTime()}.tmp")
              Files.move(target, a, StandardCopyOption.ATOMIC_MOVE)
              Some(a)
            } else None
          Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
          delivered += ((target, aside))
        case other => throw new IllegalStateException(s"unexpected $other")
      }
    } catch {
      case e: Throwable =>
        delivered.reverse.foreach {
          case (target, Some(orig)) =>
            Files.move(orig, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          case (target, None) => Files.deleteIfExists(target)
        }
        throw e
    }
    // Delivery is COMPLETE once every rename above succeeded — discarding
    // the set-aside copies happens outside the rollback scope and
    // tolerates per-file failure. (Inside the try, a cleanup IOException
    // after full delivery would trigger rollback, un-delivering a
    // committed set — and the rollback itself would then crash on asides
    // already deleted. Worst case now: a stray `.replaced-*.tmp` file.)
    delivered.foreach { case (_, aside) =>
      aside.foreach { a =>
        try Files.deleteIfExists(a)
        catch { case _: java.io.IOException => () }
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case FcCommit(tmp, _) if tmp != null =>
        Files.deleteIfExists(Paths.get(tmp))
      case _ => ()
    }
}

class FcWriterFactory(dir: String, prefix: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FcWriter(dir, prefix, partitionId, taskId)
}

class FcStreamingWriterFactory(dir: String, prefix: String)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new FcWriter(dir, s"$prefix-epoch$epochId", partitionId, taskId)
}

/** STREAMS the partition's features straight into the attempt-unique temp
  * file (a buffered accumulate-then-write holds the whole document — the
  * partition's bytes, times the builder/String/byte[] copies — on heap,
  * an OOM at exactly the partition sizes this sink is for); the
  * attempt-unique temp name makes concurrent speculative attempts
  * harmless, and abort() deletes the partial temp.
  */
class FcWriter(dir: String, prefix: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val tmp =
    Paths.get(dir, f".$prefix-$partitionId%05d-attempt$taskId.tmp")
  private var out: java.io.Writer = _
  private var n = 0L

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      Files.createDirectories(Paths.get(dir))
      out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
      out.write("""{"type":"FeatureCollection","features":[""")
    } else out.write(",")
    out.write(row.getUTF8String(0).toString)
    n += 1
  }

  override def commit(): WriterCommitMessage =
    if (n == 0) FcCommit(null, null)
    else {
      out.write("]}")
      out.close()
      out = null
      FcCommit(tmp.toString, f"$prefix-$partitionId%05d.json")
    }

  override def abort(): Unit = close()
  override def close(): Unit = {
    if (out != null) { out.close(); out = null; Files.deleteIfExists(tmp) }
  }
}
