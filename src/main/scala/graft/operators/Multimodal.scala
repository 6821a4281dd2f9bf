package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (SURVEY.md §2 B23): media travels as an opaque
  * `BINARY` payload column next to a typed metadata struct; decode and
  * frame sampling run as partition-local batch operators
  * (`Dataset.mapPartitions` — the Scala analog of `mapInPandas`: one
  * iterator of rows per partition, vectorizable per batch, no shuffle).
  *
  * The decode steps are real: [[ImageCodec]] is a pure-JDK grayscale-PNG
  * codec (encode + full inflate/un-filter decode) with JPEG/GIF/BMP
  * dimension header parsing, and [[AudioCodec]] a PCM-16 WAV codec — see
  * [[decodeImages]] / [[decodeAudio]], both oracle-checked end to end.
  * Learned-embedding feature extraction and resizing are not modelled: no
  * container ships a model.
  *
  * At 100 TB: payloads stay columnar parquet binary; decode is
  * embarrassingly parallel (no shuffle), so throughput scales linearly with
  * executors; frame explosion multiplies rows BEFORE any wide operation, so
  * repartition-after-explode is the one knob to watch.
  */
object Multimodal {

  /** Release `scratch`'s native codec streams when the partition finishes:
    * on the task-completion listener when a TaskContext exists (the
    * executor path), otherwise — driver-local evaluation, unit tests
    * walking the iterator directly (ADVICE r10) — on iterator exhaustion.
    * Only a partially-consumed off-task iterator still falls back to the
    * GC Cleaner, which is correct (if slow) by zlib's own contract.
    */
  private def closeOnCompletion[T](rows: Iterator[T],
      scratch: AutoCloseable): Iterator[T] =
    Option(org.apache.spark.TaskContext.get()) match {
      case Some(tc) =>
        tc.addTaskCompletionListener[Unit](_ => scratch.close())
        rows
      case None => new Iterator[T] {
        private var closed = false
        override def hasNext: Boolean = {
          val h = rows.hasNext
          if (!h && !closed) { closed = true; scratch.close() }
          h
        }
        override def next(): T = rows.next()
      }
    }

  /** Media table from documents: the text bytes stand in for a blob, with a
    * typed metadata struct alongside — the storage shape for any modality.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
        col("source").as("origin"),
        col("lang").as("tag")).as("metadata"))

  /** A decoded image record: container metadata + pixel digest. `format`
    * is "png"/"jpeg"/"gif"/"bmp" from the header walk, or "unknown" for
    * unrecognized bytes (width/height/n_pixels 0, null digest) — a media
    * sweep keeps corrupt rows visible rather than dropping them.
    */
  final case class DecodedImage(
      media_id: Long, format: String, width: Int, height: Int,
      n_pixels: Int, pixel_md5: String)

  /** Image table from documents: each doc becomes a REAL grayscale PNG
    * ([[ImageCodec.encodePng]] — genuine container, zlib IDAT, per-row
    * rotating scanline filters) whose dimensions derive from `doc_id`
    * (width = 8 + id % 24, height = 8 + id % 16) and whose pixels are the
    * text's bytes repeated to fill width*height (ASCII corpus: byte ==
    * char, so an oracle can reconstruct the exact pixel buffer with
    * repeat+substr). Empty/null text falls back to a single 'A'. Encode is
    * per-row CPU inside mapPartitions — no shuffle.
    */
  def imageTable(docs: DataFrame): Dataset[(Long, Array[Byte])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // one native Deflater + scratch per task, not per row (r9 item 5:
        // per-row codec allocation starves GC at full parallelism);
        // released eagerly at task end / iterator exhaustion
        val scratch = new ImageCodec.Scratch
        closeOnCompletion(rows.map { case (id, text) =>
          val w = (8 + id % 24).toInt
          val h = (8 + id % 16).toInt
          val t = if (text == null || text.isEmpty) "A" else text
          val src = t.getBytes("UTF-8")
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = src(i % src.length); i += 1 }
          (id, ImageCodec.encodePng(w, h, px, scratch))
        }, scratch)
      }
  }

  /** The REAL decode pass (replaces the r4 stub as `q_multimodal_decode`):
    * header walk for format + dimensions, then full PNG pixel decode
    * (inflate + un-filter) with an md5 digest of the recovered pixel
    * buffer. The oracle reconstructs the same digest from the text the
    * pixels were built from, so a hash match proves the whole
    * encode->container->inflate->un-filter path byte-exact — not just the
    * header arithmetic. Partition-local batch shape as everywhere in B23.
    */
  def decodeImages(spark: SparkSession,
      media: Dataset[(Long, Array[Byte])]): Dataset[DecodedImage] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      // one native Inflater + scanline scratch per task (r9 item 5)
      val scratch = new ImageCodec.Scratch
      closeOnCompletion(rows.map { case (id, payload) =>
        ImageCodec.decodeDims(payload) match {
          case Some(info) =>
            val digest = ImageCodec.decodePngGray(payload, scratch).map { case (_, _, px) =>
              md.reset()
              md.digest(px).map("%02x".format(_)).mkString
            }
            DecodedImage(id, info.format, info.width, info.height,
              info.width * info.height, digest.orNull)
          case None => DecodedImage(id, "unknown", 0, 0, 0, null)
        }
      }, scratch)
    }
  }

  /** A decoded audio record: container format fields + exact integer
    * aggregates of the recovered PCM stream. `duration_us` and `sum_amp`
    * use integer arithmetic only, so an oracle reproduces them exactly.
    */
  final case class DecodedAudio(
      media_id: Long, format: String, sample_rate: Int, channels: Int,
      bits: Int, n_frames: Int, duration_us: Long, sum_amp: Long)

  /** Audio table from documents: each doc becomes a REAL WAV file
    * ([[AudioCodec.encodeWavPcm16]]) — sample rate 8/12/16 kHz and 1–2
    * channels derived from `doc_id`, one frame per text character with
    * every channel's sample = `(byte - 64) * 256` (ASCII corpus: the
    * oracle reconstructs the sum of samples from character codes).
    * Empty/null text falls back to "A". Per-row CPU in mapPartitions.
    */
  def audioTable(docs: DataFrame): Dataset[(Long, Array[Byte])] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val rate = 8000 + (id % 3).toInt * 4000
          val ch = 1 + (id % 2).toInt
          val t = if (text == null || text.isEmpty) "A" else text
          val src = t.getBytes("UTF-8")
          val samples = new Array[Short](src.length * ch)
          var i = 0
          while (i < src.length) {
            val v = (((src(i) & 0xff) - 64) * 256).toShort
            var c = 0
            while (c < ch) { samples(i * ch + c) = v; c += 1 }
            i += 1
          }
          (id, AudioCodec.encodeWavPcm16(rate, ch, samples))
        }
      }
  }

  /** The audio decode pass: RIFF chunk walk for format, full PCM recovery
    * for the sample aggregates. `duration_us = n_frames * 1_000_000 /
    * rate` in integer division (exact, oracle-reproducible); `sum_amp` is
    * the i64 sum of every decoded sample, so a single corrupted PCM byte
    * shows up as a hash mismatch. Unrecognized payloads quarantine as
    * "unknown" rows, same posture as [[decodeImages]].
    */
  def decodeAudio(spark: SparkSession,
      media: Dataset[(Long, Array[Byte])]): Dataset[DecodedAudio] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { case (id, payload) =>
        AudioCodec.decodeWavPcm16(payload) match {
          case Some((info, samples)) =>
            var sum = 0L
            var i = 0
            while (i < samples.length) { sum += samples(i); i += 1 }
            DecodedAudio(id, "wav", info.sampleRate, info.channels,
              info.bitsPerSample, info.nFrames,
              info.nFrames.toLong * 1000000L / info.sampleRate, sum)
          case None => DecodedAudio(id, "unknown", 0, 0, 0, 0, 0L, 0L)
        }
      }
    }
  }

  /** Frame sampling: every `stride`-th 256-byte chunk becomes a frame row
    * (id, frame_no, frame_bytes). Row-multiplying, so it runs BEFORE any
    * wide op and the caller controls post-explode partitioning.
    */
  def sampleFrames(media: DataFrame, stride: Int = 2): DataFrame = {
    val nFrames = ceil(octet_length(col("payload")).cast("double") / 256)
      .cast("int")
    media.select(col("media_id"), col("payload"),
        greatest(nFrames, lit(1)).as("n_frames"))
      .withColumn("frame_no",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select(col("media_id"), col("frame_no"),
        col("payload").substr(col("frame_no") * 256 + 1, lit(256))
          .as("frame_bytes"))
  }
}
