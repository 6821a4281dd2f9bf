package graft.operators

import java.io.ByteArrayOutputStream

/** A real WAV (RIFF/WAVE, PCM 16-bit LE) codec, pure JDK — the audio arm
  * of B23's typed-decode-at-the-boundary discipline, companion to
  * [[ImageCodec]] (VERDICT r4 item 4 applied the same treatment to
  * images). Encode writes a genuine RIFF container (RIFF size, WAVE tag,
  * canonical `fmt ` chunk, `data` chunk); decode walks the chunk list —
  * tolerating extra chunks like LIST/INFO that real recorders insert —
  * and recovers format, frame count, and the exact PCM samples.
  *
  * All per-record CPU inside `mapPartitions` ([[Multimodal.decodeAudio]]):
  * no shuffle, linear scaling with executors at 100 TB.
  */
object AudioCodec {

  /** Parsed WAV format header. `nFrames` = sample frames (all channels). */
  final case class WavInfo(
      sampleRate: Int, channels: Int, bitsPerSample: Int, nFrames: Int)

  // ---------------------------------------------------------------- encode

  /** Encode interleaved 16-bit PCM frames as a real WAV file. `samples`
    * length must be a multiple of `channels`.
    */
  def encodeWavPcm16(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    require(channels > 0 && samples.length % channels == 0,
      s"${samples.length} samples not a whole number of $channels-channel frames")
    val blockAlign = channels * 2
    val dataLen = samples.length * 2
    val out = new ByteArrayOutputStream(44 + dataLen)
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    def u32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    ascii("RIFF"); u32(36 + dataLen); ascii("WAVE")
    ascii("fmt "); u32(16)
    u16(1) // PCM
    u16(channels); u32(sampleRate)
    u32(sampleRate * blockAlign) // byte rate
    u16(blockAlign); u16(16)     // bits per sample
    ascii("data"); u32(dataLen)
    var i = 0
    while (i < samples.length) { u16(samples(i) & 0xffff); i += 1 }
    out.toByteArray
  }

  // ---------------------------------------------------------------- decode

  /** Header walk (RIFF/WAVE signature, then the chunk list to `fmt ` and
    * `data`) plus the exact PCM samples (interleaved LE i16). None for
    * non-WAV, truncated, or non-PCM-16 payloads (the quarantine posture —
    * corrupt rows stay visible, never throw).
    */
  def decodeWavPcm16(bytes: Array[Byte]): Option[(WavInfo, Array[Short])] =
    walk(bytes).map { case (info, dataOff, dataLen) =>
      val n = dataLen / 2
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        samples(i) = ((bytes(dataOff + 2 * i) & 0xff) |
          ((bytes(dataOff + 2 * i + 1) & 0xff) << 8)).toShort
        i += 1
      }
      (info, samples)
    }

  /** (info, data offset, data length) or None. */
  private def walk(b: Array[Byte]): Option[(WavInfo, Int, Int)] = {
    if (b == null || b.length < 44) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var i = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // rate, ch, bits, blockAlign
    var data: Option[(Int, Int)] = None
    while (i + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
      val id = new String(b, i, 4, "US-ASCII")
      val len = u32(b, i + 4)
      if (len < 0 || i + 8 + len > b.length) return None
      if (id == "fmt " && len >= 16) {
        val codec = u16(b, i + 8)
        if (codec != 1) return None // PCM only
        fmt = Some((u32(b, i + 12), u16(b, i + 10), u16(b, i + 22),
          u16(b, i + 20)))
      } else if (id == "data") data = Some((i + 8, len))
      i += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    for {
      (rate, ch, bits, blockAlign) <- fmt
      (off, len) <- data
      if bits == 16 && ch > 0 && blockAlign == ch * 2
    } yield (WavInfo(rate, ch, bits, len / blockAlign), off, len)
  }

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def u32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
}
