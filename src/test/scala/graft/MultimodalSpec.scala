package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.sources.Tables

/** Binary-payload plumbing: media schema, the PNG and WAV codecs, decode
  * quarantine and frame sampling shape.
  */
class MultimodalSpec extends SparkSpec {

  private lazy val media = Multimodal.mediaTable(Tables.documents(spark, sfDir))

  /** `f` applied to a new codec Scratch, closed afterwards. */
  private def fresh[A](f: graft.operators.ImageCodec.Scratch => A): A = {
    val s = new graft.operators.ImageCodec.Scratch
    try f(s) finally s.close()
  }

  test("media table: payload is binary, metadata struct is typed") {
    val schema = media.schema
    assert(schema("payload").dataType.typeName == "binary")
    val meta = schema("metadata").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("mime", "n_bytes", "origin", "tag"))
  }

  test("PNG codec round-trip: all five scanline filters recover exact pixels") {
    import graft.operators.ImageCodec
    // height 7 > 5 rotates through every filter type (None/Sub/Up/Avg/Paeth)
    val (w, h) = (13, 7)
    val px = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val png = fresh(ImageCodec.encodePng(w, h, px, _))
    // container is recognized by the header walk
    assert(ImageCodec.decodeDims(png).contains(ImageCodec.ImageInfo("png", w, h)))
    // and the full decode recovers the exact buffer
    val Some((dw, dh, dpx)) = fresh(ImageCodec.decodePngGray(png, _))
    assert(dw == w && dh == h)
    assert(dpx.sameElements(px), "un-filter must recover every pixel byte")
  }

  test("PNG scratch arm: byte-identical across reuse, multi-IDAT, corrupt streams") {
    import graft.operators.ImageCodec
    val s = new ImageCodec.Scratch
    // one Scratch across many sizes: growth + stale-content reuse must
    // never leak into the output (the per-partition hot-path contract),
    // so the reused Scratch gives the same bytes as a fresh one
    val sizes = Seq((8, 8), (31, 23), (9, 21), (31, 23), (8, 8))
    sizes.zipWithIndex.foreach { case ((w, h), k) =>
      val px = Array.tabulate(w * h)(i => ((i * 53 + k * 17) % 256).toByte)
      val viaScratch = ImageCodec.encodePng(w, h, px, s)
      assert(viaScratch.sameElements(fresh(ImageCodec.encodePng(w, h, px, _))),
        s"reused-scratch encode must be byte-identical to a fresh one (cell $k)")
      val Some((_, _, back)) = ImageCodec.decodePngGray(viaScratch, s)
      assert(back.sameElements(px), s"scratch decode round-trip (cell $k)")
    }
    // multi-IDAT: split our single IDAT into two chunks — the concat path
    val (w, h) = (13, 7)
    val px = Array.tabulate(w * h)(i => ((i * 37 + 11) % 256).toByte)
    val png = ImageCodec.encodePng(w, h, px, s)
    val idatLen = java.nio.ByteBuffer.wrap(png, 33, 4).getInt
    val data = png.slice(41, 41 + idatLen)
    def chunk(typ: String, d: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + d.length)
      out.putInt(d.length).put(typ.getBytes("US-ASCII")).put(d)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(d)
      out.putInt(crc.getValue.toInt).array()
    }
    val cut = idatLen / 2
    val multi = png.take(33) ++ chunk("IDAT", data.take(cut)) ++
      chunk("IDAT", data.drop(cut)) ++ chunk("IEND", Array.emptyByteArray)
    val Some((_, _, viaMulti)) = ImageCodec.decodePngGray(multi, s)
    assert(viaMulti.sameElements(px), "two-IDAT container must decode identically")
    // truncated IDAT (half the deflate stream lost — dropping just the
    // 4-byte Adler trailer is NOT corruption either arm detects, since
    // the full pixel payload still inflates): None, not garbage
    val trunc = png.take(33) ++ chunk("IDAT", data.take(idatLen / 2)) ++
      chunk("IEND", Array.emptyByteArray)
    assert(ImageCodec.decodePngGray(trunc, s).isEmpty)
    // surplus pixels (header claims fewer rows than the stream holds): None
    val lied = png.clone()
    java.nio.ByteBuffer.wrap(lied, 20, 4).putInt(h - 1)
    assert(ImageCodec.decodePngGray(lied, s).isEmpty)
    // and the scratch survives corrupt inputs: a clean decode still works
    val Some((_, _, again)) = ImageCodec.decodePngGray(png, s)
    assert(again.sameElements(px))
    s.close()
  }

  test("PNG decode agrees with an INDEPENDENT encoder (javax.imageio)") {
    // ImageIO (JDK) writes its own grayscale PNGs — filters, zlib strategy,
    // chunk layout all chosen independently of our encoder. Decoding them
    // correctly shows the codec implements the spec, not just its own dialect.
    import graft.operators.ImageCodec
    import java.awt.image.BufferedImage
    val (w, h) = (31, 17)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val px = Array.tabulate(w * h)(i => ((i * 89 + 3) % 256).toByte)
    img.getRaster.setDataElements(0, 0, w, h, px)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val theirPng = bos.toByteArray
    assert(ImageCodec.decodeDims(theirPng)
      .contains(ImageCodec.ImageInfo("png", w, h)))
    val Some((_, _, got)) = fresh(ImageCodec.decodePngGray(theirPng, _))
    assert(got.sameElements(px), "must decode an ImageIO-written PNG exactly")
    // and the reverse: ImageIO reads OUR container
    val ours = fresh(ImageCodec.encodePng(w, h, px, _))
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
    assert(back != null && back.getWidth == w && back.getHeight == h)
    val theirs = new Array[Byte](w * h)
    back.getRaster.getDataElements(0, 0, w, h, theirs)
    assert(theirs.sameElements(px), "ImageIO must read our PNG exactly")
  }

  test("header parse: JPEG/BMP dims via ImageIO ground truth, GIF and junk by hand") {
    import graft.operators.ImageCodec
    import java.awt.image.BufferedImage
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    // JPEG: dims live in a SOF segment past JFIF/quant/huffman tables —
    // the marker walk has to skip them all
    assert(ImageCodec.decodeDims(encode("jpg", 129, 67))
      .contains(ImageCodec.ImageInfo("jpeg", 129, 67)))
    // BMP: little-endian BITMAPINFOHEADER
    assert(ImageCodec.decodeDims(encode("bmp", 40, 25))
      .contains(ImageCodec.ImageInfo("bmp", 40, 25)))
    // GIF: logical screen descriptor, LE u16 (ImageIO has no GIF single-
    // frame writer guarantee -> hand-built header, the documented layout)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x2c, 0x01, 0x0f, 0x00, 0, 0, 0, 0) // 300 x 15 + padding
    assert(ImageCodec.decodeDims(gif)
      .contains(ImageCodec.ImageInfo("gif", 300, 15)))
    // junk and truncation quarantine as None, never throw
    assert(ImageCodec.decodeDims("not an image at all".getBytes).isEmpty)
    assert(ImageCodec.decodeDims(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
    assert(ImageCodec.decodeDims(null).isEmpty)
    assert(ImageCodec.decodeDims(Array.emptyByteArray).isEmpty)
  }

  test("decodeImages quarantines unrecognized payloads instead of dropping them") {
    import graft.operators.Multimodal
    import spark.implicits._
    val rows = Seq(
      (1L, fresh(graft.operators.ImageCodec.encodePng(9, 9, Array.fill(81)(7.toByte), _))),
      (2L, "definitely not an image".getBytes)).toDS()
    val out = Multimodal.decodeImages(spark, rows).collect()
      .map(r => r.media_id -> r).toMap
    assert(out(1L).format == "png" && out(1L).n_pixels == 81 &&
      out(1L).pixel_md5 != null)
    assert(out(2L).format == "unknown" && out(2L).n_pixels == 0 &&
      out(2L).pixel_md5 == null)
  }

  test("WAV codec round-trip: exact samples, and javax.sound agrees both ways") {
    import graft.operators.AudioCodec
    val samples = Array.tabulate(501 * 2)(i => ((i * 131 - 7000) % 32768).toShort)
    val wav = AudioCodec.encodeWavPcm16(16000, 2, samples)
    // our decode recovers the header and every sample bit-exact
    val Some((info, got)) = AudioCodec.decodeWavPcm16(wav)
    assert(info == AudioCodec.WavInfo(16000, 2, 16, 501))
    assert(got.sameElements(samples))
    // javax.sound (JDK, independent RIFF implementation) parses OUR file
    val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(wav))
    val f = aff.getFormat
    assert(f.getSampleRate == 16000f && f.getChannels == 2 &&
      f.getSampleSizeInBits == 16)
    assert(aff.getFrameLength == 501)
    // and we parse THEIRS: write via AudioSystem, decode with our walk
    val theirFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](64 * 2)
    (0 until 64).foreach { i =>
      pcm(2 * i) = (i * 3).toByte; pcm(2 * i + 1) = (i % 5).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), theirFmt, 64)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val Some((theirInfo, theirSamples)) = AudioCodec.decodeWavPcm16(bos.toByteArray)
    assert(theirInfo == AudioCodec.WavInfo(8000, 1, 16, 64))
    assert(theirSamples.length == 64 &&
      theirSamples(1) == (((1 % 5) << 8) | 3).toShort)
  }

  test("WAV header walk: extra chunks tolerated, junk/non-PCM quarantined") {
    import graft.operators.AudioCodec
    val base = AudioCodec.encodeWavPcm16(8000, 1, Array[Short](1, 2, 3))
    // splice a LIST chunk (odd length -> word-aligned pad) between fmt and data
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ "INFOx".getBytes("US-ASCII") ++ Array[Byte](0)
    val spliced = base.take(36) ++ listChunk ++ base.drop(36)
    // fix the RIFF size field (LE u32 at offset 4)
    val total = spliced.length - 8
    spliced(4) = (total & 0xff).toByte; spliced(5) = ((total >> 8) & 0xff).toByte
    spliced(6) = ((total >> 16) & 0xff).toByte; spliced(7) = ((total >> 24) & 0xff).toByte
    val Some((info, s)) = AudioCodec.decodeWavPcm16(spliced)
    assert(info.nFrames == 3 && s.sameElements(Array[Short](1, 2, 3)))
    // quarantine: junk, truncation, non-PCM codec byte
    assert(AudioCodec.decodeWavPcm16("RIFFnope".getBytes).isEmpty)
    assert(AudioCodec.decodeWavPcm16(base.take(30)).isEmpty)
    val mulaw = base.clone(); mulaw(20) = 7 // format tag != 1 (PCM)
    assert(AudioCodec.decodeWavPcm16(mulaw).isEmpty)
    assert(AudioCodec.decodeWavPcm16(null).isEmpty)
  }

  test("decodeAudio: oracle-exact integer fields and unknown-payload quarantine") {
    import graft.operators.{AudioCodec, Multimodal}
    import spark.implicits._
    val rows = Seq(
      (5L, AudioCodec.encodeWavPcm16(12000, 2,
        Array[Short](256, 256, -512, -512))),
      (6L, "not audio".getBytes)).toDS()
    val out = Multimodal.decodeAudio(spark, rows).collect()
      .map(r => r.media_id -> r).toMap
    assert(out(5L).format == "wav" && out(5L).n_frames == 2 &&
      out(5L).duration_us == 2L * 1000000L / 12000L &&
      out(5L).sum_amp == (256 + 256 - 512 - 512))
    assert(out(6L).format == "unknown" && out(6L).sum_amp == 0L)
  }

  test("frame sampling: stride-2 chunk rows with correct sizes") {
    val frames = Multimodal.sampleFrames(media, stride = 2)
    val one = frames.filter(col("media_id") === 1)
      .orderBy("frame_no").collect()
    val nBytes = media.filter(col("media_id") === 1)
      .select(octet_length(col("payload"))).first().getInt(0)
    val expectFrames = (0 until math.max((nBytes + 255) / 256, 1) by 2).toSeq
    assert(one.map(_.getInt(1)).toSeq == expectFrames)
    one.foreach { r =>
      val fb = r.getAs[Array[Byte]](2)
      assert(fb.length <= 256 && fb.nonEmpty)
    }
  }
}
