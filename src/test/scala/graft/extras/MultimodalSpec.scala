package graft.extras

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark

class MultimodalSpec extends AnyFunSuite with LocalSpark {

  test("ImageHeaderDecoder parses real PNG/JPEG/GIF headers, rejects garbage") {
    val dec = new Multimodal.ImageHeaderDecoder
    val png = dec.decode(Multimodal.ImageBytes.png(640, 480))
    assert(png == Multimodal.MediaMeta(24, "png", 640, 480, ok = true))
    val jpg = dec.decode(Multimodal.ImageBytes.jpeg(1920, 1080))
    assert(jpg == Multimodal.MediaMeta(19, "jpg", 1920, 1080, ok = true))
    val gif = dec.decode(Multimodal.ImageBytes.gif(320, 200))
    assert(gif == Multimodal.MediaMeta(13, "gif", 320, 200, ok = true))
    // dimensions above 255 exercise both bytes of each u16 field
    assert(dec.decode(Multimodal.ImageBytes.jpeg(258, 515)).width == 258)
    assert(dec.decode(Multimodal.ImageBytes.jpeg(258, 515)).height == 515)
    // malformed inputs: truncated, wrong chunk, plain garbage, null
    assert(!dec.decode(Multimodal.ImageBytes.png(1, 1).take(12)).ok)
    assert(!dec.decode("not an image at all".getBytes).ok)
    assert(!dec.decode(Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x00)).ok)
    assert(!dec.decode(null).ok)
    assert(!dec.decode(Array.emptyByteArray).ok)
  }

  test("decodeMeta: partition-batched REAL header decode with typed schema") {
    import spark.implicits._
    val df = Seq(
      (1L, Multimodal.ImageBytes.png(100, 50)),
      (2L, Multimodal.ImageBytes.jpeg(64, 32)),
      (3L, null.asInstanceOf[Array[Byte]]),
      (4L, "garbage-bytes".getBytes))
      .toDF("media_id", "blob").repartition(2)
    val out = Multimodal.decodeMeta(df, "blob", "media_id")
      .orderBy("media_id").collect()
    assert(out.map(_.getString(2)).toSeq == Seq("png", "jpg", "unknown", "unknown"))
    assert(out.map(_.getBoolean(5)).toSeq == Seq(true, true, false, false))
    assert(out(0).getInt(3) == 100 && out(0).getInt(4) == 50)
    assert(out(1).getInt(3) == 64 && out(1).getInt(4) == 32)
  }

  test("ImageIO pixel decoder: lossless PNG round-trip is bit-exact") {
    val dec = new Multimodal.ImageIoPixelDecoder
    val bmpDec = new Multimodal.BmpPixelDecoder
    // same pattern, two independent real codecs: the PNG round-trip
    // must land on the BMP decoder's stats exactly (modulo byteLen,
    // which is encoder-dependent for PNG)
    for (id <- Seq(0L, 7L, 123L)) {
      val png = dec.decode(Multimodal.ImageBytes.pngFull(6, 5, id))
      val gif = dec.decode(Multimodal.ImageBytes.gifFull(6, 5, id))
      val bmp = bmpDec.decode(Multimodal.ImageBytes.bmp(6, 5, id))
      assert(png.ok && gif.ok && bmp.ok)
      assert(png.copy(byteLen = 0) == bmp.copy(byteLen = 0),
        s"PNG and BMP pixel stats diverged for id=$id")
      assert(gif.copy(byteLen = 0) == bmp.copy(byteLen = 0),
        s"GIF (exact-palette, lossless) diverged from BMP for id=$id")
    }
  }

  test("ImageIO pixel decoder: JPEG decodes with exact dims; garbage rejected") {
    val dec = new Multimodal.ImageIoPixelDecoder
    // a real JPEG via the JDK encoder: lossy pixels, exact dimensions
    val img = new java.awt.image.BufferedImage(
      40, 30, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jm = dec.decode(bos.toByteArray)
    assert(jm.ok && jm.width == 40 && jm.height == 30)
    assert(!dec.decode(null).ok)
    assert(!dec.decode("not an image at all".getBytes).ok)
    assert(!dec.decode(Multimodal.ImageBytes.png(4, 4)).ok,
      "a header-only truncated PNG must be rejected by the full decoder")
  }

  test("MjpegFrameDecoder: real JPEG frames from an MJPEG AVI; DIB " +
    "decoders and MJPEG decoder reject each other's codec") {
    val bytes = Multimodal.VideoBytes2.aviMjpeg(24, 16, 5, 7L)
    val r = new Multimodal.MjpegFrameDecoder(2).decode(bytes)
    assert(r.ok && r.width == 24 && r.height == 16 && r.nFrames == 5)
    assert(r.frames.map(_.frameIdx) == Seq(0, 2, 4))
    assert(r.frames.forall(f => f.frameW == 24 && f.frameH == 16),
      "per-frame dims come from the decoded JPEG itself")
    // solid tone 40+40*((7+f)%5) -> bucket 1+((7+f)%5): 3, 5, 2
    assert(r.frames.map(_.lumaBucket) == Seq(3, 5, 2),
      s"lossy-robust luma buckets: ${r.frames.map(_.lumaBucket)}")
    // codec cross-rejection: no decoder silently misreads the other's
    // payload bytes
    assert(!new Multimodal.MjpegFrameDecoder(1)
      .decode(Multimodal.VideoBytes2.aviDib(7, 3, 3, 11L)).ok)
    assert(!new Multimodal.AviFrameDecoder(1).decode(bytes).ok)
    assert(!new Multimodal.AviDHashDecoder(1).decode(bytes).ok)
    assert(!new Multimodal.MjpegFrameDecoder(1).decode(null).ok)
    assert(!new Multimodal.MjpegFrameDecoder(1)
      .decode("garbage".getBytes).ok)
    // a valid MJPEG container whose chunk bytes are NOT decodable
    // JPEG must fail soft, not throw
    val torn = bytes.clone()
    // find the first 00dc chunk and corrupt its JPEG SOI marker
    val idx = bytes.indices.find(i => i + 4 <= bytes.length &&
      bytes(i) == '0' && bytes(i + 1) == '0' &&
      bytes(i + 2) == 'd' && bytes(i + 3) == 'c').get
    torn(idx + 8) = 0x00; torn(idx + 9) = 0x00
    assert(!new Multimodal.MjpegFrameDecoder(1).decode(torn).ok)
  }

  test("AviFrameDecoder: real frame sampling with exact per-frame stats") {
    // 7x3, 3 frames, sampled every 2nd → frames 0 and 2
    val bytes = Multimodal.VideoBytes2.aviDib(7, 3, 3, 11L)
    val r = new Multimodal.AviFrameDecoder(2).decode(bytes)
    assert(r.ok && r.width == 7 && r.height == 3 && r.nFrames == 3)
    assert(r.frames.map(_.frameIdx) == Seq(0, 2))
    // recompute frame 2's stats arithmetically (id=11, f=2)
    val px = for (y <- 0 until 3; x <- 0 until 7) yield
      ((5 * x + 17 * y + 33 + 46) % 256,
       (11 * x + 3 * y + 22 + 58) % 256,
       (7 * x + 13 * y + 11 + 62) % 256)
    val f2 = r.frames(1)
    assert(f2.sumR == px.map(_._1).sum && f2.sumG == px.map(_._2).sum &&
      f2.sumB == px.map(_._3).sum)
    assert(f2.cornerR == (33 + 46) % 256,
      "corner probe catches bottom-up row-order bugs")
    // byte-length formula used by the mm9 oracle
    val stride = ((7 * 3 + 3) / 4) * 4
    assert(bytes.length == 224 + 3 * (8 + stride * 3))
    // rejection: garbage, truncation, and a sampleEvery=1 full decode
    assert(!new Multimodal.AviFrameDecoder(1).decode("junk".getBytes).ok)
    assert(!new Multimodal.AviFrameDecoder(1).decode(bytes.take(60)).ok)
    assert(new Multimodal.AviFrameDecoder(1).decode(bytes)
      .frames.map(_.frameIdx) == Seq(0, 1, 2))
  }

  test("Rle8FrameDecoder: inter-frame carry — a sampled frame shows pixels " +
    "painted by UNSAMPLED predecessors, and delta-skipped pixels show through") {
    val id = 11L
    val w = 6; val h = 4; val nf = 4
    val bytes = Multimodal.VideoBytes2.aviRle8(w, h, nf, id)
    val r = new Multimodal.Rle8FrameDecoder(2).decode(bytes)
    assert(r.ok && r.width == w && r.height == h && r.nFrames == nf)
    assert(r.frames.map(_.frameIdx) == Seq(0, 2))
    def palR(i: Int) = (7 * i + 3) % 256
    def base(x: Int, yf: Int) = ((3 * x + 7 * yf + id) % 256).toInt
    // canvas at frame 2: frame 1 repainted row 1, frame 2 repainted
    // row 2 (x=0,1 run; x=2,3 DELTA-CARRIED from frame 0; x>=4 runs)
    def pix(x: Int, yf: Int, f: Int): Int = {
      val repaints = (1 to f).filter(t => t % h == yf)
      if (repaints.isEmpty || x == 2 || x == 3) base(x, yf)
      else {
        val t = repaints.max
        if (x < 2) ((13 * t + id) % 256).toInt
        else ((5 * x + 11 * t + id) % 256).toInt
      }
    }
    val f2 = r.frames(1)
    val expSumR = (for (yf <- 0 until h; x <- 0 until w)
      yield palR(pix(x, yf, 2)).toLong).sum
    assert(f2.sumR == expSumR, "frame-2 canvas must include frame-1's row")
    // the carry is REAL: frame 2's stats differ from a hypothetical
    // keyframe-only decode (frame 0 stats), because frames 1 and 2
    // repainted rows
    assert(f2.sumR != r.frames(0).sumR)
    // corner probe: visual (0,0) = file row h-1; rows 0..2 were
    // repainted by frames 1..2, row h-1=3 only if some t<=2 has
    // t%4==3 — none, so the corner still shows the KEYFRAME pixel
    assert(f2.cornerR == palR(base(0, h - 1)))
    // full decode sees every frame; garbage and truncation reject
    assert(new Multimodal.Rle8FrameDecoder(1).decode(bytes)
      .frames.map(_.frameIdx) == Seq(0, 1, 2, 3))
    assert(!new Multimodal.Rle8FrameDecoder(1).decode("junk".getBytes).ok)
    assert(!new Multimodal.Rle8FrameDecoder(1).decode(bytes.take(200)).ok)
    // a DIB avi is not an RLE8 avi (codec gate holds both ways)
    assert(!new Multimodal.Rle8FrameDecoder(1)
      .decode(Multimodal.VideoBytes2.aviDib(7, 3, 2, 1L)).ok)
    assert(!new Multimodal.AviFrameDecoder(1).decode(bytes).ok)
  }

  test("AIFF decoder: big-endian round-trip with 80-bit extended rate") {
    val dec = new Multimodal.AiffPcmDecoder
    val bytes = Multimodal.AudioBytes2.aiff(8000, 1, 200L, 0L)
    val m = dec.decode(bytes)
    assert(m.ok, s"decode failed: $m (len=${bytes.length})")
    assert(m.sampleRate == 8000 && m.channels == 1 && m.nFrames == 200L)
    // direct recompute of the flat-interleaved pattern
    val vs = (0L until 200L).map(j => (((7 * j) % 4096) - 2048).toInt)
    assert(m.sumAll == vs.map(_.toLong).sum)
    assert(m.sumSqAll == vs.map(v => v.toLong * v).sum)
    assert(m.peakAbs == vs.map(math.abs).max)
    // every distinct rate the fixtures use round-trips the
    // extended-float encoding exactly
    for (r <- Seq(8000, 12000, 16000, 20000, 24000, 44100, 48000)) {
      val mm = dec.decode(Multimodal.AudioBytes2.aiff(r, 2, 10L, 3L))
      assert(mm.ok && mm.sampleRate == r, s"rate $r came back $mm")
    }
    assert(!dec.decode(null).ok)
    assert(!dec.decode("FORMjunk".getBytes).ok)
    assert(!dec.decode(bytes.take(40)).ok)
  }

  test("sampleFrames: k frames per blob with deterministic offsets") {
    import spark.implicits._
    val df = Seq((1L, Array.fill(100)(7: Byte))).toDF("media_id", "blob")
    val frames = Multimodal.sampleFrames(df, "blob", "media_id", 4)
      .orderBy("frame_idx").collect()
    assert(frames.length == 4)
    assert(frames.map(_.getLong(3)).toSeq == Seq(0L, 25L, 50L, 75L))
  }

  test("WAV decoder: round-trip, unknown chunks tolerated, garbage rejected") {
    val dec = new Multimodal.AudioHeaderDecoder
    val m = dec.decode(Multimodal.AudioBytes.wav(16000, 2, 12345L))
    assert(m.ok && m.sampleRate == 16000 && m.channels == 2 &&
      m.bitsPerSample == 16 && m.nSamples == 12345L)

    // an unknown odd-sized chunk (with pad byte) between WAVE and fmt
    val base = Multimodal.AudioBytes.wav(8000, 1, 10L)
    val junk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](1, 2, 3, 0) // len 3 + pad
    val withChunk = base.take(12) ++ junk ++ base.drop(12)
    // fix RIFF size field is irrelevant to the walk; decoder skips LIST
    val m2 = dec.decode(withChunk)
    assert(m2.ok && m2.sampleRate == 8000 && m2.channels == 1 && m2.nSamples == 10L)

    assert(!dec.decode("not audio at all".getBytes).ok)
    assert(!dec.decode(base.take(20)).ok) // truncated before fmt payload
    assert(!dec.decode(null).ok)
  }

  test("MP4 decoder: round-trip, box skipping, garbage and truncation rejected") {
    val dec = new Multimodal.VideoHeaderDecoder
    val m = dec.decode(Multimodal.VideoBytes.mp4(600L, 3600L, 1920, 1080))
    assert(m.ok && m.timescale == 600L && m.durationMs == 6000L &&
      m.width == 1920 && m.height == 1080)

    // an unknown top-level box before moov is skipped by size
    val base = Multimodal.VideoBytes.mp4(1000L, 500L, 640, 480)
    val free = java.nio.ByteBuffer.allocate(12)
    free.putInt(12).put("free".getBytes("US-ASCII")).putInt(0)
    val withFree = base.take(16) ++ free.array() ++ base.drop(16)
    val m2 = dec.decode(withFree)
    assert(m2.ok && m2.durationMs == 500L && m2.width == 640)

    assert(!dec.decode("definitely not an mp4 container".getBytes).ok)
    assert(!dec.decode(base.take(30)).ok) // truncated inside moov
    assert(!dec.decode(null).ok)
  }

  test("MP4 decoder: undersized mvhd/tkhd boxes rejected, not parsed past") {
    val dec = new Multimodal.VideoHeaderDecoder
    // moov containing an mvhd that DECLARES size 12 (< 28 needed for
    // version+timescale+duration) followed by sibling bytes: the
    // decoder must reject rather than read the sibling's bytes as
    // timescale/duration and return ok=true with garbage.
    def box(tag: String, payload: Array[Byte], declared: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(declared).put(tag.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    val shortMvhd = box("mvhd", new Array[Byte](4), 12) // v0 byte + 3 pad
    val filler = box("free", Array.fill[Byte](24)(0x7f), 32)
    val moovKids = shortMvhd ++ filler
    val moov = box("moov", moovKids, 8 + moovKids.length)
    assert(!dec.decode(moov).ok)

    // trak whose tkhd declares size 16 (< 92) with trailing bytes in
    // range: same class — must come back ok=false.
    val mvhdOk = {
      val p = java.nio.ByteBuffer.allocate(100)
      p.putInt(0).putInt(0).putInt(0).putInt(600).putInt(1200)
      box("mvhd", p.array(), 108)
    }
    val shortTkhd = box("tkhd", new Array[Byte](8), 16)
    val trakFill = box("free", Array.fill[Byte](84)(0x55), 92)
    val trakKids = shortTkhd ++ trakFill
    val trak = box("trak", trakKids, 8 + trakKids.length)
    val kids2 = mvhdOk ++ trak
    val moov2 = box("moov", kids2, 8 + kids2.length)
    assert(!dec.decode(moov2).ok)
  }

  test("BmpPixelDecoder: real pixels — exact sums, corner probe, both row orders") {
    val dec = new Multimodal.BmpPixelDecoder
    // 3x2 image, id 7: verify against a direct Scala recomputation
    val st = dec.decode(Multimodal.ImageBytes.bmp(3, 2, 7))
    assert(st.ok && st.width == 3 && st.height == 2)
    val px = for (y <- 0 until 2; x <- 0 until 3)
      yield ((x * 5 + y * 17 + 21) % 256, (x * 11 + y * 3 + 14) % 256,
             (x * 7 + y * 13 + 7) % 256)
    assert(st.sumR == px.map(_._1).sum && st.sumG == px.map(_._2).sum &&
      st.sumB == px.map(_._3).sum)
    assert(st.cornerR == 21) // (0,0): 3*id % 256
    assert(st.luma0 + st.luma1 + st.luma2 + st.luma3 == 6L)
    // a TOP-DOWN variant (negative height) of a non-symmetric image
    // must yield the same sums but corner from the FIRST file row
    val bu = Multimodal.ImageBytes.bmp(5, 4, 11)
    val td = bu.clone()
    // rewrite height to -4 (LE int32 at offset 22) and flip the rows
    val stride = ((5 * 3 + 3) / 4) * 4
    java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -4)
    for (r <- 0 until 4; i <- 0 until stride)
      td(54 + r * stride + i) = bu(54 + (3 - r) * stride + i)
    val a = dec.decode(bu); val b = dec.decode(td)
    assert(a.ok && b.ok)
    assert(a.sumR == b.sumR && a.sumG == b.sumG && a.sumB == b.sumB)
    assert(a.cornerR == b.cornerR, "row-order handling differs")
  }

  test("BmpPixelDecoder: hostile bytes rejected, never thrown") {
    val dec = new Multimodal.BmpPixelDecoder
    assert(!dec.decode(null).ok)
    assert(!dec.decode(Array.empty[Byte]).ok)
    assert(!dec.decode("BMnot really a bitmap".getBytes).ok)
    val good = Multimodal.ImageBytes.bmp(6, 5, 3)
    // truncated pixel array
    assert(!dec.decode(good.take(good.length - 1)).ok)
    // header claims giant dims over a tiny buffer (overflow bait)
    val evil = good.clone()
    val bb = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(18, Int.MaxValue); bb.putInt(22, Int.MaxValue)
    assert(!dec.decode(evil).ok)
    // height = Int.MinValue: abs() is still negative — must reject,
    // not skip the pixel loop and report ok (review-caught)
    val minH = good.clone()
    java.nio.ByteBuffer.wrap(minH).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, Int.MinValue)
    assert(!dec.decode(minH).ok)
    // wrong bit depth / compression flags
    val bad16 = good.clone()
    java.nio.ByteBuffer.wrap(bad16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(28, 16.toShort)
    assert(!dec.decode(bad16).ok)
    val rle = good.clone()
    java.nio.ByteBuffer.wrap(rle).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(30, 1)
    assert(!dec.decode(rle).ok)
    // pixel offset pointing past the buffer
    val off = good.clone()
    java.nio.ByteBuffer.wrap(off).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(10, good.length + 100)
    assert(!dec.decode(off).ok)
    // and the good one still decodes after all this
    assert(dec.decode(good).ok)
  }

  test("WavPcmDecoder: real samples — exact stats vs direct recompute, " +
       "interleaving, sign extension") {
    val dec = new Multimodal.WavPcmDecoder
    // stereo clip, id 7: verify against a direct Scala recomputation
    // of the documented flat-interleaved pattern
    val st = dec.decode(Multimodal.AudioBytes.wavPcm(16000, 2, 50L, 7L))
    assert(st.ok && st.sampleRate == 16000 && st.channels == 2 &&
      st.nFrames == 50L)
    val s = (0 until 100).map(j => ((7 * j + 21) % 4096) - 2048)
    assert(st.sumAll == s.sum && st.sumSqAll == s.map(v => v.toLong * v).sum)
    assert(st.peakAbs == s.map(math.abs).max)
    val ch0 = s.indices.filter(_ % 2 == 0).map(s)
    assert(st.zeroCrossCh0 ==
      ch0.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
    // mono over the same flat pattern: order-invariant sums agree
    // (same flat samples, different framing)
    val mono = dec.decode(Multimodal.AudioBytes.wavPcm(8000, 1, 100L, 7L))
    assert(mono.ok && mono.sumAll == st.sumAll && mono.sumSqAll == st.sumSqAll)
    // interleaving witness: hand-built stereo where ch0 is constant
    // positive and ch1 alternates sign — ch0 crossings must be 0; an
    // implementation that counts over the flat interleaved stream
    // (ignoring channels) would report many
    val il = Multimodal.AudioBytes.wavPcm(8000, 2, 8L, 0L)
    val ib = java.nio.ByteBuffer.wrap(il)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (f <- 0 until 8) {
      ib.putShort(56 + 4 * f, 100.toShort)
      ib.putShort(56 + 4 * f + 2, (if (f % 2 == 0) -200 else 200).toShort)
    }
    val ist = dec.decode(il)
    assert(ist.ok && ist.zeroCrossCh0 == 0L,
      s"channel-0 stride mishandled: ${ist.zeroCrossCh0} crossings")
    // sign extension: a hand-built mono clip holding -32768 and 32767
    val hand = Multimodal.AudioBytes.wavPcm(8000, 1, 2L, 0L)
    val bb = java.nio.ByteBuffer.wrap(hand)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putShort(hand.length - 4, Short.MinValue)
    bb.putShort(hand.length - 2, Short.MaxValue)
    val h = dec.decode(hand)
    assert(h.ok && h.sumAll == -1L && h.peakAbs == 32768 &&
      h.zeroCrossCh0 == 1L)
  }

  test("WavPcmDecoder: hostile bytes rejected, never thrown") {
    val dec = new Multimodal.WavPcmDecoder
    assert(!dec.decode(null).ok)
    assert(!dec.decode("RIFFnope".getBytes).ok)
    val good = Multimodal.AudioBytes.wavPcm(8000, 1, 20L, 3L)
    // truncated payload: header data-length claims more than present —
    // the header-only decoder tolerates this, the PCM decoder must NOT
    assert(!dec.decode(good.take(good.length - 1)).ok)
    assert(!dec.decode(Multimodal.AudioBytes.wav(8000, 1, 10L)).ok,
      "header-only blob (no payload) must be rejected by the PCM decoder")
    // 8-bit / non-PCM flags rejected
    val bad8 = good.clone()
    java.nio.ByteBuffer.wrap(bad8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(34, 8.toShort) // bits-per-sample field in fmt
    assert(!dec.decode(bad8).ok)
    // hostile chunk length near 2^32 must not wrap the walk
    val evil = good.clone()
    java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40, 0xfffffff0) // LIST chunk length
    assert(!dec.decode(evil).ok)
    // and the good one still decodes after all this
    assert(dec.decode(good).ok)
  }
}
