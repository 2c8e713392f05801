package graft

import java.nio.{ByteBuffer, ByteOrder}

import graft.ops.MultimodalOps
import graft.ops.MultimodalOps.MediaRow
import org.scalatest.funsuite.AnyFunSuite

/** The multimodal plumbing: schema, typed encoders, per-partition
  * batching, generator explode — plus the REAL header decoders (BMP,
  * PNG, GIF, JPEG, RIFF/WAVE) asserted against hand-built fixture bytes;
  * every other format rides the deterministic stub.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private def media() = {
    import spark.implicits._
    Seq(
      MediaRow(1L, "image", "s3://m/1.jpg", Array.tabulate(256)(_.toByte)),
      MediaRow(2L, "audio", "s3://m/2.ogg", Array.tabulate(1024)(i => (i * 7).toByte)),
      MediaRow(3L, "video", "s3://m/3.mp4", Array.tabulate(4096)(i => (i * 13).toByte)))
      .toDS().repartition(2)
  }

  /** Minimal BITMAPINFOHEADER BMP: 14-byte file header + 40-byte DIB. */
  private def bmpBytes(width: Int, height: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54) // file size (headers only)
    buf.putInt(0) // reserved
    buf.putInt(54) // pixel data offset
    buf.putInt(40) // DIB header size
    buf.putInt(width)
    buf.putInt(height)
    buf.putShort(1) // planes
    buf.putShort(24) // bits per pixel
    buf.array()
  }

  /** Canonical 44-byte PCM WAV header + `dataLen` silence bytes. */
  private def wavBytes(sampleRate: Int, channels: Int, bitsPerSample: Int,
      dataLen: Int): Array[Byte] = {
    val byteRate = sampleRate * channels * bitsPerSample / 8
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII"))
    buf.putInt(36 + dataLen)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII"))
    buf.putInt(16) // PCM fmt chunk size
    buf.putShort(1) // PCM
    buf.putShort(channels.toShort)
    buf.putInt(sampleRate)
    buf.putInt(byteRate)
    buf.putShort((channels * bitsPerSample / 8).toShort) // block align
    buf.putShort(bitsPerSample.toShort)
    buf.put("data".getBytes("US-ASCII"))
    buf.putInt(dataLen)
    buf.array()
  }

  test("feature extraction: schema, determinism, per-kind fields") {
    val feats = MultimodalOps.extractFeatures(media())
    assert(feats.columns.toSeq == Seq(
      "media_id", "kind", "n_bytes", "width", "height", "bit_depth",
      "duration_ms", "sample_rate", "channels", "embedding"))
    val rows = feats.collect().sortBy(_.media_id)
    assert(rows.map(_.n_bytes).toSeq == Seq(256L, 1024L, 4096L))
    val img = rows.find(_.kind == "image").get
    assert(img.width > 0 && img.height > 0 && img.duration_ms == 0L)
    val aud = rows.find(_.kind == "audio").get
    assert(aud.width == 0 && aud.duration_ms >= 0L)
    assert(rows.forall(_.embedding.length == 8))
    // deterministic: a second run produces identical features
    val again = MultimodalOps.extractFeatures(media()).collect().sortBy(_.media_id)
    assert(again.map(_.embedding.toSeq).toSeq == rows.map(_.embedding.toSeq).toSeq)
  }

  test("BMP decode is real: true dimensions from fixture bytes, top-down abs'd") {
    import spark.implicits._
    val ds = Seq(
      MediaRow(1L, "image", "a.bmp", bmpBytes(width = 640, height = 480)),
      MediaRow(2L, "image", "b.bmp", bmpBytes(width = 13, height = -7))).toDS()
    val byId = MultimodalOps.extractFeatures(ds).collect().map(f => f.media_id -> f).toMap
    assert(byId(1L).width == 640 && byId(1L).height == 480)
    assert(byId(2L).width == 13 && byId(2L).height == 7) // negative = top-down
    assert(byId(1L).bit_depth == 24 && byId(2L).bit_depth == 24) // biBitCount@28
    assert(byId(1L).duration_ms == 0L && byId(1L).sample_rate == 0)
  }

  /** 8-byte PNG signature + the mandatory 13-byte IHDR chunk (no CRC
    * needed — the decoder only reads through byte 25). */
  private def pngBytes(width: Int, height: Int, depth: Int, colorType: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(33) // big-endian by default
    buf.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    buf.putInt(13)
    buf.put("IHDR".getBytes("US-ASCII"))
    buf.putInt(width)
    buf.putInt(height)
    buf.put(depth.toByte)
    buf.put(colorType.toByte)
    buf.put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
    buf.array()
  }

  /** GIF89a header + logical screen descriptor. */
  private def gifBytes(width: Int, height: Int, depthMinus1: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(13).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("GIF89a".getBytes("US-ASCII"))
    buf.putShort(width.toShort)
    buf.putShort(height.toShort)
    buf.put((0x80 | depthMinus1).toByte) // global color table flag + depth bits
    buf.put(0.toByte).put(0.toByte)
    buf.array()
  }

  test("PNG and GIF decode are real: big-endian IHDR, LE screen descriptor") {
    import spark.implicits._
    val ds = Seq(
      MediaRow(1L, "image", "a.png", pngBytes(1920, 1080, depth = 8, colorType = 6)),
      MediaRow(2L, "image", "b.png", pngBytes(300, 200, depth = 8, colorType = 0)),
      MediaRow(3L, "image", "c.gif", gifBytes(640, 350, depthMinus1 = 7)),
      // color type 5 does not exist -> corrupt, stub fallback
      MediaRow(4L, "image", "d.png", pngBytes(10, 10, depth = 8, colorType = 5))).toDS()
    val byId = MultimodalOps.extractFeatures(ds).collect().map(f => f.media_id -> f).toMap
    assert(byId(1L).width == 1920 && byId(1L).height == 1080)
    assert(byId(1L).bit_depth == 32) // 8 bits x RGBA
    assert(byId(2L).bit_depth == 8)  // 8 bits x greyscale
    assert(byId(3L).width == 640 && byId(3L).height == 350 && byId(3L).bit_depth == 8)
    val stub = new MultimodalOps.FakeDecoder().decode(
      MediaRow(4L, "image", "d.png", pngBytes(10, 10, 8, 5)))
    assert(byId(4L).width == stub.width && byId(4L).height == stub.height)
  }

  test("WAV decode is real: sample rate, channels, duration from the chunk walk") {
    import spark.implicits._
    // 44100 Hz stereo 16-bit, exactly half a second of frames
    val halfSec = 44100 * 2 * 2 / 2
    val ds = Seq(
      MediaRow(1L, "audio", "a.wav", wavBytes(44100, 2, 16, halfSec)),
      MediaRow(2L, "audio", "b.wav", wavBytes(16000, 1, 16, 16000 * 2 * 3))).toDS()
    val byId = MultimodalOps.extractFeatures(ds).collect().map(f => f.media_id -> f).toMap
    assert(byId(1L).sample_rate == 44100 && byId(1L).channels == 2)
    assert(byId(1L).duration_ms == 500L)
    assert(byId(2L).sample_rate == 16000 && byId(2L).channels == 1)
    assert(byId(2L).duration_ms == 3000L)
    assert(byId(1L).width == 0 && byId(1L).height == 0)
  }

  /** Minimal JPEG: SOI, APP0 (skipped), DHT (C4 — in C0–CF but NOT a
    * SOF; the walk must skip it), a fill byte, then SOFn with the real
    * frame header. `sofMarker` picks baseline C0 / progressive C2. */
  private def jpegBytes(width: Int, height: Int, precision: Int, comps: Int,
      sofMarker: Int = 0xC0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def b(i: Int): Unit = out.write(i & 0xFF)
    def u16(i: Int): Unit = { b(i >> 8); b(i) }
    b(0xFF); b(0xD8) // SOI
    b(0xFF); b(0xE0); u16(16); out.write("JFIF".getBytes("US-ASCII")); b(0)
    (0 until 9).foreach(_ => b(0)) // APP0 payload filler (len 16 = 2+14)
    b(0xFF); b(0xC4); u16(5); b(0); b(0); b(0) // DHT: C0-CF range, not SOF
    b(0xFF) // legal fill byte before the next marker
    b(0xFF); b(sofMarker); u16(8 + 3 * comps)
    b(precision); u16(height); u16(width); b(comps)
    (0 until 3 * comps).foreach(_ => b(0x11)) // per-component specs
    b(0xFF); b(0xDA); u16(2) // SOS (never reached by the walk)
    out.toByteArray
  }

  test("JPEG decode is real: SOF dims after APP0/DHT skip and fill bytes") {
    import spark.implicits._
    val ds = Seq(
      MediaRow(1L, "image", "a.jpg", jpegBytes(1920, 1080, 8, 3)),
      MediaRow(2L, "image", "b.jpg", jpegBytes(320, 200, 8, 1, sofMarker = 0xC2)))
      .toDS()
    val rows = MultimodalOps.extractFeatures(ds).collect().sortBy(_.media_id)
    assert(rows(0).width == 1920 && rows(0).height == 1080)
    assert(rows(0).bit_depth == 24) // 8-bit x 3 components
    assert(rows(1).width == 320 && rows(1).height == 200, "progressive SOF2 missed")
    assert(rows(1).bit_depth == 8)
  }

  test("corrupt headers fall back to the deterministic stub, not a task failure") {
    import spark.implicits._
    val truncatedBmp = bmpBytes(640, 480).take(20) // magic ok, DIB cut off
    val zeroWidthBmp = bmpBytes(0, 10)
    val headerlessWav = "RIFFxxxxWAVE".getBytes("US-ASCII") // no fmt/data chunks
    // chunk size whose signed-int reading is -8: a naive walk advances by
    // 8 + (-8) = 0 bytes and spins forever — this row pins termination
    val spinWav = {
      val buf = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(12)
      buf.put("WAVE".getBytes("US-ASCII"))
      buf.put("junk".getBytes("US-ASCII")).putInt(0xFFFFFFF8)
      buf.array()
    }
    // payload that merely STARTS with 'BM' but has no valid DIB header:
    // must NOT be rewritten into an "image" with garbage dimensions
    val bmMagicAudio = Array.tabulate(64)(i =>
      if (i == 0) 'B'.toByte else if (i == 1) 'M'.toByte else 0x11.toByte)
    // JPEG whose sampled prefix ends before any SOF: SOI + APP0 only
    val noSofJpeg = jpegBytes(10, 10, 8, 3).take(20)
    val ds = Seq(
      MediaRow(1L, "image", "t.bmp", truncatedBmp),
      MediaRow(2L, "image", "z.bmp", zeroWidthBmp),
      MediaRow(3L, "audio", "h.wav", headerlessWav),
      MediaRow(4L, "audio", "s.wav", spinWav),
      MediaRow(5L, "audio", "bm.ogg", bmMagicAudio),
      MediaRow(6L, "image", "n.jpg", noSofJpeg)).toDS()
    val rows = MultimodalOps.extractFeatures(ds).collect()
    assert(rows.length == 6) // nothing threw (and nothing hung)
    val nj = rows.find(_.media_id == 6L).get
    assert(nj.width != 10, "truncated JPEG must fall back to the stub, not fake-decode")
    assert(rows.forall(_.embedding.length == 8)) // stub features present
    val bm = rows.find(_.media_id == 5L).get
    assert(bm.kind == "audio" && bm.width == 0 && bm.sample_rate == 0,
      "BM-magic audio payload was mis-sniffed as a decoded image")
  }

  test("q132 cross-modal pairing: full top-3 per medium, valid cosines, deterministic") {
    def run() = graft.queries.MultimodalQs.q132.fn(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val rows = run()
    assert(rows.length == 27) // 9 media x top-3
    val byMedia = rows.groupBy(_._1)
    assert(byMedia.keySet == (1L to 9L).toSet)
    byMedia.values.foreach { g =>
      assert(g.map(_._2).sorted == Seq(1, 2, 3))
      // ranks ordered by descending cosine
      assert(g.sortBy(_._2).map(_._4).reverse == g.map(_._4).sorted.toSeq)
    }
    assert(rows.forall(r => r._4 >= -1.0 && r._4 <= 1.0))
    assert(run() == rows) // the mapPartitions decode path is deterministic
  }

  // ——— perceptual near-dup (q152's machinery, round 19) ———

  /** A 9×8 24bpp BMP whose pixel (x, y) grayscale is v(x, y) — the grid
    * where the dHash sample points ARE the pixels. ONE builder
    * (MultimodalQs.bmpOf) shared with q152's fixtures, so the spec can
    * never silently test a different byte layout than the one the
    * oracle exercises. */
  private def bmp9x8(v: (Int, Int) => Int): Array[Byte] =
    graft.queries.MultimodalQs.bmpOf(9, 8, v)

  test("dHash: controlled pixel dips flip exactly the designed bits; gradients saturate") {
    def grad(x: Int, y: Int) = 10 + 20 * x
    val base = MultimodalOps.perceptualHash64(bmp9x8(grad))
    assert(base == -1L, "a monotone-increasing gradient must set all 64 bits")
    assert(MultimodalOps.perceptualHash64(bmp9x8((x, y) => 170 - 20 * x)) == 0L,
      "a monotone-decreasing gradient must clear all 64 bits")
    // a dip at pixel (3, 2) below g(2,2) but above nothing else flips
    // ONLY bit j*8+i = 2*8+2 = 18
    val oneFlip = MultimodalOps.perceptualHash64(
      bmp9x8((x, y) => if (x == 3 && y == 2) 45 else grad(x, y)))
    assert((base ^ oneFlip) == (1L << 18),
      f"expected exactly bit 18 flipped, got xor ${base ^ oneFlip}%016x")
  }

  test("perceptual invariance: noise OFF the sample grid leaves the hash unchanged; opaque formats get exact FNV") {
    // 64×48 image: sampled xs are i*64/9, ys j*48/8 — pixel (1,1) is
    // never sampled, so the perturbed copy hashes IDENTICALLY (the
    // property that makes dHash a near-dup key where byte hashing isn't)
    def tex(x: Int, y: Int) = (x * 3 + y * 2) % 200 + 20
    def big(v: (Int, Int) => Int): Array[Byte] =
      graft.queries.MultimodalQs.bmpOf(64, 48, v)
    val a = MultimodalOps.perceptualHash64(big(tex))
    val b = MultimodalOps.perceptualHash64(
      big((x, y) => if (x == 1 && y == 1) 255 else tex(x, y)))
    assert(a == b, "off-grid noise changed the perceptual hash")
    // opaque payloads: FNV-1a of the bytes — equal iff byte-identical
    val wav = Array[Byte](1, 2, 3, 4)
    assert(MultimodalOps.perceptualHash64(wav) ==
      MultimodalOps.perceptualHash64(wav.clone()))
    assert(MultimodalOps.perceptualHash64(wav) !=
      MultimodalOps.perceptualHash64(Array[Byte](1, 2, 3, 5)))
  }

  test("audio dHash: localized edits stay near, different signals far, silence is canonical zero") {
    def wav(samples: Seq[Int]): Array[Byte] = {
      val dataLen = samples.size * 2
      val b = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      b.put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      b.putShort(1).putShort(1).putInt(8000).putInt(16000)
      b.putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(s => b.putShort(s.toShort))
      b.array()
    }
    def sig(k: Int) = (k * k * 31 + 7 * k) % 4001 - 2000
    val base = MultimodalOps.perceptualHash64(wav((0 until 650).map(sig)))
    // a localized boost perturbs at most the two comparisons adjacent
    // to its bucket — the near-dup property the banded join keys on
    val edited = MultimodalOps.perceptualHash64(wav((0 until 650).map(k =>
      if (k >= 300 && k < 310) sig(k) + 1500 else sig(k))))
    val ham = java.lang.Long.bitCount(base ^ edited)
    assert(ham >= 1 && ham <= 2, s"localized edit moved $ham bits")
    // a different signal is FAR (envelope shapes decorrelate)
    val other = MultimodalOps.perceptualHash64(
      wav((0 until 650).map(k => (k * 53 + 11) % 3001 - 1500)))
    assert(java.lang.Long.bitCount(base ^ other) > 10)
    // silence has no envelope: all energies 0, hash 0 — two silent
    // recordings of different lengths are perceptually identical
    assert(MultimodalOps.perceptualHash64(wav(Seq.fill(650)(0))) == 0L)
    assert(MultimodalOps.perceptualHash64(wav(Seq.fill(100)(0))) == 0L)
    // non-canonical containers (extensible format tag) take the FNV
    // lane, never a garbage "audio" hash
    val exotic = wav((0 until 650).map(sig))
    ByteBuffer.wrap(exotic).order(ByteOrder.LITTLE_ENDIAN)
      .putShort(20, 0xFFFE.toShort) // WAVE_FORMAT_EXTENSIBLE
    assert(MultimodalOps.perceptualHash64(exotic) ==
      MultimodalOps.fnv64(exotic))
  }

  test("audio dHash: resample and bit-depth re-encodes stay within the near-dup radius") {
    // The commonest real-world audio near-dup: the SAME recording at a
    // different sample rate or bit depth. The 65 proportional buckets
    // make the envelope comparison scale-invariant on both axes —
    // pinned here as a measured fixture property, not an argument.
    def wav16(rate: Int, samples: Seq[Int]): Array[Byte] = {
      val b = ByteBuffer.allocate(44 + samples.size * 2).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.size * 2)
      b.put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      b.putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      b.putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(samples.size * 2)
      samples.foreach(s => b.putShort(s.toShort))
      b.array()
    }
    def wav8(rate: Int, samples: Seq[Int]): Array[Byte] = {
      val b = ByteBuffer.allocate(44 + samples.size).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.size)
      b.put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      b.putShort(1).putShort(1).putInt(rate).putInt(rate)
      b.putShort(1).putShort(8)
      b.put("data".getBytes("US-ASCII")).putInt(samples.size)
      samples.foreach(s => b.put(s.toByte))
      b.array()
    }
    def sig(k: Int) = (k * k * 31 + 7 * k) % 4001 - 2000
    val s16 = (0 until 650).map(sig)
    val base = MultimodalOps.perceptualHash64(wav16(8000, s16))
    // 2x sample rate, nearest-neighbor resample (sample k = source k/2)
    val up2 = MultimodalOps.perceptualHash64(
      wav16(16000, (0 until 1300).map(k => sig(k / 2))))
    val hamUp = java.lang.Long.bitCount(base ^ up2)
    assert(hamUp <= 2, s"2x resample moved $hamUp bits — past the banded radius")
    // 8-bit depth re-encode (the standard unsigned conversion
    // s8 = (s16 + 32768) >> 8): energies scale ~256x uniformly, so
    // the hash survives — PROVIDED the recording uses real dynamic
    // range. The invariance class is honest about its limit: a
    // full-scale signal (here ±32000) keeps its envelope through 8-bit
    // quantization; a signal living in 6% of the range (sig's raw
    // ±2000 → ±8 after quantization) loses the envelope ITSELF to
    // quantization noise — signal degradation, not hash fragility —
    // and measured 7 bits adrift.
    def sigF(k: Int) = sig(k) * 16 // full-scale: ±32000
    val baseF = MultimodalOps.perceptualHash64(wav16(8000, (0 until 650).map(sigF)))
    val s8 = (0 until 650).map(k => (sigF(k) + 32768) >> 8)
    val depth8 = MultimodalOps.perceptualHash64(wav8(8000, s8))
    val hamDepth = java.lang.Long.bitCount(baseF ^ depth8)
    assert(hamDepth <= 2, s"8-bit re-encode moved $hamDepth bits — past the banded radius")
    // both at once (a low-fi re-encode of the same recording)
    val both = MultimodalOps.perceptualHash64(
      wav8(16000, (0 until 1300).map(k => (sigF(k / 2) + 32768) >> 8)))
    val hamBoth = java.lang.Long.bitCount(baseF ^ both)
    assert(hamBoth <= 3, s"combined re-encode moved $hamBoth bits")
    // an 8-bit payload really takes the audio lane (not FNV)
    assert(depth8 != MultimodalOps.fnv64(wav8(8000, s8)))
  }

  test("audio dHash: payloads past the bkt*n Int-overflow point (>33M samples) hash exactly") {
    // 34M 16-bit samples = ~68 MB — ~6.4 min of 44.1 kHz stereo, a
    // routine real-world payload. Before the Long-boundary fix,
    // bkt*n overflowed Int for bkt >= 64, producing a negative start
    // index and an IndexOutOfBoundsException that killed the task.
    val n = 34000000
    val b = new Array[Byte](44 + 2 * n)
    val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1).putShort(2).putInt(44100).putInt(176400)
    buf.putShort(4).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(2 * n)
    var k = 0
    while (k < n) { // a deterministic non-flat envelope
      buf.putShort(44 + 2 * k, (((k * 2654435761L) >>> 41) - 512).toShort)
      k += 1
    }
    val got = MultimodalOps.perceptualHash64(b) // must not throw
    assert(got != MultimodalOps.fnv64(b), "payload fell out of the audio lane")
    // independent reference: the same 65 integer boundaries in BigInt
    // (immune to any fixed-width truncation), energies in Long
    val bounds = (0 to 65).map(i => (BigInt(i) * n / 65).toInt)
    assert(bounds.last == n && bounds.head == 0)
    val energy = Array.tabulate(65) { bkt =>
      var e = 0L
      var j = bounds(bkt)
      while (j < bounds(bkt + 1)) { e += math.abs(buf.getShort(44 + 2 * j).toLong); j += 1 }
      e
    }
    var want = 0L
    for (m <- 0 until 64) if (energy(m + 1) > energy(m)) want |= 1L << m
    assert(got == want, f"large-n audio hash diverged: got $got%016x want $want%016x")
  }

  test("corrupt BMP headers quarantine as opaque FNV — never an index exception") {
    // garbage that passes the 'BM'+DIB40+24bpp sniff but carries a
    // hostile header must fall back to the exact-byte fingerprint (a
    // 100-TB media scan always contains garbage; a task failure here
    // kills the whole dedup job)
    def corrupt(patch: ByteBuffer => Unit): Array[Byte] = {
      val b = graft.queries.MultimodalQs.bmpOf(9, 8, (x, y) => 10 + 20 * x)
      val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      patch(buf)
      b
    }
    val cases = Seq[(String, ByteBuffer => Unit)](
      "negative pixel-array offset" -> (_.putInt(10, -1000)),
      "offset below the header span" -> (_.putInt(10, 8)),
      "width overflowing w*3 in Int" -> (_.putInt(18, 0x30000000)),
      "height past the payload" -> (_.putInt(22, 1000000)))
    cases.foreach { case (name, patch) =>
      val bytes = corrupt(patch)
      val h = MultimodalOps.perceptualHash64(bytes) // must not throw
      assert(h == MultimodalOps.fnv64(bytes),
        s"$name: corrupt header was not quarantined to the FNV lane")
    }
  }

  test("q152's candidate join is BANDED: equi-join on band buckets, no cartesian/BNLJ") {
    val plan = Queries.byName("q152_perceptual_near_dup").fn(spark, "unused")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q152's pair generation degenerated to all-pairs:\n$plan")
  }

  test("the band-bucket cap never drops a true <=3-Hamming pair on the graded fixtures") {
    // capBuckets applies to DISTINCT fingerprints only (identical
    // content collapses before banding), and band redundancy covers the
    // rest — on the fixture corpus the cap must be answer-invisible:
    // the default-capped pair set equals the uncapped one, down to an
    // adversarial cap of 2 (every bucket of more than two distinct
    // fingerprints dropped) the pigeonhole still finds every pair in
    // some surviving band here
    val media = graft.queries.MultimodalQs.phFixtureMedia(spark)
    def pairs(cap: Int): Seq[(Long, Long, Int)] =
      graft.queries.MultimodalQs.perceptualNearDupPairs(media, 3, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val uncapped = pairs(Int.MaxValue)
    assert(uncapped.nonEmpty)
    assert(pairs(graft.queries.MultimodalQs.MediaMaxBucket) == uncapped,
      "the default cap dropped a true pair on the graded fixtures")
  }

  test("q153 clusters are consistent with q152 pairs: connected, min-labeled, total") {
    val pairRows = Queries.byName("q152_perceptual_near_dup").fn(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val clusters = Queries.byName("q153_media_dup_clusters").fn(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val rep = clusters.map(c => c._1 -> c._2).toMap
    // total: every fixture media row is labeled exactly once
    assert(clusters.map(_._1).sorted.toSeq == (1L to 18L))
    // every near-dup pair lands in one cluster
    pairRows.foreach { case (a, b) =>
      assert(rep(a) == rep(b), s"pair ($a,$b) split across clusters")
    }
    // the representative IS the cluster min, keep marks exactly it
    clusters.groupBy(_._2).foreach { case (r, members) =>
      assert(members.map(_._1).min == r, s"cluster $r not labeled by its min")
      assert(members.count(_._4) == 1 && members.find(_._4).get._1 == r)
      assert(members.forall(_._3 == members.length.toLong))
    }
    // the designed shape: {1,2,3,13,18} transitive + cross-container
    // (13 and 18 are PNG and GIF re-encodes of BMP 1), {5,6,14},
    // {7,8,9,15} (15 = 2x resample of 7), {11,12}, {16,17} (8-bit
    // depth re-encode), singletons {4}, {10}
    val byRep = clusters.groupBy(_._2).map { case (r, m) => r -> m.map(_._1).sorted.toSeq }
    assert(byRep(1L) == Seq(1L, 2L, 3L, 13L, 18L))
    assert(byRep(5L) == Seq(5L, 6L, 14L))
    assert(byRep(7L) == Seq(7L, 8L, 9L, 15L))
    assert(byRep(11L) == Seq(11L, 12L))
    assert(byRep(16L) == Seq(16L, 17L))
    assert(byRep(4L) == Seq(4L) && byRep(10L) == Seq(10L))
  }

  // ——— PNG perceptual lane (round 20) ———

  test("PNG lane: a PNG re-encode hashes IDENTICALLY to its BMP twin — every filter, stored and deflate, gray and truecolor") {
    def grad(x: Int, y: Int) = 10 + 20 * x
    def tex(x: Int, y: Int) = (x * 3 + y * 2) % 200 + 20
    for ((w, h, v) <- Seq((9, 8, grad _), (64, 48, tex _), (13, 11, tex _))) {
      val want = MultimodalOps.perceptualHash64(graft.queries.MultimodalQs.bmpOf(w, h, v))
      for {
        filter <- 0 to 4
        stored <- Seq(true, false)
        color <- Seq(0, 2)
      } {
        val png = graft.queries.MultimodalQs.pngOf(w, h, v, color, filter, stored)
        val got = MultimodalOps.perceptualHash64(png)
        assert(got == want,
          s"PNG(${w}x$h, color=$color, filter=$filter, stored=$stored) " +
            f"hashed $got%016x, BMP twin $want%016x")
      }
    }
  }

  test("PNG lane: multi-IDAT and multi-block streams decode; off-grid noise is invariant") {
    def tex(x: Int, y: Int) = (x * 7 + y * 5) % 251
    // a raster big enough that the stored zlib stream spans >1 64KB
    // block (raw = 300*(1+300) = 90300 bytes) — the chunk/block walk is
    // exercised, and the hash still matches the BMP twin
    val want = MultimodalOps.perceptualHash64(graft.queries.MultimodalQs.bmpOf(300, 300, tex))
    val png = graft.queries.MultimodalQs.pngOf(300, 300, tex)
    assert(MultimodalOps.perceptualHash64(png) == want)
    // off-grid noise: pixel (1,1) is never sampled at 300x300
    val noisy = graft.queries.MultimodalQs.pngOf(300, 300,
      (x, y) => if (x == 1 && y == 1) 255 else tex(x, y))
    assert(MultimodalOps.perceptualHash64(noisy) == want)
    // re-chunk the single IDAT into two — the walk must CONCATENATE
    // IDAT payloads (real encoders emit many)
    val idatLen = ByteBuffer.wrap(png).getInt(33)
    val data = png.slice(41, 41 + idatLen)
    def chunk(typ: String, d: Array[Byte]): Array[Byte] = {
      val out = ByteBuffer.allocate(12 + d.length)
      out.putInt(d.length).put(typ.getBytes("US-ASCII")).put(d)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(d)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val (d1, d2) = data.splitAt(data.length / 2)
    val multi = png.take(33) ++ chunk("IDAT", d1) ++ chunk("IDAT", d2) ++
      chunk("IEND", Array.empty[Byte])
    assert(MultimodalOps.perceptualHash64(multi) == want,
      "multi-IDAT stream diverged from the single-IDAT hash")
  }

  // ——— GIF perceptual lane (round 20) ———

  test("GIF lane: literal and dictionary-compressed re-encodes hash IDENTICALLY to the BMP twin") {
    def grad(x: Int, y: Int) = 10 + 20 * x
    def tex(x: Int, y: Int) = (x * 3 + y * 2) % 200 + 20
    for ((w, h, v) <- Seq((9, 8, grad _), (64, 48, tex _), (13, 11, tex _))) {
      val want = MultimodalOps.perceptualHash64(graft.queries.MultimodalQs.bmpOf(w, h, v))
      for {
        compress <- Seq(false, true)
        gce <- Seq(false, true)
      } {
        val gif = graft.queries.MultimodalQs.gifOf(w, h, v, compress, gce)
        val got = MultimodalOps.perceptualHash64(gif)
        assert(got == want,
          s"GIF(${w}x$h, compress=$compress, gce=$gce) " +
            f"hashed $got%016x, BMP twin $want%016x")
      }
    }
    // LOCAL color table (the palette rides the image descriptor, LSD
    // carries none) and GIF87a both decode identically
    val wantTex = MultimodalOps.perceptualHash64(graft.queries.MultimodalQs.bmpOf(64, 48, tex))
    assert(MultimodalOps.perceptualHash64(
      graft.queries.MultimodalQs.gifOf(64, 48, tex, localTable = true)) == wantTex,
      "local-color-table GIF diverged")
    assert(MultimodalOps.perceptualHash64(
      graft.queries.MultimodalQs.gifOf(64, 48, tex, version87 = true)) == wantTex,
      "GIF87a diverged")
    // a raster big enough that the DICTIONARY overflows (300x300 =
    // 90k pixels forces >4096 entries → mid-stream CLEAR resets and
    // code widths 9→12) and the literal stream spans many sub-blocks
    def tex2(x: Int, y: Int) = (x * 7 + y * 5) % 251
    val want = MultimodalOps.perceptualHash64(graft.queries.MultimodalQs.bmpOf(300, 300, tex2))
    assert(MultimodalOps.perceptualHash64(
      graft.queries.MultimodalQs.gifOf(300, 300, tex2, compress = true)) == want,
      "dictionary resets / width growth broke the LZW decode")
    assert(MultimodalOps.perceptualHash64(
      graft.queries.MultimodalQs.gifOf(300, 300, tex2, compress = false)) == want,
      "multi-sub-block literal stream broke the decode")
  }

  test("GIF lane: hostile/undecodable payloads quarantine to exact FNV — never a task failure") {
    def tex(x: Int, y: Int) = (x * 3 + y * 2) % 200 + 20
    val good = graft.queries.MultimodalQs.gifOf(16, 16, tex)
    def patched(f: ByteBuffer => Unit): Array[Byte] = {
      val b = good.clone(); f(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)); b
    }
    // image descriptor sits right after header(6)+LSD(7)+GCT(768):
    // packed byte at 781+9 = 790
    val cases = Seq[(String, Array[Byte])](
      "interlaced" -> patched(_.put(790, 0x40.toByte)),
      "no color table anywhere" -> patched(_.put(10, 0x00.toByte)),
      "bomb dimensions" -> patched(b => { b.putShort(786, -1); b.putShort(788, -1) }),
      "trailer before any image" -> patched(_.put(781, 0x3B.toByte)),
      "desynchronized block stream" -> patched(_.put(781, 0x7F.toByte)),
      "truncated mid-LZW" -> good.take(800),
      "invalid min code size" -> patched(_.put(791, 1.toByte)),
      // first code after CLEAR forced to 511 — a dictionary code where
      // only a raw literal is legal
      "corrupt LZW stream" -> patched { b =>
        b.put(793, 0xFF.toByte); b.put(794, (b.get(794) | 1).toByte)
      })
    cases.foreach { case (name, bytes) =>
      val h = MultimodalOps.perceptualHash64(bytes) // must not throw
      assert(h == MultimodalOps.fnv64(bytes),
        s"$name: undecodable GIF was not quarantined to the FNV lane")
    }
  }

  test("PNG lane: hostile/undecodable payloads quarantine to exact FNV — never a task failure") {
    def tex(x: Int, y: Int) = (x * 3 + y * 2) % 200 + 20
    val good = graft.queries.MultimodalQs.pngOf(16, 16, tex)
    def patched(f: ByteBuffer => Unit): Array[Byte] = {
      val b = good.clone(); f(ByteBuffer.wrap(b)); b
    }
    val cases = Seq[(String, Array[Byte])](
      "interlaced (Adam7)" -> patched(_.put(28, 1.toByte)),
      "16-bit depth" -> patched(_.put(24, 16.toByte)),
      "paletted color type" -> patched(_.put(25, 3.toByte)),
      "alpha color type" -> patched(_.put(25, 6.toByte)),
      "deflate-bomb dimensions" -> patched(b => { b.putInt(16, 60000); b.putInt(20, 60000) }),
      "corrupt zlib stream" -> patched(_.put(43, 0xEE.toByte)),
      // 0x78 0x20 is a VALID zlib header with the FDICT bit set — the
      // Inflater returns 0 forever with finished=false/needsInput=false
      // and needsDictionary=true; without the needsDictionary stall
      // check this was an unkillable busy-wait, not a quarantine
      "preset-dictionary (FDICT) zlib stream" -> patched { b =>
        b.put(41, 0x78.toByte); b.put(42, 0x20.toByte)
      },
      "truncated payload" -> good.take(60),
      "zero width" -> patched(_.putInt(16, 0)))
    cases.foreach { case (name, bytes) =>
      val h = MultimodalOps.perceptualHash64(bytes) // must not throw
      assert(h == MultimodalOps.fnv64(bytes),
        s"$name: undecodable PNG was not quarantined to the FNV lane")
    }
  }
}
