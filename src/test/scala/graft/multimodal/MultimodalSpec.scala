package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The media decoders and the perceptual-hash algebra: aHash banding,
  * and the BMP, JPEG, PNG and WAV decodes checked against the JDK's own
  * parsers.
  */
class MultimodalSpec extends AnyFunSuite {
  private val s = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  test("aHash: identical payloads collide, pairs respect the bound") {
    import s.implicits._
    val docs = Seq(
      (1L, "a" * 16 + "z" * 16 + "a" * 16 + "z" * 16),
      (2L, "a" * 16 + "z" * 16 + "a" * 16 + "z" * 16),
      (3L, "m" * 64)).toDF("doc_id", "text")
    val sigs = Multimodal.ahashSigs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L), "identical payloads hash equal")
    // doc 3 is constant intensity: no pixel exceeds the mean → hash 0
    assert(sigs(3L) === 0L)
    val pairs = Multimodal.phashPairsQ(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.forall { case (a, b, h) =>
      a < b && h <= Multimodal.AHashMaxDist })
  }

  test("the BMP decode is real: ImageIO parses the container") {
    val payload = ("The quick brown fox " * 10).getBytes("UTF-8")
    val bmp = Multimodal.toBmp(payload)
    // the JDK reader parses dimensions from the header we wrote
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bmp))
    assert(img !== null)
    assert(img.getWidth === Multimodal.DecW)
    assert(img.getHeight === Multimodal.DecH)
    // channel/row order round-trips: pixel (x, y) top-down maps to
    // payload row (15 - y), BGR bytes
    val x = 3; val y = 5
    val base = (15 - y) * 48 + x * 3
    val rgb = img.getRGB(x, y)
    assert((rgb & 0xFF) === (payload(base % payload.length) & 0xFF)) // B
    assert(((rgb >> 16) & 0xFF) ===
      (payload((base + 2) % payload.length) & 0xFF)) // R
    // a corrupted magic makes the real reader refuse the container
    val broken = bmp.clone(); broken(0) = 'X'.toByte
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(broken)) === null)
    // a constant-intensity image hashes to the all-ones aHash
    // (every block >= mean) and its mean gray equals the byte value
    val flat = Multimodal.decodeMedia(7L, Array.fill(96)(0x41.toByte))
    assert(flat.mean_gray === 0x41)
    assert(flat.ahash_lo === 0xFFFFFFFFL && flat.ahash_hi === 0xFFFFFFFFL)
  }

  test("the JPEG round-trip is exact on uniform 8x8 blocks") {
    // every gray level survives encode→decode bit-exactly: a uniform
    // JPEG block has only a DC coefficient, preserved at quality 1.0
    for (g <- 0 until 256) {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Multimodal.toJpeg(Array(g, g, g, g))))
      assert(img !== null)
      assert(img.getRaster.getSample(4, 4, 0) === g, s"gray $g")
    }
    // mixed quadrants decode to their own gray (block addressing)
    val d = Multimodal.decodeJpeg(1L, "mixed quadrant payload!".getBytes)
    val expect = Multimodal.quadGrays("mixed quadrant payload!".getBytes)
    assert((d.g00, d.g01, d.g10, d.g11) ===
      ((expect(0), expect(1), expect(2), expect(3))))
    assert(d.width === Multimodal.DecW && d.height === Multimodal.DecH)
    // the container really is JPEG: SOI magic, and a corrupted stream
    // fails the real reader
    val jp = Multimodal.toJpeg(Array(10, 20, 30, 40))
    assert((jp(0) & 0xFF) === 0xFF && (jp(1) & 0xFF) === 0xD8)
    // exhaustive quadrant exactness over a deterministic payload sweep
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val payload = Array.fill(1 + rnd.nextInt(300))(rnd.nextInt(256).toByte)
      val dec = Multimodal.decodeJpeg(0L, payload)
      val exp = Multimodal.quadGrays(payload)
      assert((dec.g00, dec.g01, dec.g10, dec.g11) ===
        ((exp(0), exp(1), exp(2), exp(3))))
    }
  }

  test("the PNG decode is real and lossless: every pixel round-trips") {
    val payload = "PNG payload with some variety 0123456789".getBytes("UTF-8")
    val png = Multimodal.toPng(payload, Multimodal.newPngWriter())
    // PNG magic from the real writer
    assert((png(0) & 0xFF) === 0x89 && png(1) === 'P'.toByte &&
      png(2) === 'N'.toByte && png(3) === 'G'.toByte)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(img !== null)
    assert(img.getWidth === Multimodal.DecW)
    assert(img.getHeight === Multimodal.DecH)
    // lossless: EVERY pixel equals its source byte (p = y*16+x cyclic)
    for (y <- 0 until Multimodal.DecH; x <- 0 until Multimodal.DecW)
      assert(img.getRaster.getSample(x, y, 0) ===
        (payload((y * 16 + x) % payload.length) & 0xFF))
    // feature row matches hand arithmetic
    val d = Multimodal.decodePng(1L, payload)
    val gs = Array.tabulate(256)(p => payload(p % payload.length) & 0xFF)
    assert(d.mean_gray === gs.map(_.toLong).sum / 256)
    assert((d.g00, d.g01, d.g10, d.g11) ===
      ((gs(4 * 16 + 4), gs(4 * 16 + 12), gs(12 * 16 + 4),
        gs(12 * 16 + 12))))
  }

  test("the WAV decode is real: the JDK parses the RIFF container") {
    val payload = "audio sample bytes!".getBytes("UTF-8")
    val wav = Multimodal.toWav(payload)
    // RIFF/WAVE magic from the real writer
    assert(new String(wav.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    val d = Multimodal.decodeWav(5L, payload)
    assert(d.sample_rate === Multimodal.WavRate)
    assert(d.channels === 1 && d.bits === 8)
    assert(d.n_frames === payload.length.toLong)
    assert(d.duration_us === payload.length.toLong * 1000000L / 8000L)
    val vals = payload.map(_ & 0xFF)
    assert(d.mean_amp === vals.map(_.toLong).sum / vals.length)
    assert(d.peak === vals.max)
    // the frame cap engages for long payloads
    val long = Array.fill(5000)(7.toByte)
    assert(Multimodal.decodeWav(6L, long).n_frames ===
      Multimodal.WavMaxFrames.toLong)
    // a corrupted magic fails the real parser
    val broken = wav.clone(); broken(0) = 'X'.toByte
    intercept[Exception] {
      javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(broken))
    }
  }
}
