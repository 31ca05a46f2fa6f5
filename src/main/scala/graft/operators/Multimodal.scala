package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.awt.color.ColorSpace
import javax.imageio.ImageIO
import javax.imageio.metadata.IIOMetadata
import scala.util.control.NonFatal

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The Spark side — schema, partition sizing, batch iteration shape,
  * output contract — is real and tested, and so is the decode of every
  * format a JVM reads without an external codec: [[decodePpm]] (binary
  * PPM "P6"), [[decodeImage]] (every other image type through the JDK's
  * own `javax.imageio` readers — PNG, GIF incl. animation metadata,
  * BMP, JPEG, TIFF — chosen by MIME type, size-checked before the
  * raster is allocated), [[decodeWav]] (RIFF/WAVE PCM-16 audio) and
  * [[decodeAvi]] (uncompressed RIFF/AVI 24-bit DIB video, incl. real
  * per-frame extraction via [[extractVideoFrames]]) parse real payload
  * bytes into real dimensions/durations/frames/features; MP3, H.264
  * and MP4 yield real metadata from header walks. Sample decode that
  * needs an external codec (H.264/MP4 video, MP3 — the JDK ships none
  * of these) and any payload its decoder refuses fall back to the
  * clearly-marked [[decodeStub]]; swapping in a real codec (JNI/javacv,
  * or a Python `mapInPandas` stage on a cluster with codecs) changes
  * only that dispatch arm.
  */
object Multimodal {

  /** Canonical media-table schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType), // image | audio | video
    StructField("payload", BinaryType), // opaque encoded bytes
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("mime", StringType),
      StructField("n_bytes", LongType))))))

  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      source: String, mime: String)

  final case class DecodedMedia(
      media_id: Long, kind: String,
      width: Int, height: Int, n_frames: Int, duration_ms: Long,
      feature: Array[Float])

  implicit private val decodedEnc: Encoder[DecodedMedia] =
    Encoders.product[DecodedMedia]

  /** Parsed P6 header → (width, height, maxval, pixelDataOffset).
    * Exactly ONE whitespace byte separates header from pixel data; long
    * arithmetic so adversarial w·h cannot overflow the length check. */
  private def ppmHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (bytes == null || bytes.length < 2 ||
      bytes(0) != 'P' || bytes(1) != '6') return None
    var pos = 2
    def nextToken(): Option[Int] = {
      while (pos < bytes.length &&
        (Character.isWhitespace(bytes(pos)) || bytes(pos) == '#')) {
        if (bytes(pos) == '#') // comment runs to end of line
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        else pos += 1
      }
      val start = pos
      while (pos < bytes.length && !Character.isWhitespace(bytes(pos))) pos += 1
      if (pos == start) None
      else scala.util.Try(
        new String(bytes, start, pos - start, "US-ASCII").toInt).toOption
    }
    (nextToken(), nextToken(), nextToken()) match {
      case (Some(w), Some(h), Some(maxval))
        if w > 0 && h > 0 && maxval > 0 && maxval < 256 &&
          (bytes.length - (pos + 1)).toLong >= w.toLong * h * 3 =>
        Some((w, h, maxval, pos + 1))
      case _ => None
    }
  }

  /** Binary PPM ("P6") decode — pure JVM, no codec dependency. Header:
    * `P6 <width> <height> <maxval>` as whitespace-separated ASCII tokens
    * (with `#` comments), then raw RGB triplets. Feature (8-dim): mean
    * R/G/B, mean/min/max luminance (Rec.601 weights), RMS luminance
    * contrast, aspect ratio — all in [0,1]-ish ranges, deterministic. */
  def decodePpm(
      id: Long, bytes: Array[Byte]): Option[DecodedMedia] =
    ppmHeader(bytes).map { case (w, h, maxval, data) =>
      DecodedMedia(id, "image", w, h, 1, 0L,
        imageFeature(w, h, maxval) { (y, row) =>
          var x = 0; var o = data + y * w * 3
          while (x < w) {
            row(x) = ((bytes(o) & 0xff) << 16) |
              ((bytes(o + 1) & 0xff) << 8) | (bytes(o + 2) & 0xff)
            x += 1; o += 3
          }
        })
    }

  /** The 8-dim feature of [[decodePpm]] over a `w`×`h` raster:
    * `fillRow(y, row)` writes row y into `row` (length `w`), each pixel
    * packed as 0xRRGGBB (higher bits ignored), and each channel is
    * divided by `maxval`. Pixels accumulate in row-major order, so every
    * decoder that yields the same pixels yields bit-identical features. */
  private def imageFeature(w: Int, h: Int, maxval: Int)(
      fillRow: (Int, Array[Int]) => Unit): Array[Float] = {
    val row = new Array[Int](w)
    var sr = 0.0; var sg = 0.0; var sb = 0.0
    var sy = 0.0; var sy2 = 0.0
    var minY = Double.MaxValue; var maxY = Double.MinValue
    var y = 0
    while (y < h) {
      fillRow(y, row)
      var x = 0
      while (x < w) {
        val p = row(x)
        val r = ((p >> 16) & 0xff).toDouble / maxval
        val g = ((p >> 8) & 0xff).toDouble / maxval
        val b = (p & 0xff).toDouble / maxval
        val lum = 0.299 * r + 0.587 * g + 0.114 * b
        sr += r; sg += g; sb += b; sy += lum; sy2 += lum * lum
        if (lum < minY) minY = lum
        if (lum > maxY) maxY = lum
        x += 1
      }
      y += 1
    }
    val n = w.toDouble * h
    val meanY = sy / n
    val contrast = math.sqrt(math.max(sy2 / n - meanY * meanY, 0.0))
    Array((sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
      meanY.toFloat, minY.toFloat, maxY.toFloat, contrast.toFloat,
      (w.toDouble / h).toFloat)
  }

  /** REAL nearest-neighbor PPM resize: decode P6 → sample → re-encode
    * P6. Output pixel (x, y) samples input (x·W div ow, y·H div oh) —
    * integer arithmetic only, so the result is byte-deterministic.
    * Output dimensions follow [[resizePlan]]'s contract exactly
    * (scale = min(maxSide/w, maxSide/h, 1), half-up rounding, never
    * upscales); images already within bounds are returned unchanged. */
  def resizePpmNearest(
      bytes: Array[Byte], maxSide: Int): Option[Array[Byte]] =
    ppmHeader(bytes).map { case (w, h, maxval, data) =>
      val scale = math.min(
        math.min(maxSide.toDouble / w, maxSide.toDouble / h), 1.0)
      val ow = math.max(1, math.round(w * scale).toInt)
      val oh = math.max(1, math.round(h * scale).toInt)
      if (ow == w && oh == h) bytes
      else {
        val head = s"P6\n$ow $oh\n$maxval\n".getBytes("US-ASCII")
        val out = new Array[Byte](head.length + ow * oh * 3)
        System.arraycopy(head, 0, out, 0, head.length)
        var y = 0
        while (y < oh) {
          val sy = y * h / oh
          var x = 0
          while (x < ow) {
            val sx = x * w / ow
            val src = data + (sy * w + sx) * 3
            val dst = head.length + (y * ow + x) * 3
            out(dst) = bytes(src)
            out(dst + 1) = bytes(src + 1)
            out(dst + 2) = bytes(src + 2)
            x += 1
          }
          y += 1
        }
        out
      }
    }

  /** Batched image-resize stage over the media table (same per-partition
    * iteration shape as [[decode]]): PPM payloads are resized for REAL;
    * payloads the parser rejects pass through unchanged (a 100 TB batch
    * must not abort on one malformed blob — the quality gates catch
    * them). Non-image rows are dropped. */
  def resizeImages(media: DataFrame, maxSide: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .mapPartitions { rows =>
        rows.filter(_.kind == "image").map { r =>
          (r.media_id,
            resizePpmNearest(r.payload, maxSide).getOrElse(r.payload))
        }
      }
      .toDF("media_id", "payload")
  }

  /** One-time ImageIO setup: disable the disk-backed stream cache so
    * executor threads never touch java.io.tmpdir (decode stays pure
    * in-memory per batch). */
  private lazy val imageIoInit: Unit = ImageIO.setUseCache(false)

  /** Image decode through the JDK's own `javax.imageio` readers (part of
    * Java SE, no external dependency, works headless). The reader is
    * chosen by `mime` (`image/png`, `image/gif`, `image/bmp`,
    * `image/jpeg`, `image/tiff`, …), so bytes of one format labelled as
    * another are refused. The size the header declares is checked
    * against a 64 MPix cap BEFORE the reader allocates the raster: a
    * crafted header must not exhaust the executor's heap. As in
    * `ImageIO.read`, the reader skips metadata (a PNG's compressed text
    * chunks are never inflated) for every format but GIF, whose frame
    * delays live there.
    *
    * Same 8-dim feature contract as [[decodePpm]]: a lossless format
    * agrees bit for bit with the PPM of the same pixels; JPEG carries
    * codec quantization error (MultimodalSpec bounds it). Color pixels
    * come from `getRGB` (sRGB); a gray image's levels are read raw from
    * its raster and scaled to 8 bits, since `getRGB` would map them
    * through a gamma curve. GIF reports `n_frames` = frames in the
    * stream, `duration_ms` = Σ graphic-control delays (centiseconds ×
    * 10) when animated, `width`/`height` = the logical screen, and the
    * features and aspect ratio of the first frame's raster (transparency
    * ignored, no canvas compositing); every other format reports the
    * first image, one frame, no duration. Undecodable payloads return
    * None rather than throwing — a 100 TB batch must not abort on one
    * malformed blob. */
  def decodeImage(
      id: Long, mime: String, bytes: Array[Byte]): Option[DecodedMedia] = {
    if (mime == null || bytes == null) return None
    // skipping metadata, the PNG reader stops at the first IDAT and
    // decodes a truncated stream: the file must end with IEND
    if (mime == "image/png" && !bytes.endsWith(pngEnd)) return None
    imageIoInit
    val readers = ImageIO.getImageReadersByMIMEType(mime)
    if (!readers.hasNext) return None
    val reader = readers.next()
    val gif = mime == "image/gif"
    val in = ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      // a MIME-chosen reader skips the signature check ImageIO.read does
      if (!reader.getOriginatingProvider.canDecodeInput(in)) return None
      reader.setInput(in, !gif, !gif) // GIF seeks back to count frames
      val w = reader.getWidth(0); val h = reader.getHeight(0)
      if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
      val img = reader.read(0)
      val cm = img.getColorModel
      val grayBits =
        if (cm.getColorSpace.getType == ColorSpace.TYPE_GRAY)
          cm.getComponentSize(0)
        else 0
      if (grayBits > 16) return None // float gray: no integer levels
      val grayMax = (1 << grayBits) - 1
      val feature = imageFeature(w, h, 255) { (y, row) =>
        if (grayBits == 0) img.getRGB(0, y, w, 1, row, 0, w)
        else {
          img.getRaster.getSamples(0, y, w, 1, 0, row)
          var x = 0
          while (x < w) {
            row(x) = (row(x) * 255 + grayMax / 2) / grayMax * 0x010101
            x += 1
          }
        }
      }
      if (!gif) return Some(DecodedMedia(id, "image", w, h, 1, 0L, feature))
      val frames = reader.getNumImages(true)
      val delayCs =
        if (frames <= 1) Nil
        else (0 until frames).flatMap(i => nativeAttr(
          reader.getImageMetadata(i), "GraphicControlExtension", "delayTime"))
      val screen = reader.getStreamMetadata
      def screenSide(attr: String, frameSide: Int): Int =
        nativeAttr(screen, "LogicalScreenDescriptor", attr)
          .fold(frameSide)(_.toInt)
      Some(DecodedMedia(id, "image", screenSide("logicalScreenWidth", w),
        screenSide("logicalScreenHeight", h), frames,
        delayCs.map(_.toLong * 10).sum, feature))
    } catch { case NonFatal(_) => None }
    finally { reader.dispose(); if (in != null) in.close() }
  }

  /** A PNG's last chunk: empty IEND and its CRC. */
  private val pngEnd: Array[Byte] = Array(0, 0, 0, 0, 'I', 'E', 'N', 'D',
    0xae, 0x42, 0x60, 0x82).map(_.toByte)

  /** Attribute `attr` of the first `node` element in the native tree of
    * `meta` (null when the stream carries none), if present. */
  private def nativeAttr(
      meta: IIOMetadata, node: String, attr: String): Option[String] =
    Option(meta).flatMap(m => Option(m.getNativeMetadataFormatName).map(f =>
      m.getAsTree(f).asInstanceOf[org.w3c.dom.Element]
        .getElementsByTagName(node)))
      .filter(_.getLength > 0)
      .map(_.item(0).asInstanceOf[org.w3c.dom.Element].getAttribute(attr))
      .filter(_.nonEmpty)

  /** RIFF/WAVE PCM-16 decode — pure JVM. Walks the chunk list to `fmt `
    * and `data`; duration from sample count / rate; feature (8-dim):
    * normalized RMS of 8 equal time segments (a crude loudness envelope).
    */
  def decodeWav(
      id: Long, bytes: Array[Byte]): Option[DecodedMedia] = {
    def u16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int) = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    if (bytes == null || bytes.length < 44) return None
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
      bytes(10) == 'V' && bytes(11) == 'E')) return None
    var pos = 12
    var rate = 0; var channels = 0; var bits = 0; var fmtTag = 0
    var dataOff = -1; var dataLen = 0
    var malformed = false
    while (!malformed && pos + 8 <= bytes.length) {
      val cid = new String(bytes, pos, 4, "US-ASCII")
      val clenL = u32(pos + 4) // unsigned — keep as Long so a corrupt
      if (clenL > bytes.length) { // length can't walk pos backwards or
        malformed = true //          overflow into an infinite loop
      } else {
        val clen = clenL.toInt
        if (cid == "fmt " && pos + 8 + 16 <= bytes.length) {
          fmtTag = u16(pos + 8) // 1 = integer PCM; anything else (float,
          channels = u16(pos + 10) // ADPCM, mu-law…) is not sample-per-
          rate = u32(pos + 12).toInt // sample 16-bit data even if it
          bits = u16(pos + 22) //       declares bits == 16
          // WAVE_FORMAT_EXTENSIBLE (0xFFFE) wraps the real format in a
          // SubFormat GUID whose first two bytes are the tag — accept it
          // as PCM only when that inner tag is 1
          if (fmtTag == 0xFFFE && clen >= 40 && pos + 8 + 34 <= bytes.length
            && u16(pos + 8 + 24) == 1) fmtTag = 1
        } else if (cid == "data") {
          dataOff = pos + 8
          dataLen = math.min(clen, bytes.length - dataOff)
        }
        pos += 8 + clen + (clen & 1) // chunks are word-aligned
      }
    }
    if (fmtTag != 1 || rate <= 0 || channels <= 0 || bits != 16 ||
      dataOff < 0) return None
    val nSamples = dataLen / 2 / channels
    if (nSamples == 0) return None
    val seg = new Array[Double](8)
    val segN = new Array[Long](8)
    var s = 0
    while (s < nSamples) {
      val o = dataOff + s * 2 * channels // first channel only
      val v = ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort / 32768.0
      val b = math.min((s * 8L / nSamples).toInt, 7)
      seg(b) += v * v; segN(b) += 1
      s += 1
    }
    val feat = Array.tabulate(8)(b =>
      if (segN(b) == 0) 0f else math.sqrt(seg(b) / segN(b)).toFloat)
    Some(DecodedMedia(id, "audio", 0, 0, 1,
      nSamples.toLong * 1000L / rate, feat))
  }

  /** Parsed MP3 stream metadata (headers only): frame count, exact
    * duration, sample rate, channels, mean bitrate. */
  final case class Mp3Info(
      frames: Int, durationMs: Long, sampleRate: Int, channels: Int,
      meanBitrateKbps: Int)

  // MPEG audio frame-header tables (ISO/IEC 11172-3 §2.4.2.3 and
  // 13818-3; indices 1-14 valid, 0 = free format, 15 = forbidden)
  private val mp3BitrateKbps: Map[(Int, Int), Array[Int]] = Map(
    // (versionGroup 1=MPEG1 / 2=MPEG2&2.5, layer 1/2/3) -> kbps by index
    (1, 1) -> Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2) -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3) -> Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1) -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2) -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3) -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
  private val mp3SampleRate: Map[Int, Array[Int]] = Map(
    3 -> Array(44100, 48000, 32000), // MPEG1
    2 -> Array(22050, 24000, 16000), // MPEG2
    0 -> Array(11025, 12000, 8000)) //  MPEG2.5

  /** MP3 (MPEG-1/2/2.5 audio) metadata from a frame-header walk — the
    * codec-free half of the format: sync/version/layer/bitrate-index/
    * sample-rate-index/padding per 4-byte header give each frame's exact
    * byte length and sample count, which accumulate to frame count and
    * duration (ISO/IEC 11172-3 frame-length arithmetic). An ID3v2 prefix
    * is skipped via its syncsafe length; a trailing ID3v1 "TAG" block
    * (128 B) is tolerated. Returns None when no coherent frame sequence
    * parses (free-format bitrate, truncation, not MP3) — SAMPLE decode
    * (Huffman + IMDCT) genuinely needs a codec and stays with
    * [[decodeStub]]. */
  def mp3Info(bytes: Array[Byte]): Option[Mp3Info] = {
    if (bytes == null || bytes.length < 4) return None
    var pos = 0
    // ID3v2: "ID3" vM vR flags + 4-byte syncsafe size (of the tag body)
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
      bytes(2) == '3') {
      val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      pos = 10 + size
      if (pos >= bytes.length) return None
    }
    var frames = 0
    var durationUs = 0L
    var rate0 = 0; var chans0 = 0; var kbpsSum = 0L
    var bad = false
    while (!bad && pos + 4 <= bytes.length) {
      val b1 = bytes(pos) & 0xff; val b2 = bytes(pos + 1) & 0xff
      val b3 = bytes(pos + 2) & 0xff; val b4 = bytes(pos + 3) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) bad = true
      else {
        val version = (b2 >> 3) & 3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1=res
        val layerBits = (b2 >> 1) & 3 // 3=L1, 2=L2, 1=L3, 0=reserved
        val brIdx = b3 >> 4
        val srIdx = (b3 >> 2) & 3
        val padding = (b3 >> 1) & 1
        val mode = b4 >> 6 // 3 = single channel
        if (version == 1 || layerBits == 0 || brIdx == 0 || brIdx == 15 ||
          srIdx == 3) bad = true
        else {
          val layer = 4 - layerBits // 1/2/3
          val vGroup = if (version == 3) 1 else 2
          val kbps = mp3BitrateKbps((vGroup, layer))(brIdx)
          val rate = mp3SampleRate(version)(srIdx)
          val spf = // samples per frame
            if (layer == 1) 384
            else if (layer == 2) 1152
            else if (vGroup == 1) 1152 else 576 // L3: MPEG1 vs MPEG2/2.5
          val frameLen =
            if (layer == 1) (12 * kbps * 1000 / rate + padding) * 4
            else spf / 8 * kbps * 1000 / rate + padding
          if (frameLen <= 4 || pos + frameLen > bytes.length) bad = true
          else {
            if (frames == 0) { rate0 = rate; chans0 = if (mode == 3) 1 else 2 }
            frames += 1
            kbpsSum += kbps
            durationUs += spf.toLong * 1000000L / rate
            pos += frameLen
          }
        }
      }
    }
    val tail = bytes.length - pos
    val tailOk = tail == 0 ||
      (tail == 128 && bytes(pos) == 'T' && bytes(pos + 1) == 'A' &&
        bytes(pos + 2) == 'G')
    if (frames == 0 || !tailOk) None
    else Some(Mp3Info(frames, durationUs / 1000L, rate0, chans0,
      (kbpsSum / frames).toInt))
  }

  /** MP3 metadata as a [[DecodedMedia]] row: REAL frame count and
    * duration from [[mp3Info]]'s header walk; the 8-dim feature is
    * all-zero — explicitly "no signal", because extracting audio
    * features requires the sample decode that stays codec-bound. */
  def decodeMp3Meta(id: Long, bytes: Array[Byte]): Option[DecodedMedia] =
    mp3Info(bytes).map(i =>
      DecodedMedia(id, "audio", 0, 0, i.frames, i.durationMs,
        new Array[Float](8)))

  /** Parsed H.264 sequence-parameter-set geometry. */
  final case class H264Info(
      width: Int, height: Int, profileIdc: Int, levelIdc: Int)

  /** Exp-Golomb bit reader over an RBSP (emulation-prevention bytes
    * already stripped). Throws on exhaustion — caller catches to None. */
  private final class BitReader(bytes: Array[Byte]) {
    private var pos = 0
    def u1(): Int = {
      val b = (bytes(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1; b
    }
    def u(n: Int): Int = { var v = 0; var i = 0
      while (i < n) { v = (v << 1) | u1(); i += 1 }; v }
    def ue(): Int = { // Exp-Golomb: n leading zeros, then n+1 bits
      var zeros = 0
      while (u1() == 0) { zeros += 1; require(zeros < 32, "ue overflow") }
      (1 << zeros) - 1 + u(zeros)
    }
    def se(): Int = { val k = ue(); if ((k & 1) == 1) (k + 1) / 2 else -(k / 2) }
  }

  /** H.264 stream geometry from the SPS NAL — the codec-free header half
    * of the format (ITU-T H.264 §7.3.2.1.1): find an Annex-B start code
    * whose NAL type is 7, strip emulation-prevention 03 bytes, and
    * Exp-Golomb-parse the SPS through pic dimensions and frame cropping.
    * `width = (pic_width_in_mbs+1)·16 − crop`, height likewise scaled by
    * `frame_mbs_only_flag` and the chroma-format crop units. Returns
    * None for streams with no parseable SPS (or a scaling-matrix SPS —
    * parsing those lists adds nothing to geometry and is skipped
    * honestly). Macroblock/slice decode stays codec-bound with
    * [[decodeStub]]. */
  def h264SpsInfo(bytes: Array[Byte]): Option[H264Info] = {
    if (bytes == null || bytes.length < 5) return None
    // find Annex-B start code (00 00 01 / 00 00 00 01) + nal_unit_type 7
    var i = 0
    var spsStart = -1
    while (spsStart < 0 && i + 4 < bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 &&
        (bytes(i + 2) == 1 ||
          (bytes(i + 2) == 0 && i + 5 < bytes.length && bytes(i + 3) == 1))) {
        val hdr = i + (if (bytes(i + 2) == 1) 3 else 4)
        val nal = bytes(hdr) & 0xff
        if ((nal & 0x80) == 0 && (nal & 0x1f) == 7) spsStart = hdr + 1
        else i = hdr
      } else i += 1
    }
    if (spsStart < 0) return None
    // RBSP extraction: copy until the next start code, dropping the
    // emulation-prevention byte in every 00 00 03 run
    val rbsp = Array.newBuilder[Byte]
    var j = spsStart
    var done = false
    while (!done && j < bytes.length) {
      if (j + 2 < bytes.length && bytes(j) == 0 && bytes(j + 1) == 0 &&
        (bytes(j + 2) == 0 || bytes(j + 2) == 1)) done = true
      else if (j + 2 < bytes.length && bytes(j) == 0 && bytes(j + 1) == 0 &&
        bytes(j + 2) == 3) {
        rbsp += 0; rbsp += 0; j += 3
      } else { rbsp += bytes(j); j += 1 }
    }
    try {
      val r = new BitReader(rbsp.result())
      val profile = r.u(8)
      r.u(8) // constraint flags + reserved
      val level = r.u(8)
      r.ue() // seq_parameter_set_id
      var chromaFormat = 1 // default 4:2:0 for profiles without the branch
      if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)
        .contains(profile)) {
        chromaFormat = r.ue()
        if (chromaFormat == 3) r.u1() // separate_colour_plane_flag
        r.ue(); r.ue() // bit_depth_luma/chroma _minus8
        r.u1() // qpprime_y_zero_transform_bypass
        if (r.u1() == 1) return None // seq_scaling_matrix: skip honestly
      }
      r.ue() // log2_max_frame_num_minus4
      val pocType = r.ue()
      if (pocType == 0) r.ue()
      else if (pocType == 1) {
        r.u1(); r.se(); r.se()
        val n = r.ue()
        var k = 0; while (k < n) { r.se(); k += 1 }
      }
      r.ue() // max_num_ref_frames
      r.u1() // gaps_in_frame_num_value_allowed
      val widthMbs = r.ue() + 1
      val heightMapUnits = r.ue() + 1
      val frameMbsOnly = r.u1()
      if (frameMbsOnly == 0) r.u1() // mb_adaptive_frame_field_flag
      r.u1() // direct_8x8_inference_flag
      var cropL = 0; var cropR = 0; var cropT = 0; var cropB = 0
      if (r.u1() == 1) { cropL = r.ue(); cropR = r.ue(); cropT = r.ue(); cropB = r.ue() }
      val (subW, subH) = chromaFormat match {
        case 0 => (1, 1) // monochrome: crop units are luma samples
        case 1 => (2, 2) // 4:2:0
        case 2 => (2, 1) // 4:2:2
        case _ => (1, 1) // 4:4:4
      }
      val cropUnitX = subW
      val cropUnitY = subH * (2 - frameMbsOnly)
      val w = widthMbs * 16 - (cropL + cropR) * cropUnitX
      val h = (2 - frameMbsOnly) * heightMapUnits * 16 -
        (cropT + cropB) * cropUnitY
      if (w <= 0 || h <= 0) None else Some(H264Info(w, h, profile, level))
    } catch { case _: RuntimeException => None }
  }

  /** H.264 geometry as a [[DecodedMedia]] row: REAL width/height from
    * [[h264SpsInfo]]; frame count/duration 0 and feature all-zero —
    * those need the slice decode that stays codec-bound. */
  def decodeH264Meta(id: Long, bytes: Array[Byte]): Option[DecodedMedia] =
    h264SpsInfo(bytes).map(i =>
      DecodedMedia(id, "video", i.width, i.height, 0, 0L,
        new Array[Float](8)))

  /** Parsed MP4/ISO-BMFF container metadata. */
  final case class Mp4Info(
      durationMs: Long, width: Int, height: Int, codec: String)

  /** MP4 (ISO base media file format) metadata from a pure box walk —
    * the container is codec-free structure: `size`+4cc boxes nest, so
    * `moov/mvhd` gives timescale+duration (version 0: u32s; version 1:
    * u64s), the first video `trak/tkhd` gives 16.16-fixed width/height,
    * and `trak/mdia/minf/stbl/stsd`'s first sample entry names the codec
    * (avc1, hev1, mp4v, …). Returns None when the box tree doesn't
    * parse (not MP4, truncated). Sample data stays codec-bound —
    * compose [[h264SpsInfo]] when the avcC SPS is at hand. */
  def mp4Info(bytes: Array[Byte]): Option[Mp4Info] = {
    if (bytes == null || bytes.length < 16) return None
    def u32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def fourcc(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    // children of [from, until): list of (type, payloadStart, payloadEnd)
    def boxes(from: Int, until: Int): List[(String, Int, Int)] = {
      val out = List.newBuilder[(String, Int, Int)]
      var p = from
      var ok = true
      while (ok && p + 8 <= until) {
        val sz = u32(p)
        val (hdr, len) =
          if (sz == 1 && p + 16 <= until) (16, u64(p + 8)) else (8, sz)
        if (len < hdr || p + len > until) ok = false
        else { out += ((fourcc(p + 4), p + hdr, p + len.toInt)); p += len.toInt }
      }
      if (ok) out.result() else Nil
    }
    def child(bs: List[(String, Int, Int)], t: String): Option[(Int, Int)] =
      bs.collectFirst { case (`t`, s, e) => (s, e) }
    val top = boxes(0, bytes.length)
    if (!top.exists(_._1 == "ftyp")) return None
    for {
      (moovS, moovE) <- child(top, "moov")
      moov = boxes(moovS, moovE)
      (mvhdS, _) <- child(moov, "mvhd")
      version = bytes(mvhdS) & 0xff
      (timescale, duration) =
        if (version == 1) (u32(mvhdS + 20), u64(mvhdS + 24))
        else (u32(mvhdS + 12), u32(mvhdS + 16))
      if timescale > 0
      // ISO-BMFF all-ones mvhd duration is the 'unknown duration'
      // sentinel (fragmented files, live captures) — duration*1000/
      // timescale over it would fabricate a multi-million-second value
      // as REAL metadata. Geometry stays exact; duration reports 0,
      // matching how the other parsers never invent values.
      durationMs =
        if (duration == (if (version == 1) -1L else 0xFFFFFFFFL)) 0L
        else duration * 1000L / timescale
      // first trak carrying a non-zero tkhd geometry = the video track
      trakGeo = moov.collect { case ("trak", s, e) =>
        val trak = boxes(s, e)
        child(trak, "tkhd").map { case (ts, _) =>
          val v = bytes(ts) & 0xff
          val base = if (v == 1) ts + 88 else ts + 76
          val w = (u32(base) >> 16).toInt // 16.16 fixed
          val h = (u32(base + 4) >> 16).toInt
          val codec = (for {
            (ms, me) <- child(trak, "mdia")
            (mis, mie) <- child(boxes(ms, me), "minf")
            (sts, ste) <- child(boxes(mis, mie), "stbl")
            (sds, sde) <- child(boxes(sts, ste), "stsd")
            entry <- boxes(sds + 8, sde).headOption // ver/flags + count
          } yield entry._1).getOrElse("")
          (w, h, codec)
        }
      }.flatten.find(g => g._1 > 0 && g._2 > 0)
      (w, h, codec) <- trakGeo
    } yield Mp4Info(durationMs, w, h, codec)
  }

  /** MP4 metadata as a [[DecodedMedia]] row: REAL geometry and duration
    * from the box walk; frame count 0 and feature all-zero — sample
    * decode stays codec-bound. */
  def decodeMp4Meta(id: Long, bytes: Array[Byte]): Option[DecodedMedia] =
    mp4Info(bytes).map(i =>
      DecodedMedia(id, "video", i.width, i.height, 0, i.durationMs,
        new Array[Float](8)))

  /** Parsed uncompressed-AVI payload: frame geometry, timing, and the
    * (offset, size) of every '..db'/'..dc' chunk inside LIST movi. */
  private final case class AviInfo(
      w: Int, h: Int, usPerFrame: Long, frames: Vector[(Int, Int)]) {
    def stride: Int = ((w * 3 + 3) / 4) * 4
  }

  /** RIFF/AVI walk — pure JVM, uncompressed 24-bit DIB video only
    * ('DIB '/BI_RGB, the one video form that needs no codec). Parses
    * 'RIFF…AVI ', LIST hdrl (avih: µs/frame at +0), LIST strl (strf =
    * BITMAPINFOHEADER: dims, 24 bpp, BI_RGB), LIST movi ('00db' frame
    * chunks, bottom-up BGR rows on a 4-byte stride). Chunks are
    * word-aligned (odd sizes pad 1 byte). Returns None for anything
    * compressed — that stays with [[decodeStub]] honestly. */
  private def aviInfo(bytes: Array[Byte]): Option[AviInfo] = {
    if (bytes == null || bytes.length < 24) return None
    def fcc(o: Int) = new String(bytes, o, 4, "US-ASCII")
    def u16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int): Long = (bytes(o) & 0xffL) |
      ((bytes(o + 1) & 0xffL) << 8) | ((bytes(o + 2) & 0xffL) << 16) |
      ((bytes(o + 3) & 0xffL) << 24)
    def i32(o: Int): Int = u32(o).toInt
    if (fcc(0) != "RIFF" || fcc(8) != "AVI ") return None
    var usPerFrame = 0L
    var w = 0; var h = 0; var bpp = 0; var compression = -1L
    val frames = Vector.newBuilder[(Int, Int)]
    var ok = true
    def walk(start: Int, end: Int): Unit = {
      var p = start
      while (ok && p + 8 <= end) {
        val id4 = fcc(p); val sz = u32(p + 4).toInt; val data = p + 8
        if (sz < 0 || data + sz > bytes.length) { ok = false; return }
        id4 match {
          case "LIST" if sz >= 4 => walk(data + 4, data + sz)
          case "avih" if sz >= 40 => usPerFrame = u32(data)
          case "strf" if sz >= 40 && u32(data) == 40 =>
            w = i32(data + 4); h = i32(data + 8)
            bpp = u16(data + 14); compression = u32(data + 16)
          case c if c.endsWith("db") || c.endsWith("dc") =>
            frames += ((data, sz))
          case _ => // strh, idx1, junk — skipped
        }
        p = data + sz + (sz & 1)
      }
    }
    walk(12, math.min(bytes.length, (8L + u32(4)).toInt))
    val info = AviInfo(w, h, usPerFrame, frames.result())
    if (!ok || w <= 0 || h <= 0 || bpp != 24 || compression != 0L ||
      info.frames.isEmpty ||
      info.frames.exists(_._2 != info.stride * h)) None
    else Some(info)
  }

  /** Uncompressed-AVI video decode: real dimensions, real frame count
    * (counted '00db' chunks), real duration (µs/frame × frames), and the
    * 8-dim [[decodePpm]] feature contract computed over the FIRST frame
    * (bottom-up BGR → top-down RGB). */
  def decodeAvi(id: Long, bytes: Array[Byte]): Option[DecodedMedia] =
    aviInfo(bytes).map { info =>
      val (off, _) = info.frames.head
      val (w, h, stride) = (info.w, info.h, info.stride)
      DecodedMedia(id, "video", w, h, info.frames.length,
        info.usPerFrame * info.frames.length / 1000L,
        imageFeature(w, h, 255) { (y, row) =>
          var x = 0; var o = off + (h - 1 - y) * stride // bottom-up BGR
          while (x < w) {
            row(x) = ((bytes(o + 2) & 0xff) << 16) |
              ((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)
            x += 1; o += 3
          }
        })
    }

  /** k-th AVI frame re-encoded as P6 PPM (top-down RGB) — the video →
    * frames-as-images handoff; every downstream image op (decodePpm,
    * resizePpmNearest) applies unchanged. */
  def aviFrameToPpm(bytes: Array[Byte], frameIdx: Int): Option[Array[Byte]] =
    aviInfo(bytes).filter(i =>
      frameIdx >= 0 && frameIdx < i.frames.length).map { info =>
      val (off, _) = info.frames(frameIdx)
      val (w, h, stride) = (info.w, info.h, info.stride)
      val head = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](head.length + w * h * 3)
      System.arraycopy(head, 0, out, 0, head.length)
      var y = 0
      while (y < h) {
        val row = off + (h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val dst = head.length + (y * w + x) * 3
          out(dst) = bytes(row + x * 3 + 2)     // R
          out(dst + 1) = bytes(row + x * 3 + 1) // G
          out(dst + 2) = bytes(row + x * 3)     // B
          x += 1
        }
        y += 1
      }
      out
    }

  /** Batched frame-extraction stage: every `everyN`-th frame of each
    * decodable AVI payload becomes a (media_id, frame_idx, ppm) row —
    * the per-partition imperative fan-out a real codec stage would use
    * (decode context per partition, frames streamed out). Payloads the
    * parser rejects (codec-bound video) are passed over silently; the
    * metadata path still reports them via [[decodeStub]]. */
  def extractVideoFrames(media: DataFrame, everyN: Int): DataFrame = {
    require(everyN >= 1, "everyN must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    mediaRows(media)
      .mapPartitions { rows =>
        rows.filter(_.kind == "video").flatMap { r =>
          aviInfo(r.payload).iterator.flatMap { info =>
            (0 until info.frames.length by everyN).iterator.map { k =>
              (r.media_id, k, aviFrameToPpm(r.payload, k).get)
            }
          }
        }
      }
      .toDF("media_id", "frame_idx", "ppm")
  }

  /** ==== STUB ====
    * Deterministic fake decode for codec-bound formats (compressed
    * video, and any payload the real decoders cannot parse): "dimensions" and
    * an 8-dim "feature" are derived from the payload bytes (stable across
    * runs), standing in for a real codec. */
  private[operators] def decodeStub(
      id: Long, kind: String, payload: Array[Byte]): DecodedMedia = {
    val n = if (payload == null) 0 else payload.length
    var h = 1469598103934665603L // FNV-1a over the payload
    var i = 0
    while (i < n) { h = (h ^ (payload(i) & 0xffL)) * 1099511628211L; i += 1 }
    val w = 64 + (math.abs(h % 1024)).toInt
    val ht = 64 + (math.abs((h >> 10) % 1024)).toInt
    val frames = if (kind == "video") 1 + (math.abs(h >> 20) % 300).toInt else 1
    val feat = Array.tabulate(8)(d =>
      (((h >> (d * 8)) & 0xff).toFloat - 128f) / 128f)
    DecodedMedia(id, kind, w, ht, frames,
      if (kind == "image") 0L else math.abs(h % 600000L), feat)
  }

  /** Decode/feature-extract stage: batched per-partition iteration (the
    * Scala analogue of `mapInPandas` — one partition = one batch stream,
    * codec state initialized once per partition, not per row). Dispatch
    * by mime: PPM through [[decodePpm]], every other `image/` type
    * through [[decodeImage]] (the JDK readers), WAV and uncompressed AVI
    * decode for real, MP3/H.264/MP4 yield real metadata; a payload its
    * decoder refuses, a null or unknown mime, and codec-bound formats
    * fall back to the stub. */
  def decode(media: DataFrame): Dataset[DecodedMedia] =
    mediaRows(media)
      .mapPartitions { rows =>
        // per-partition init (real impl: open codec context here, once)
        rows.map { r =>
          val real = r.mime match {
            case "image/x-portable-pixmap" => decodePpm(r.media_id, r.payload)
            case m: String if m.startsWith("image/") =>
              decodeImage(r.media_id, m, r.payload)
            case "audio/wav" => decodeWav(r.media_id, r.payload)
            case "audio/mpeg" => decodeMp3Meta(r.media_id, r.payload)
            case "video/avi" | "video/x-msvideo" =>
              decodeAvi(r.media_id, r.payload)
            case "video/h264" => // Annex-B elementary stream (start codes)
              decodeH264Meta(r.media_id, r.payload)
            case "video/mp4" => decodeMp4Meta(r.media_id, r.payload)
            case _ => None
          }
          real.getOrElse(decodeStub(r.media_id, r.kind, r.payload))
        }
      }

  /** The media table as typed rows: id, kind, payload and the two meta
    * fields the batched stages dispatch on. */
  private def mediaRows(media: DataFrame): Dataset[MediaRow] =
    media.select(col("media_id"), col("kind"), col("payload"),
      col("meta.source"), col("meta.mime"))
      .as[MediaRow](Encoders.product[MediaRow])

  /** Frame sampling for video rows: every `everyN`-th frame index becomes
    * a row (explode of a generated index range) — the Spark-native shape
    * for per-frame fan-out. */
  def sampleFrames(decoded: Dataset[DecodedMedia], everyN: Int): DataFrame =
    decoded.toDF()
      .filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames") - 1, lit(0)),
          lit(everyN))))
      .select(col("media_id"), col("frame_idx"), col("width"), col("height"))

  /** Resize metadata transform (pure column math over decoded dims).
    * Applies only to rows with real pixel dimensions — audio decodes to
    * width = height = 0 and would divide by zero under ANSI. */
  def resizePlan(decoded: Dataset[DecodedMedia],
      maxSide: Int): DataFrame = {
    val scale = least(
      lit(maxSide.toDouble) / col("width"),
      lit(maxSide.toDouble) / col("height"), lit(1.0))
    decoded.toDF()
      .filter(col("width") > 0 && col("height") > 0)
      .select(
      col("media_id"),
      col("width"), col("height"),
      round(col("width") * scale).cast("int").as("out_width"),
      round(col("height") * scale).cast("int").as("out_height"))
  }

  /** Deterministic PPM (P6) bytes — a REAL image payload for tests. */
  def ppmBytes(w: Int, h: Int, pixel: (Int, Int) => (Int, Int, Int))
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"P6\n$w $h\n255\n".getBytes("US-ASCII"))
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pixel(x, y)
      out.write(r & 0xff); out.write(g & 0xff); out.write(b & 0xff)
    }
    out.toByteArray
  }

  private val pngSig: Array[Byte] =
    Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte)

  /** Deterministic baseline PNG bytes (8-bit RGB, non-interlaced) — a
    * REAL image payload for tests. Scanline `y` is encoded with filter
    * type `y % 5`, so a multi-row image exercises every unfilter path
    * (None/Sub/Up/Average/Paeth) of the PNG reader [[decodeImage]] uses. */
  def pngBytes(w: Int, h: Int, pixel: (Int, Int) => (Int, Int, Int))
      : Array[Byte] = {
    val img = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pixel(x, y)
      val o = (y * w + x) * 3
      img(o) = r.toByte; img(o + 1) = g.toByte; img(o + 2) = b.toByte
    }
    val rowLen = w * 3
    val raw = new Array[Byte]((rowLen + 1) * h)
    for (y <- 0 until h) {
      val ft = y % 5
      raw(y * (rowLen + 1)) = ft.toByte
      for (i <- 0 until rowLen) {
        val cur = img(y * rowLen + i) & 0xff
        val a = if (i >= 3) img(y * rowLen + i - 3) & 0xff else 0
        val b = if (y > 0) img((y - 1) * rowLen + i) & 0xff else 0
        val c = if (y > 0 && i >= 3) img((y - 1) * rowLen + i - 3) & 0xff
          else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case _ =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw(y * (rowLen + 1) + 1 + i) = ((cur - pred) & 0xff).toByte
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(pngSig)
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      val tb = ctype.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array())
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte) // depth 8, color type 2 (RGB)
      .put(0.toByte).put(0.toByte).put(0.toByte).array())
    val zipped = new java.io.ByteArrayOutputStream()
    val dos = new java.util.zip.DeflaterOutputStream(zipped)
    dos.write(raw); dos.finish()
    chunk("IDAT", zipped.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Deterministic GIF89a bytes (single frame, global color table,
    * optionally interlaced) — a REAL image payload for tests. Requires
    * ≤ 256 distinct colors in the frame. The LZW stream is written as
    * literal codes with the code width tracked in decoder-sync (an
    * entry per emitted code after the first since CLEAR, width bump at
    * 2^width, CLEAR before the table fills) — so a multi-row image
    * exercises variable-width reads and CLEAR handling in the GIF reader
    * [[decodeImage]] uses. */
  def gifBytes(w: Int, h: Int, pixel: (Int, Int) => (Int, Int, Int),
      interlaced: Boolean = false): Array[Byte] =
    gifAnimBytes(w, h, Seq(pixel), delayCs = 0, interlaced)

  /** Deterministic animated GIF89a bytes: one full-canvas frame per
    * pixel function, each preceded by a graphic-control extension with
    * `delayCs` centiseconds — a REAL multi-frame payload for tests. */
  def gifAnimBytes(w: Int, h: Int,
      framePixels: Seq[(Int, Int) => (Int, Int, Int)],
      delayCs: Int, interlaced: Boolean = false): Array[Byte] = {
    require(framePixels.nonEmpty, "at least one frame")
    def rgb(p: (Int, Int, Int)): Int =
      ((p._1 & 0xff) << 16) | ((p._2 & 0xff) << 8) | (p._3 & 0xff)
    // global palette over all frames, first-seen order
    val palette = new java.util.LinkedHashMap[Integer, Integer]()
    val frameIdx = framePixels.map { pf =>
      val idx = new Array[Int](w * h)
      for (y <- 0 until h; x <- 0 until w) {
        val c = rgb(pf(x, y))
        var i = palette.get(c)
        if (i == null) { i = palette.size(); palette.put(c, i) }
        idx(y * w + x) = i
      }
      idx
    }
    require(palette.size() <= 256,
      s"gifBytes supports <= 256 distinct colors, got ${palette.size()}")
    var gctBits = 1 // GCT holds 2^(bits+1) entries
    while ((2 << gctBits) < palette.size()) gctBits += 1
    val minCode = math.max(2, gctBits + 1)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    w16(w); w16(h)
    out.write(0x80 | gctBits) // GCT present, 2^(gctBits+1) entries
    out.write(0); out.write(0) // bg index, aspect
    val colors = new Array[Int](2 << gctBits)
    palette.forEach((c, i) => colors(i) = c)
    colors.foreach { c =>
      out.write((c >> 16) & 0xff); out.write((c >> 8) & 0xff)
      out.write(c & 0xff)
    }
    val rowOrder: Seq[Int] =
      if (!interlaced) 0 until h
      else Seq((0, 8), (4, 8), (2, 4), (1, 2))
        .flatMap { case (o, s) => o until h by s }
    frameIdx.foreach { idx =>
      if (framePixels.length > 1) { // graphic-control extension
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write(0); w16(delayCs); out.write(0); out.write(0)
      }
      out.write(0x2c) // image descriptor: full canvas
      w16(0); w16(0); w16(w); w16(h)
      out.write(if (interlaced) 0x40 else 0)
      out.write(minCode)
      // literal-code LZW, width tracked in decoder sync
      val clear = 1 << minCode; val end = clear + 1
      val lzw = new java.io.ByteArrayOutputStream()
      var acc = 0L; var accBits = 0
      var width = minCode + 1; var dictNext = end + 1; var first = true
      def emit(code: Int): Unit = {
        acc |= code.toLong << accBits; accBits += width
        while (accBits >= 8) {
          lzw.write((acc & 0xff).toInt); acc >>>= 8; accBits -= 8
        }
      }
      emit(clear)
      rowOrder.foreach { y =>
        var x = 0
        while (x < w) {
          emit(idx(y * w + x))
          if (first) first = false
          else if (dictNext < 4096) {
            dictNext += 1
            if (dictNext == (1 << width) && width < 12) width += 1
          }
          if (dictNext == 4095) { // reset before the table can fill
            emit(clear); width = minCode + 1; dictNext = end + 1
            first = true
          }
          x += 1
        }
      }
      emit(end)
      if (accBits > 0) lzw.write((acc & 0xff).toInt)
      val data = lzw.toByteArray
      var off = 0
      while (off < data.length) { // 255-byte sub-blocks
        val n = math.min(255, data.length - off)
        out.write(n); out.write(data, off, n); off += n
      }
      out.write(0) // sub-block terminator
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Deterministic 24-bit bottom-up BMP bytes — a REAL image payload.
    * `pixels(y)(x)` = (r, g, b) with row 0 at the TOP (the builder
    * writes rows bottom-up as the format requires). */
  def bmpBytes(pixels: Array[Array[(Int, Int, Int)]]): Array[Byte] = {
    val h = pixels.length
    val w = pixels.head.length
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataLen = rowSize * h
    val bb = java.nio.ByteBuffer.allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
      .putInt(0).putInt(54) // reserved, pixel-data offset
      .putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER, positive = bottom-up
      .putShort(1).putShort(24).putInt(0) // planes, bpp, BI_RGB
      .putInt(dataLen).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- (h - 1) to 0 by -1) { // bottom-up row order
      for (x <- 0 until w) {
        val (r, g, b) = pixels(y)(x)
        bb.put(b.toByte).put(g.toByte).put(r.toByte) // BGR
      }
      var pad = rowSize - w * 3
      while (pad > 0) { bb.put(0.toByte); pad -= 1 }
    }
    bb.array()
  }

  /** Deterministic uncompressed RIFF/AVI bytes (24-bit DIB 'vids'
    * stream, bottom-up BGR, 4-byte stride) — a REAL video payload for
    * tests. `pixel(frame, x, y)` gives top-down RGB. */
  def aviBytes(w: Int, h: Int, nFrames: Int, usPerFrame: Int,
      pixel: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val frameLen = stride * h
    val moviLen = 4 + nFrames * (8 + frameLen)
    val hdrlLen = 4 + (8 + 56) + (8 + (4 + (8 + 56) + (8 + 40)))
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen)
    val bb = java.nio.ByteBuffer.allocate(8 + riffLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fcc(s: String) = bb.put(s.getBytes("US-ASCII"))
    fcc("RIFF"); bb.putInt(riffLen); fcc("AVI ")
    fcc("LIST"); bb.putInt(hdrlLen); fcc("hdrl")
    fcc("avih"); bb.putInt(56)
    bb.putInt(usPerFrame).putInt(0).putInt(0).putInt(0) // µs/frame,…
      .putInt(nFrames).putInt(0).putInt(1).putInt(frameLen) // frames,…,streams
      .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    fcc("LIST"); bb.putInt(4 + (8 + 56) + (8 + 40)); fcc("strl")
    fcc("strh"); bb.putInt(56)
    fcc("vids"); fcc("DIB "); bb.putInt(0).putInt(0).putInt(0)
      .putInt(usPerFrame).putInt(1000000) // dwScale, dwRate → fps
      .putInt(0).putInt(nFrames).putInt(frameLen).putInt(-1).putInt(0)
      .putInt(0).putInt(0) // rcFrame
    fcc("strf"); bb.putInt(40)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(frameLen).putInt(0).putInt(0).putInt(0).putInt(0)
    fcc("LIST"); bb.putInt(moviLen); fcc("movi")
    for (f <- 0 until nFrames) {
      fcc("00db"); bb.putInt(frameLen)
      for (y <- (h - 1) to 0 by -1) { // bottom-up rows
        for (x <- 0 until w) {
          val (r, g, b) = pixel(f, x, y)
          bb.put(b.toByte).put(g.toByte).put(r.toByte) // BGR
        }
        var pad = stride - w * 3
        while (pad > 0) { bb.put(0.toByte); pad -= 1 }
      }
    }
    bb.array()
  }

  /** Encode pixels through the JDK's ImageIO writers ("jpg" or "tiff") —
    * a REAL compressed-image payload for fixtures, produced by the same
    * codec family [[decodeImage]] reads. */
  def imageIoBytes(format: String, w: Int, h: Int,
      pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    imageIoInit
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = pixel(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, format, out)
    require(ok, s"no ImageIO writer for format '$format'")
    out.toByteArray
  }

  /** Deterministic RIFF/WAVE PCM-16 mono bytes — a REAL audio payload. */
  def wavBytes(rate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Deterministic synthetic media table for tests: REAL PPM/BMP/PNG/
    * JPEG/TIFF images, WAV audio, and uncompressed-AVI video (all
    * decoded for real by the pipeline), plus stub-backed fake video for
    * the genuinely codec-bound compressed formats. */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val kind = Seq("image", "audio", "video")(i % 3)
      val (payload, mime) = kind match {
        case "image" if i % 18 == 9 => // REAL codec format: JPEG (ImageIO)
          val w = 4 + i % 8; val h = 3 + i % 5
          (imageIoBytes("jpg", w, h, (x, y) => ((x * 40 + i) % 256,
            (y * 40 + i) % 256, (x + y + i) % 256)),
            "image/jpeg")
        case "image" if i % 18 == 12 => // REAL codec format: TIFF (ImageIO)
          val w = 4 + i % 8; val h = 3 + i % 5
          (imageIoBytes("tiff", w, h, (x, y) => ((x * 40 + i) % 256,
            (y * 40 + i) % 256, (x + y + i) % 256)),
            "image/tiff")
        case "image" if i % 9 == 3 => // alternate REAL format: 24-bit BMP
          val w = 4 + i % 8; val h = 3 + i % 5
          (bmpBytes(Array.tabulate(h, w)((y, x) =>
            ((x * 40 + i) % 256, (y * 40 + i) % 256, (x + y + i) % 256))),
            "image/bmp")
        case "image" if i % 9 == 6 => // alternate REAL format: PNG (RGB)
          val w = 4 + i % 8; val h = 3 + i % 5
          (pngBytes(w, h, (x, y) => ((x * 40 + i) % 256,
            (y * 40 + i) % 256, (x + y + i) % 256)),
            "image/png")
        case "image" =>
          val w = 4 + i % 8; val h = 3 + i % 5
          (ppmBytes(w, h, (x, y) => ((x * 40 + i) % 256,
            (y * 40 + i) % 256, (x + y + i) % 256)),
            "image/x-portable-pixmap")
        case "audio" =>
          val rate = 8000
          val samples = Array.tabulate[Short](800 + i * 10)(s =>
            (math.sin(s * 0.05 * (1 + i % 3)) * 8192).toShort)
          (wavBytes(rate, samples), "audio/wav")
        case "video" if i % 6 == 2 => // REAL format: uncompressed AVI
          val w = 4 + i % 6; val h = 3 + i % 4
          (aviBytes(w, h, nFrames = 2 + i % 4, usPerFrame = 40000,
            (f, x, y) => ((x * 30 + f * 10 + i) % 256,
              (y * 30 + f * 10 + i) % 256, (x + y + f + i) % 256)),
            "video/avi")
        case _ => // codec-bound video stays with the honest stub
          (Array.tabulate[Byte](32 + i % 64)(j => ((i * 31 + j) % 251).toByte),
            "video/fake")
      }
      MediaRow(i.toLong, kind, payload, s"src${i % 5}", mime)
    }.toDF()
      .select(col("media_id"), col("kind"), col("payload"),
        struct(col("source"), col("mime"),
          length(col("payload")).cast("long").as("n_bytes")).as("meta"))
  }
}
