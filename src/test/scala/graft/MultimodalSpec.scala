package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkTestBase {

  private lazy val media = Multimodal.syntheticMedia(spark, 30).cache()

  test("media table matches the canonical schema shape") {
    assert(media.schema("payload").dataType.typeName == "binary")
    assert(media.schema("meta").dataType.typeName == "struct")
    assert(media.count() == 30)
  }

  test("decode stage: batched per-partition, deterministic output") {
    val decoded = Multimodal.decode(media)
    val rows = decoded.collect()
    assert(rows.length == 30)
    assert(rows.forall(_.feature.length == 8))
    // real PPM decode: dimensions come from the actual header bytes
    assert(rows.filter(_.kind == "image").forall(r =>
      r.width == 4 + (r.media_id % 8) && r.height == 3 + (r.media_id % 5)))
    // deterministic: re-running the stage yields identical features
    val again = Multimodal.decode(media).collect()
    assert(rows.map(r => r.media_id -> r.feature.toSeq).toMap ==
      again.map(r => r.media_id -> r.feature.toSeq).toMap)
    // images have no duration; videos have frames
    assert(rows.filter(_.kind == "image").forall(_.duration_ms == 0))
    assert(rows.filter(_.kind == "video").forall(_.n_frames >= 1))
  }

  test("PPM decode extracts exact dimensions and channel means") {
    // 2x1 image: pure red + pure blue -> meanR = meanB = 0.5, meanG = 0
    val px = Multimodal.ppmBytes(2, 1,
      (x, _) => if (x == 0) (255, 0, 0) else (0, 0, 255))
    val d = Multimodal.decodePpm(7L, px).get
    assert(d.width == 2 && d.height == 1 && d.kind == "image")
    assert(math.abs(d.feature(0) - 0.5f) < 1e-6)
    assert(d.feature(1) == 0f)
    assert(math.abs(d.feature(2) - 0.5f) < 1e-6)
    assert(d.feature(7) == 2.0f) // aspect ratio w/h
    // comments in the header are skipped per the spec
    val withComment = ("P6\n# a comment\n2 1\n255\n").getBytes("US-ASCII") ++
      px.drop(px.indexOfSlice("255\n".getBytes("US-ASCII")) + 4)
    assert(Multimodal.decodePpm(8L, withComment).get.width == 2)
    // truncated pixel data is rejected, not mis-decoded
    assert(Multimodal.decodePpm(9L, px.dropRight(1)).isEmpty)
  }

  test("WAV decode recovers exact duration and a loudness envelope") {
    // 8000 samples at 8 kHz = exactly 1000 ms; first half loud, second silent
    val samples = Array.tabulate[Short](8000)(s =>
      if (s < 4000) (math.sin(s * 0.1) * 16384).toShort else 0)
    val d = Multimodal.decodeWav(3L, Multimodal.wavBytes(8000, samples)).get
    assert(d.kind == "audio" && d.duration_ms == 1000L)
    assert(d.feature.take(4).forall(_ > 0.1f)) // loud half
    assert(d.feature.drop(4).forall(_ == 0f)) // silent half
    // non-RIFF bytes fall through to None (stub handles them upstream)
    assert(Multimodal.decodeWav(4L, Array[Byte](1, 2, 3)).isEmpty)
    // corrupt chunk length (0xFFFFFFFF) must terminate, not loop/throw
    val corrupt = Multimodal.wavBytes(8000, Array.fill[Short](100)(5))
    corrupt(16) = -1; corrupt(17) = -1; corrupt(18) = -1; corrupt(19) = -1
    assert(Multimodal.decodeWav(5L, corrupt).isEmpty)
    // non-PCM fmt tag (3 = IEEE float) declaring 16 bits is NOT parseable
    // as PCM-16 — must refuse rather than emit garbage features
    val floatFmt = Multimodal.wavBytes(8000, Array.fill[Short](100)(5))
    floatFmt(20) = 3
    assert(Multimodal.decodeWav(7L, floatFmt).isEmpty)
    // WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping integer PCM (SubFormat
    // GUID tag 1) IS valid PCM-16 and must decode
    val extSamples = Array.fill[Short](8000)(1000)
    val dataLen = extSamples.length * 2
    val ext = java.nio.ByteBuffer.allocate(12 + 8 + 40 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ext.put("RIFF".getBytes("US-ASCII")).putInt(4 + 48 + 8 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(40)
      .putShort(0xFFFE.toShort).putShort(1) // extensible, mono
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
      .putShort(22).putShort(16).putInt(0) // cbSize, validBits, mask
      .putShort(1).putShort(0) // SubFormat GUID: first 2 bytes = PCM tag
      .putInt(0).putInt(0).putInt(0) // rest of the GUID
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    extSamples.foreach(ext.putShort)
    val extDecoded = Multimodal.decodeWav(11L, ext.array())
    assert(extDecoded.nonEmpty && extDecoded.get.duration_ms == 1000L)
  }

  test("BMP decode recovers exact dims and channel means (padded rows)") {
    // 3x2: top row pure red, bottom row pure blue — 3-px rows force
    // 9 -> 12 byte row padding, exercising the stride math
    val px = Array(
      Array((255, 0, 0), (255, 0, 0), (255, 0, 0)),
      Array((0, 0, 255), (0, 0, 255), (0, 0, 255)))
    val d = Multimodal.decodeImage(8L, "image/bmp", Multimodal.bmpBytes(px)).get
    assert(d.width == 3 && d.height == 2 && d.kind == "image")
    assert(math.abs(d.feature(0) - 0.5f) < 1e-6) // mean R
    assert(math.abs(d.feature(1)) < 1e-6) // mean G
    assert(math.abs(d.feature(2) - 0.5f) < 1e-6) // mean B
    assert(math.abs(d.feature(7) - 1.5f) < 1e-6) // aspect 3/2
    // corrupt: declared dims exceeding the payload must refuse
    val corrupt = Multimodal.bmpBytes(px)
    corrupt(18) = 100 // width 100 with 2-row payload
    assert(Multimodal.decodeImage(9L, "image/bmp", corrupt).isEmpty)
    // corrupt: 8 bpp declared, but no palette and too few pixel bytes
    val pal = Multimodal.bmpBytes(px)
    pal(28) = 8
    assert(Multimodal.decodeImage(10L, "image/bmp", pal).isEmpty)
    // adversarial PPM dims that overflow Int in w*h*3 are rejected
    val bomb = "P6\n50000 50000\n255\n".getBytes("US-ASCII") ++
      Array.fill[Byte](300)(7)
    assert(Multimodal.decodePpm(6L, bomb).isEmpty)
  }

  test("PNG decode is bit-identical to PPM decode of the same pixels") {
    // 7 rows > 5 filter types: pngBytes encodes row y with filter y % 5,
    // so this image round-trips every unfilter path (incl. Paeth)
    val pix = (x: Int, y: Int) =>
      ((x * 37 + y * 11) % 256, (y * 53 + x) % 256, (x * y + 7) % 256)
    val png = Multimodal.decodeImage(1L, "image/png",
      Multimodal.pngBytes(6, 7, pix)).get
    val ppm = Multimodal.decodePpm(1L, Multimodal.ppmBytes(6, 7, pix)).get
    assert(png.width == 6 && png.height == 7)
    assert(png.feature.toSeq == ppm.feature.toSeq) // exact, not approx
    assert(png.kind == "image" && png.duration_ms == 0L)
    // single-row image (only filter 0) and single-pixel edge cases
    val one = Multimodal.decodeImage(2L, "image/png",
      Multimodal.pngBytes(1, 1, pix)).get
    assert(one.width == 1 && one.height == 1 && one.feature(7) == 1.0f)
  }

  test("PNG decode refuses corrupt and unsupported payloads") {
    val good = Multimodal.pngBytes(5, 4, (x, y) => (x * 50, y * 60, 30))
    // truncated IDAT (drop the tail incl. IEND): inflate can't fill
    assert(Multimodal.decodeImage(1L, "image/png", good.dropRight(20)).isEmpty)
    // bad signature
    val badSig = good.clone(); badSig(0) = 'X'.toByte
    assert(Multimodal.decodeImage(2L, "image/png", badSig).isEmpty)
    // corrupt: IHDR declares 16-bit depth, IDAT holds 8-bit rows
    val deep = good.clone(); deep(8 + 8 + 8) = 16.toByte
    assert(Multimodal.decodeImage(3L, "image/png", deep).isEmpty)
    // corrupt: IHDR declares Adam7 interlace, IDAT holds plain rows
    val inter = good.clone(); inter(8 + 8 + 12) = 1.toByte
    assert(Multimodal.decodeImage(4L, "image/png", inter).isEmpty)
    // corrupt chunk length must terminate, not loop or throw
    val corrupt = good.clone()
    corrupt(8) = -1; corrupt(9) = -1; corrupt(10) = -1; corrupt(11) = -1
    assert(Multimodal.decodeImage(5L, "image/png", corrupt).isEmpty)
    // garbage bytes
    assert(Multimodal.decodeImage(6L, "image/png",
      Array[Byte](1, 2, 3)).isEmpty)
  }

  test("PNG payloads decode for real through the batched pipeline") {
    // syntheticMedia plants PNG at media_id % 9 == 6 — those rows must
    // come back with REAL header dimensions, not stub dimensions
    val decoded = Multimodal.decode(media).collect()
    val pngRows = decoded.filter(r => r.kind == "image" && r.media_id % 9 == 6)
    assert(pngRows.nonEmpty)
    assert(pngRows.forall(r =>
      r.width == 4 + (r.media_id % 8) && r.height == 3 + (r.media_id % 5)))
    // and the features equal a direct single-payload decode
    val row6 = media.filter(col("media_id") === 6)
      .select("payload").head().getAs[Array[Byte]](0)
    val direct = Multimodal.decodeImage(6L, "image/png", row6).get
    val staged = pngRows.find(_.media_id == 6L).get
    assert(direct.feature.toSeq == staged.feature.toSeq)
  }

  test("palette PNG decode is bit-identical to PPM decode of the same " +
    "pixels") {
    val pix = (x: Int, y: Int) => ((x * 60) % 256, (y * 90) % 256, 40)
    val img = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 3; x <- 0 until 5) {
      val (r, g, b) = pix(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    // TYPE_BYTE_INDEXED maps each color to its nearest palette entry:
    // the reference is the PPM of the pixels the palette really holds
    val held = (x: Int, y: Int) => {
      val p = img.getRGB(x, y)
      ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out))
    val png = Multimodal.decodeImage(1L, "image/png", out.toByteArray).get
    val ppm = Multimodal.decodePpm(1L, Multimodal.ppmBytes(5, 3, held)).get
    assert(png.width == 5 && png.height == 3)
    assert(png.feature.toSeq == ppm.feature.toSeq) // exact, not approx
  }

  test("gray images decode to the PPM of the same levels") {
    // a gray image's levels are read raw: getRGB would gamma-map them
    val level = (x: Int, y: Int) => (x * 28 + y * 5) % 256
    val ppm = Multimodal.decodePpm(1L, Multimodal.ppmBytes(9, 6, (x, y) => {
      val v = level(x, y); (v, v, v)
    })).get
    def encode(imgType: Int, scale: Int, format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9, 6, imgType)
      for (y <- 0 until 6; x <- 0 until 9)
        img.getRaster.setSample(x, y, 0, level(x, y) * scale)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, out), format)
      out.toByteArray
    }
    import java.awt.image.BufferedImage.{TYPE_BYTE_GRAY, TYPE_USHORT_GRAY}
    for ((imgType, scale, format, mime) <- Seq(
      (TYPE_BYTE_GRAY, 1, "png", "image/png"),
      (TYPE_USHORT_GRAY, 257, "png", "image/png"), // 16-bit levels
      (TYPE_BYTE_GRAY, 1, "tiff", "image/tiff"),
      (TYPE_BYTE_GRAY, 1, "bmp", "image/bmp"))) {
      val d = Multimodal.decodeImage(1L, mime, encode(imgType, scale, format))
      assert(d.map(_.feature.toSeq).contains(ppm.feature.toSeq),
        s"$format x$scale") // exact, not approx
    }
    // JPEG: lossy, so means within codec tolerance of the same levels
    val jpg = Multimodal.decodeImage(1L, "image/jpeg",
      encode(TYPE_BYTE_GRAY, 1, "jpg")).get
    assert(jpg.width == 9 && jpg.height == 6)
    for (d <- 0 until 4)
      assert(math.abs(jpg.feature(d) - ppm.feature(d)) < 0.05,
        s"dim $d: ${jpg.feature(d)} vs ${ppm.feature(d)}")
  }

  test("multi-page TIFF reports its first page as one frame") {
    val pages = Seq.tabulate(3)(p => {
      val img = new java.awt.image.BufferedImage(6 + p, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 6 + p)
        img.setRGB(x, y, (x * 40 << 16) | (y * 60 << 8) | p * 50)
      new javax.imageio.IIOImage(img, null, null)
    })
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff")
      .next()
    val out = new java.io.ByteArrayOutputStream()
    val stream = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(stream)
    writer.prepareWriteSequence(null)
    pages.foreach(writer.writeToSequence(_, null))
    writer.endWriteSequence(); stream.close(); writer.dispose()
    val d = Multimodal.decodeImage(1L, "image/tiff", out.toByteArray).get
    val first = Multimodal.decodeImage(1L, "image/tiff",
      Multimodal.imageIoBytes("tiff", 6, 4, (x, y) => (x * 40, y * 60, 0)))
      .get
    assert(d.width == 6 && d.height == 4)
    assert(d.n_frames == 1 && d.duration_ms == 0L)
    assert(d.feature.toSeq == first.feature.toSeq)
  }

  test("TIFF decode is bit-identical to PPM decode of the same pixels") {
    // TIFF is lossless, so the ImageIO path must reproduce the exact
    // 8-dim features of the raw-pixel PPM decode
    val pix = (x: Int, y: Int) =>
      ((x * 31 + y * 7) % 256, (y * 19 + x) % 256, (x * y + 3) % 256)
    val tiff = Multimodal.decodeImage(1L, "image/tiff",
      Multimodal.imageIoBytes("tiff", 11, 6, pix)).get
    val ppm = Multimodal.decodePpm(1L, Multimodal.ppmBytes(11, 6, pix)).get
    assert(tiff.width == 11 && tiff.height == 6 && tiff.kind == "image")
    assert(tiff.feature.toSeq == ppm.feature.toSeq) // exact, not approx
  }

  test("JPEG decode: exact dims, bounded codec error on channel means") {
    // uniform color: JPEG quantization is near-lossless on a flat block
    val flat = Multimodal.decodeImage(2L, "image/jpeg",
      Multimodal.imageIoBytes("jpg", 16, 16, (_, _) => (128, 64, 32))).get
    assert(flat.width == 16 && flat.height == 16 && flat.n_frames == 1)
    assert(math.abs(flat.feature(0) - 128f / 255) < 0.02)
    assert(math.abs(flat.feature(1) - 64f / 255) < 0.02)
    assert(math.abs(flat.feature(2) - 32f / 255) < 0.02)
    assert(flat.feature(7) == 1.0f) // aspect ratio survives exactly
    // smooth gradient: means stay within codec tolerance of the source
    val pix = (x: Int, y: Int) => (x * 8, y * 8, (x + y) * 4)
    val jpg = Multimodal.decodeImage(3L, "image/jpeg",
      Multimodal.imageIoBytes("jpg", 32, 32, pix)).get
    val ref = Multimodal.decodePpm(3L, Multimodal.ppmBytes(32, 32, pix)).get
    for (d <- 0 until 4) // mean R/G/B + mean luminance
      assert(math.abs(jpg.feature(d) - ref.feature(d)) < 0.05,
        s"dim $d: ${jpg.feature(d)} vs ${ref.feature(d)}")
    // garbage and truncated payloads refuse rather than throw
    assert(Multimodal.decodeImage(4L, "image/jpeg",
      Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeImage(5L, "image/jpeg",
      Multimodal.imageIoBytes("jpg", 8, 8, (_, _) => (9, 9, 9)).take(12))
      .isEmpty)
    assert(Multimodal.decodeImage(6L, "image/jpeg", null).isEmpty)
  }

  /** One image row through the batched [[Multimodal.decode]] stage. */
  private def decodeOne(payload: Array[Byte], mime: String)
      : Multimodal.DecodedMedia = {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "image", payload, ("t", mime, payload.length.toLong)))
      .toDF("media_id", "kind", "payload", "meta")
      .withColumn("meta", col("meta").cast(
        "struct<source:string,mime:string,n_bytes:bigint>"))
    val out = Multimodal.decode(df).collect()
    assert(out.length == 1)
    out.head
  }

  /** A decoded row's fields, feature included, comparable with `==`. */
  private def fields(d: Multimodal.DecodedMedia): Seq[Any] =
    d.productIterator.map {
      case a: Array[Float] => a.toSeq
      case v => v
    }.toSeq

  test("JPEG bytes labelled image/png get a stub row") {
    val jpeg = Multimodal.imageIoBytes("jpg", 8, 8, (x, y) => (x, y, 9))
    assert(decodeOne(jpeg, "image/jpeg").width == 8) // real
    val mislabelled = decodeOne(jpeg, "image/png")
    assert(fields(mislabelled) ==
      fields(decodeOne(jpeg, "application/x-unknown"))) // stub
    assert(mislabelled.width != 8)
  }

  /** Allocation on the calling thread across `f`. */
  private def allocated[T](f: => T): (T, Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    val out = f
    (out, mx.getCurrentThreadAllocatedBytes - before)
  }

  test("image bombs: a 20000x20000 header is refused before allocation") {
    // JPEG: patch the SOF0 frame header (FF C0, len, precision, h, w)
    val jpegBomb = Multimodal.imageIoBytes("jpg", 8, 8, (x, y) => (x, y, 9))
    val sof = jpegBomb.indices.find(i => (jpegBomb(i) & 0xff) == 0xff &&
      (jpegBomb(i + 1) & 0xff) == 0xc0).get
    java.nio.ByteBuffer.wrap(jpegBomb, sof + 5, 4)
      .putShort(20000.toShort).putShort(20000.toShort)
    // PNG: patch IHDR's width and height and re-seal its CRC
    val pngBomb = Multimodal.pngBytes(8, 8, (x, y) => (x, y, 9))
    java.nio.ByteBuffer.wrap(pngBomb, 16, 8).putInt(20000).putInt(20000)
    val crc = new java.util.zip.CRC32()
    crc.update(pngBomb, 12, 4 + 13) // chunk type + IHDR data
    java.nio.ByteBuffer.wrap(pngBomb, 12 + 4 + 13, 4)
      .putInt(crc.getValue.toInt)
    for ((mime, bomb) <- Seq("image/jpeg" -> jpegBomb,
      "image/png" -> pngBomb)) {
      // warm the reader classes outside the count
      Multimodal.decodeImage(1L, mime, bomb)
      val (got, bytes) = allocated(Multimodal.decodeImage(1L, mime, bomb))
      assert(got.isEmpty, mime)
      assert(bytes < 64L * 1024 * 1024, s"$mime allocated $bytes bytes")
    }
  }

  test("image bombs: deflate-bomb text chunks are never inflated") {
    // text chunks of deflated zeros after IHDR of a small valid PNG (RGB
    // and palette): one 64 MiB zTXt, and 400 zTXt / iTXt chunks of
    // 256 KiB each (the JDK caps ONE chunk's text at 256 K chars, not
    // their number). The image decodes, the text is skipped
    val pix = (x: Int, y: Int) => (x * 60, y * 80, 7)
    val rgb = Multimodal.pngBytes(4, 3, pix)
    val img = new java.awt.image.BufferedImage(4, 3,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 3; x <- 0 until 4) {
      val (r, g, b) = pix(x, y); img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val palOut = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", palOut))
    def zeros(mib: Int, kib: Int): Array[Byte] = {
      val zipped = new java.io.ByteArrayOutputStream()
      val dos = new java.util.zip.DeflaterOutputStream(zipped,
        new java.util.zip.Deflater(9))
      for (_ <- 0 until mib) dos.write(new Array[Byte](1 << 20))
      dos.write(new Array[Byte](kib << 10)); dos.finish()
      zipped.toByteArray
    }
    def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
      val tb = ctype.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length).putInt(data.length)
        .put(tb).put(data).putInt(crc.getValue.toInt).array()
    }
    val key = "Comment".getBytes("US-ASCII")
    // keyword NUL, then each type's compression header
    def zTXt(z: Array[Byte]) = chunk("zTXt", key ++ Array[Byte](0, 0) ++ z)
    def iTXt(z: Array[Byte]) =
      chunk("iTXt", key ++ Array[Byte](0, 1, 0, 0, 0) ++ z)
    val capped = zeros(0, 256)
    val text = Seq(zTXt(zeros(64, 0)),
      Array.fill(400)(zTXt(capped)).flatten,
      Array.fill(400)(iTXt(capped)).flatten)
    for (png <- Seq(rgb, palOut.toByteArray); t <- text) {
      val bomb = png.take(33) ++ t ++ png.drop(33) // after IHDR
      val plain = Multimodal.decodeImage(1L, "image/png", png).get
      val (got, bytes) =
        allocated(Multimodal.decodeImage(1L, "image/png", bomb))
      assert(got.map(_.feature.toSeq).contains(plain.feature.toSeq))
      assert(bytes < 64L * 1024 * 1024, s"allocated $bytes bytes")
    }
  }

  test("JPEG/TIFF payloads decode for real through the batched pipeline") {
    // syntheticMedia plants JPEG at media_id % 18 == 9 and TIFF at
    // media_id % 18 == 12 — those rows must come back with REAL header
    // dimensions (exact even for the lossy codec), not stub dimensions
    val decoded = Multimodal.decode(media).collect()
    val jpegRows = decoded.filter(r => r.kind == "image" && r.media_id % 18 == 9)
    val tiffRows = decoded.filter(r => r.kind == "image" && r.media_id % 18 == 12)
    assert(jpegRows.nonEmpty && tiffRows.nonEmpty)
    assert((jpegRows ++ tiffRows).forall(r =>
      r.width == 4 + (r.media_id % 8) && r.height == 3 + (r.media_id % 5)))
    // TIFF row features equal the PPM decode of the same generator pixels
    val t = tiffRows.find(_.media_id == 12L).get
    val i = 12
    val ppm = Multimodal.decodePpm(12L, Multimodal.ppmBytes(
      4 + i % 8, 3 + i % 5, (x, y) => ((x * 40 + i) % 256,
        (y * 40 + i) % 256, (x + y + i) % 256))).get
    assert(t.feature.toSeq == ppm.feature.toSeq)
  }

  test("GIF decode is bit-identical to PPM decode of the same pixels") {
    // 20x17 with a 200-color palette: codes outgrow the initial width,
    // so the variable-width LZW read path is exercised for real
    val pix = (x: Int, y: Int) => {
      val v = (x * 37 + y * 53) % 200
      (v, (v * 3) % 200, (v * 7) % 200)
    }
    val gif = Multimodal.decodeImage(1L, "image/gif",
      Multimodal.gifBytes(20, 17, pix)).get
    val ppm = Multimodal.decodePpm(1L, Multimodal.ppmBytes(20, 17, pix)).get
    assert(gif.width == 20 && gif.height == 17 && gif.n_frames == 1)
    assert(gif.feature.toSeq == ppm.feature.toSeq) // exact, not approx
    assert(gif.kind == "image" && gif.duration_ms == 0L)
    // 2-color image uses the minimum code size path
    val bw = (x: Int, y: Int) =>
      if ((x + y) % 2 == 0) (0, 0, 0) else (255, 255, 255)
    val g2 = Multimodal.decodeImage(2L, "image/gif",
      Multimodal.gifBytes(9, 5, bw)).get
    val p2 = Multimodal.decodePpm(2L, Multimodal.ppmBytes(9, 5, bw)).get
    assert(g2.feature.toSeq == p2.feature.toSeq)
    // single pixel
    val one = Multimodal.decodeImage(3L, "image/gif",
      Multimodal.gifBytes(1, 1, (_, _) => (10, 20, 30))).get
    assert(one.width == 1 && one.height == 1 && one.feature(7) == 1.0f)
  }

  test("GIF interlaced decode equals the non-interlaced decode") {
    val pix = (x: Int, y: Int) => ((x * 11 + y * 29) % 97, y % 97, x % 97)
    // 13 rows: all four interlace passes are non-empty
    val plain = Multimodal.decodeImage(1L, "image/gif",
      Multimodal.gifBytes(8, 13, pix)).get
    val inter = Multimodal.decodeImage(1L, "image/gif",
      Multimodal.gifBytes(8, 13, pix, interlaced = true)).get
    assert(inter.feature.toSeq == plain.feature.toSeq)
    assert(inter.width == plain.width && inter.height == plain.height)
  }

  test("GIF animation: frame count and summed delay metadata") {
    val frames = Seq.tabulate(4)(f =>
      (x: Int, y: Int) => ((x + f * 40) % 256, y % 256, f * 60))
    val d = Multimodal.decodeImage(9L, "image/gif",
      Multimodal.gifAnimBytes(6, 4, frames, delayCs = 12)).get
    assert(d.n_frames == 4)
    assert(d.duration_ms == 4 * 120L) // 12 cs = 120 ms per frame
    // feature comes from the FIRST frame's raster
    val first = Multimodal.decodeImage(9L, "image/gif",
      Multimodal.gifBytes(6, 4, frames.head)).get
    assert(d.feature.toSeq == first.feature.toSeq)
  }

  test("GIF reports its logical screen, features from the first frame") {
    // logical screen 12x9 (bytes 6..9, little-endian) around a 7x6 frame
    val pix = (x: Int, y: Int) => (x * 30, y * 40, 50)
    val gif = Multimodal.gifBytes(7, 6, pix)
    gif(6) = 12; gif(7) = 0; gif(8) = 9; gif(9) = 0
    val d = Multimodal.decodeImage(1L, "image/gif", gif).get
    assert(d.width == 12 && d.height == 9)
    val ppm = Multimodal.decodePpm(1L, Multimodal.ppmBytes(7, 6, pix)).get
    assert(d.feature.toSeq == ppm.feature.toSeq) // aspect 7/6 included
  }

  test("GIF decode refuses corrupt payloads") {
    val good = Multimodal.gifBytes(7, 6, (x, y) => (x * 30, y * 40, 50))
    assert(Multimodal.decodeImage(1L, "image/gif", good).nonEmpty)
    // truncated LZW data / missing trailer
    assert(Multimodal.decodeImage(2L, "image/gif", good.dropRight(8)).isEmpty)
    // bad signature
    val bad = good.clone(); bad(0) = 'X'.toByte
    assert(Multimodal.decodeImage(3L, "image/gif", bad).isEmpty)
    // garbage and empty
    assert(Multimodal.decodeImage(4L, "image/gif",
      Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeImage(5L, "image/gif",
      Array.emptyByteArray).isEmpty)
    // an unknown block type terminates cleanly (no throw, no loop);
    // 0x2c never occurs in this fixture's palette bytes, so the first
    // match after the screen descriptor IS the image-descriptor byte
    val ip = good.indexWhere(_ == 0x2c.toByte, 13)
    val unk = good.clone(); unk(ip) = 0x7f.toByte
    assert(Multimodal.decodeImage(6L, "image/gif", unk).isEmpty)
  }

  test("GIF payloads decode for real through the batched pipeline") {
    val payload = Multimodal.gifBytes(12, 9,
      (x, y) => ((x * 21) % 256, (y * 17) % 256, 99))
    val out = decodeOne(payload, "image/gif")
    assert(out.width == 12 && out.height == 9) // real, not stub
  }

  test("frame sampling fans out only video rows") {
    val decoded = Multimodal.decode(media)
    val frames = Multimodal.sampleFrames(decoded, everyN = 10)
    assert(frames.select("media_id").distinct().count() ==
      decoded.filter(col("kind") === "video").count())
    // frame indices step by everyN
    val idx = frames.filter(col("media_id") === 2)
      .select("frame_idx").collect().map(_.getInt(0)).sorted
    assert(idx.zipWithIndex.forall { case (v, i) => v == i * 10 })
  }

  test("PPM nearest-neighbor resize: exact sampled pixels, real re-encode") {
    // 4x4 quadrant image -> 2x2: output (x,y) samples input (2x, 2y),
    // i.e. the top-left pixel of each quadrant
    val colors = Map((0, 0) -> (255, 0, 0), (1, 0) -> (0, 255, 0),
      (0, 1) -> (0, 0, 255), (1, 1) -> (255, 255, 0))
    val px = Multimodal.ppmBytes(4, 4, (x, y) => colors((x / 2, y / 2)))
    val out = Multimodal.resizePpmNearest(px, maxSide = 2).get
    val d = Multimodal.decodePpm(1L, out).get
    assert(d.width == 2 && d.height == 2)
    // decode means: each quadrant contributes exactly one pixel
    assert(math.abs(d.feature(0) - 0.5f) < 1e-6) // mean R: (255+0+0+255)/4
    assert(math.abs(d.feature(1) - 0.5f) < 1e-6) // mean G
    assert(math.abs(d.feature(2) - 0.25f) < 1e-6) // mean B
    // raw bytes: first output pixel is the red quadrant sample
    val data = out.indexOfSlice("255\n".getBytes("US-ASCII")) + 4
    assert((out(data) & 0xff) == 255 && (out(data + 1) & 0xff) == 0)
    // an image already within bounds passes through untouched
    assert(Multimodal.resizePpmNearest(px, maxSide = 16).get eq px)
    // garbage is None at this level (the batched stage passes it through)
    assert(Multimodal.resizePpmNearest(Array[Byte](1, 2, 3), 2).isEmpty)
  }

  test("batched resize stage: images only, malformed payloads survive") {
    val media = Multimodal.syntheticMedia(spark, 12)
    val resized = Multimodal.resizeImages(media, maxSide = 8)
    val kinds = media.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resized.count() == kinds("image")) // non-images dropped
    // every PPM payload decodes after resize with both sides <= 8
    val dims = resized.collect().flatMap(r =>
      Multimodal.decodePpm(r.getLong(0), r.getAs[Array[Byte]](1)))
    assert(dims.nonEmpty)
    assert(dims.forall(d => d.width <= 8 && d.height <= 8))
  }

  test("resize plan preserves aspect ratio and caps the long side") {
    val plan = Multimodal.resizePlan(Multimodal.decode(media), maxSide = 256)
    plan.collect().foreach { r =>
      val (w, h) = (r.getInt(1), r.getInt(2))
      val (ow, oh) = (r.getInt(3), r.getInt(4))
      assert(ow <= 256 && oh <= 256 || (w <= 256 && h <= 256))
      assert(ow <= w && oh <= h) // never upscale
    }
  }

  private val aviPix = (f: Int, x: Int, y: Int) =>
    ((x * 37 + f * 9) % 256, (y * 53 + f) % 256, (x * y + f * 3) % 256)

  test("AVI decode: exact dims, frames, duration, first-frame features") {
    val avi = Multimodal.aviBytes(5, 4, nFrames = 3, usPerFrame = 40000,
      aviPix)
    val d = Multimodal.decodeAvi(1L, avi).get
    assert(d.kind == "video" && d.width == 5 && d.height == 4)
    assert(d.n_frames == 3)
    assert(d.duration_ms == 120L) // 3 frames x 40000 µs
    // feature contract: identical to PPM decode of frame 0 — exact,
    // same accumulation order, not approximate
    val ppm0 = Multimodal.decodePpm(1L,
      Multimodal.ppmBytes(5, 4, (x, y) => aviPix(0, x, y))).get
    assert(d.feature.toSeq == ppm0.feature.toSeq)
  }

  test("AVI frame re-encode is byte-identical to direct PPM encode") {
    // width 5 → stride 16 vs 15 raw: exercises row padding; bottom-up
    // storage must come back top-down
    val avi = Multimodal.aviBytes(5, 3, nFrames = 4, usPerFrame = 33000,
      aviPix)
    for (k <- 0 until 4) {
      val got = Multimodal.aviFrameToPpm(avi, k).get
      val want = Multimodal.ppmBytes(5, 3, (x, y) => aviPix(k, x, y))
      assert(got.toSeq == want.toSeq, s"frame $k")
    }
    assert(Multimodal.aviFrameToPpm(avi, 4).isEmpty) // out of range
    assert(Multimodal.aviFrameToPpm(avi, -1).isEmpty)
  }

  test("AVI refuses corrupt and codec-bound payloads") {
    val good = Multimodal.aviBytes(4, 3, 2, 40000, aviPix)
    assert(Multimodal.decodeAvi(1L, good.dropRight(8)).isEmpty) // truncated
    val badSig = good.clone(); badSig(8) = 'X'.toByte
    assert(Multimodal.decodeAvi(2L, badSig).isEmpty)
    val strf = good.indexOfSlice("strf".getBytes("US-ASCII")) + 8
    val deep = good.clone(); deep(strf + 14) = 16.toByte // 16 bpp
    assert(Multimodal.decodeAvi(3L, deep).isEmpty)
    val comp = good.clone(); comp(strf + 16) = 1.toByte // not BI_RGB
    assert(Multimodal.decodeAvi(4L, comp).isEmpty)
    assert(Multimodal.decodeAvi(5L, Array[Byte](1, 2, 3)).isEmpty)
  }

  test("AVI payloads decode for real through the batched pipeline") {
    // syntheticMedia plants real AVI at media_id % 6 == 2
    val decoded = Multimodal.decode(media).collect()
    val aviRows = decoded.filter(r =>
      r.kind == "video" && r.media_id % 6 == 2)
    assert(aviRows.nonEmpty)
    assert(aviRows.forall(r =>
      r.width == 4 + (r.media_id % 6) && r.height == 3 + (r.media_id % 4) &&
        r.n_frames == 2 + (r.media_id % 4)))
    // codec-bound fake video still flows through the stub, not a crash
    val stubRows = decoded.filter(r =>
      r.kind == "video" && r.media_id % 6 != 2)
    assert(stubRows.nonEmpty)
  }

  test("extractVideoFrames: real sampled frames, pixel-exact, stub skipped") {
    val frames = Multimodal.extractVideoFrames(media, everyN = 2).collect()
    // only decodable AVI rows fan out
    assert(frames.map(_.getLong(0)).distinct.sorted.toSeq ==
      media.collect().map(_.getLong(0)).filter(id =>
        id % 3 == 2 && id % 6 == 2).sorted.toSeq)
    frames.foreach { r =>
      val (id, k) = (r.getLong(0), r.getInt(1))
      assert(k % 2 == 0)
      val payload = media.filter(col("media_id") === id)
        .select("payload").head().getAs[Array[Byte]](0)
      val want = Multimodal.aviFrameToPpm(payload, k).get
      assert(r.getAs[Array[Byte]](2).toSeq == want.toSeq, s"media $id frame $k")
      // and the extracted frame is a decodable image for downstream ops
      assert(Multimodal.decodePpm(id, want).nonEmpty)
    }
  }

  // ==== MP3 frame-header metadata (headers are codec-free; samples are
  // not — decodeMp3Meta returns REAL frames/duration and a zero feature)

  /** One CBR MPEG-1 Layer III frame: 128 kbps, 44100 Hz, joint stereo,
    * no padding → 144·128000/44100 = 417 bytes (floor). */
  private def mp3Frame(): Array[Byte] = {
    val f = new Array[Byte](417)
    f(0) = 0xff.toByte; f(1) = 0xfb.toByte // sync + MPEG1 + L3 + no CRC
    f(2) = 0x90.toByte // bitrate idx 9 (128), sr idx 0 (44100), no pad
    f(3) = 0x40.toByte // joint stereo
    f
  }

  test("mp3Info: frame walk yields exact count/duration/rate/channels") {
    val stream = Array.fill(38)(mp3Frame()).flatten.toArray
    val info = Multimodal.mp3Info(stream).get
    assert(info.frames == 38)
    assert(info.sampleRate == 44100 && info.channels == 2)
    assert(info.meanBitrateKbps == 128)
    // 38 frames x floor(1152e6/44100) µs = 992,636 µs -> 992 ms
    assert(info.durationMs == 992L)
  }

  test("mp3Info: ID3v2 prefix skipped, trailing ID3v1 TAG tolerated") {
    val body = Array.fill(5)(mp3Frame()).flatten.toArray
    val id3body = new Array[Byte](300)
    val header = Array[Byte]('I', 'D', '3', 4, 0, 0,
      0, 0, (300 >> 7).toByte, (300 & 0x7f).toByte)
    val tag = Array[Byte]('T', 'A', 'G') ++ new Array[Byte](125)
    val full = header ++ id3body ++ body ++ tag
    val info = Multimodal.mp3Info(full).get
    assert(info.frames == 5 && info.sampleRate == 44100)
  }

  test("mp3Info rejects free-format, truncation, and non-MP3 bytes") {
    val free = mp3Frame(); free(2) = 0x00 // bitrate index 0 = free format
    assert(Multimodal.mp3Info(free).isEmpty)
    val truncated = Array.fill(3)(mp3Frame()).flatten.dropRight(10).toArray
    assert(Multimodal.mp3Info(truncated).isEmpty)
    assert(Multimodal.mp3Info("not an mp3 stream at all".getBytes).isEmpty)
    assert(Multimodal.mp3Info(null).isEmpty)
  }

  test("decodeMp3Meta: real metadata, explicitly zero feature; garbage " +
      "audio/mpeg falls back to the stub") {
    val stream = Array.fill(7)(mp3Frame()).flatten.toArray
    val d = Multimodal.decodeMp3Meta(1L, stream).get
    assert(d.kind == "audio" && d.n_frames == 7)
    assert(d.duration_ms == 7L * 26122L / 1000L)
    assert(d.feature.forall(_ == 0f)) // no sample decode -> no signal
    assert(Multimodal.decodeMp3Meta(2L, Array[Byte](1, 2, 3)).isEmpty)
  }

  // ==== H.264 SPS geometry (Exp-Golomb headers are codec-free; slice
  // decode is not)

  /** Minimal bit writer producing an RBSP + emulation-prevention +
    * Annex-B start code, so the test encodes exactly what the parser
    * must invert. */
  private final class SpsWriter {
    private val bits = scala.collection.mutable.ArrayBuffer[Int]()
    def u(v: Int, n: Int): this.type = {
      (n - 1 to 0 by -1).foreach(b => bits += ((v >> b) & 1)); this
    }
    def ue(v: Int): this.type = { // Exp-Golomb
      val code = v + 1
      val n = 32 - Integer.numberOfLeadingZeros(code)
      u(0, n - 1); u(code, n)
    }
    def annexB(nalType: Int): Array[Byte] = {
      u(1, 1) // rbsp_stop_one_bit
      while (bits.length % 8 != 0) u(0, 1)
      val raw = bits.grouped(8)
        .map(g => g.foldLeft(0)((a, b) => (a << 1) | b).toByte).toArray
      // emulation prevention: 00 00 followed by 00/01/02/03 -> insert 03
      val out = scala.collection.mutable.ArrayBuffer[Byte](0, 0, 1,
        nalType.toByte)
      var zeros = 0
      raw.foreach { b =>
        if (zeros >= 2 && (b & 0xff) <= 3) { out += 3; zeros = 0 }
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      out.toArray
    }
  }

  private def sps(widthMbs: Int, heightMapUnits: Int, frameMbsOnly: Int,
      crops: Option[(Int, Int, Int, Int)]): Array[Byte] = {
    val w = new SpsWriter
    w.u(66, 8) // profile_idc: baseline (no chroma branch)
      .u(0, 8).u(31, 8) // constraints, level 3.1
      .ue(0) // sps_id
      .ue(0) // log2_max_frame_num_minus4
      .ue(0) // pic_order_cnt_type 0
      .ue(0) // log2_max_pic_order_cnt_lsb_minus4
      .ue(1) // max_num_ref_frames
      .u(0, 1) // gaps_in_frame_num
      .ue(widthMbs - 1)
      .ue(heightMapUnits - 1)
      .u(frameMbsOnly, 1)
    if (frameMbsOnly == 0) w.u(0, 1) // mb_adaptive
    w.u(1, 1) // direct_8x8
    crops match {
      case Some((l, r, t, b)) =>
        w.u(1, 1).ue(l).ue(r).ue(t).ue(b)
      case None => w.u(0, 1)
    }
    w.u(0, 1) // vui_parameters_present
    w.annexB(0x67) // forbidden 0, nal_ref_idc 3, type 7
  }

  test("h264SpsInfo: uncropped 1280x720 baseline SPS") {
    val stream = Array[Byte](9, 9) ++ sps(80, 45, 1, None) ++
      Array[Byte](0, 0, 1, 0x68, 0x55) // trailing PPS NAL ignored
    val info = Multimodal.h264SpsInfo(stream).get
    assert(info.width == 1280 && info.height == 720)
    assert(info.profileIdc == 66 && info.levelIdc == 31)
  }

  test("h264SpsInfo: 1920x1080 via frame cropping (4:2:0 crop units)") {
    // 68 map units x 16 = 1088; crop_bottom 4 x cropUnitY 2 = 8 -> 1080
    val info = Multimodal.h264SpsInfo(sps(120, 68, 1, Some((0, 0, 0, 4)))).get
    assert(info.width == 1920 && info.height == 1080)
  }

  test("h264SpsInfo: interlaced (frame_mbs_only=0) doubles map units") {
    // 34 map units, fields: height = 2 x 34 x 16 = 1088
    val info = Multimodal.h264SpsInfo(sps(120, 34, 0, None)).get
    assert(info.width == 1920 && info.height == 1088)
  }

  // ==== MP4 box-walk metadata (container structure is codec-free)

  private def box(t: String, payload: Array[Byte]): Array[Byte] = {
    val len = payload.length + 8
    Array[Byte]((len >> 24).toByte, (len >> 16).toByte, (len >> 8).toByte,
      len.toByte) ++ t.getBytes("US-ASCII") ++ payload
  }
  private def u32be(v: Long): Array[Byte] = Array(
    (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  /** Minimal ftyp+moov tree: 90 s at timescale 600, one 640x360 avc1
    * video trak preceded by a zero-geometry (audio-like) trak that the
    * walk must skip. */
  private def mp4(timescale: Long = 600L, duration: Long = 54000L,
      w: Int = 640, h: Int = 360): Array[Byte] = {
    val mvhd = box("mvhd", new Array[Byte](4) ++ // version 0 + flags
      u32be(0) ++ u32be(0) ++ u32be(timescale) ++ u32be(duration) ++
      new Array[Byte](80))
    def tkhd(w: Int, h: Int) = box("tkhd", new Array[Byte](4) ++
      new Array[Byte](72) ++ // creation..matrix for version 0
      u32be(w.toLong << 16) ++ u32be(h.toLong << 16))
    val stsd = box("stsd", new Array[Byte](8) ++ // ver/flags + count
      box("avc1", new Array[Byte](20)))
    val mdia = box("mdia", box("minf", box("stbl", stsd)))
    val soundTrak = box("trak", tkhd(0, 0))
    val videoTrak = box("trak", tkhd(w, h) ++ mdia)
    box("ftyp", "isom0000".getBytes) ++
      box("moov", mvhd ++ soundTrak ++ videoTrak)
  }

  test("mp4Info: box walk yields duration, geometry, codec 4cc") {
    val info = Multimodal.mp4Info(mp4()).get
    assert(info.durationMs == 90000L) // 54000 / 600 ticks/s
    assert(info.width == 640 && info.height == 360)
    assert(info.codec == "avc1")
    val d = Multimodal.decodeMp4Meta(5L, mp4()).get
    assert(d.width == 640 && d.duration_ms == 90000L)
    assert(d.feature.forall(_ == 0f))
  }

  test("mp4Info: all-ones mvhd duration is the unknown sentinel, not " +
      "a real value") {
    // version-0 sentinel 0xFFFFFFFF: geometry stays exact, duration 0 —
    // never 0xFFFFFFFF*1000/600 ≈ 7.16M seconds of fabricated metadata
    val info = Multimodal.mp4Info(mp4(duration = 0xFFFFFFFFL)).get
    assert(info.durationMs == 0L)
    assert(info.width == 640 && info.height == 360 && info.codec == "avc1")
    // one tick below the sentinel still computes normally
    assert(Multimodal.mp4Info(mp4(duration = 0xFFFFFFFEL)).get
      .durationMs == 0xFFFFFFFEL * 1000L / 600L)
  }

  test("mp4Info rejects non-MP4 and truncated trees") {
    assert(Multimodal.mp4Info("RIFFnotanmp4".getBytes ++
      new Array[Byte](20)).isEmpty)
    assert(Multimodal.mp4Info(mp4().dropRight(30)).isEmpty)
    assert(Multimodal.mp4Info(null).isEmpty)
  }

  test("h264SpsInfo rejects streams without a parseable SPS") {
    assert(Multimodal.h264SpsInfo("no start code here".getBytes).isEmpty)
    assert(Multimodal.h264SpsInfo(null).isEmpty)
    // PPS-only stream (nal type 8): no SPS to parse
    assert(Multimodal.h264SpsInfo(
      Array[Byte](0, 0, 1, 0x68, 0x12, 0x34)).isEmpty)
    // truncated SPS: header found, bits run out mid-parse
    val cut = sps(80, 45, 1, None).take(6)
    assert(Multimodal.h264SpsInfo(cut).isEmpty)
  }
}
