package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.images.{ImageSynth, JpegCodec}

/** The from-scratch baseline JPEG codec, verified against the JDK's
  * independent ImageIO JPEG implementation: (a) ImageIO must decode this
  * encoder's output to nearly the same samples as this decoder (any
  * Huffman/quant/marker bug desyncs one of them), and (b) this decoder
  * must agree with ImageIO on ImageIO-ENCODED streams, which exercise
  * 4:2:0 subsampling and foreign table choices.
  */
class JpegSpec extends AnyFunSuite {

  /** Smooth two-gradient test card — JPEG-friendly content for PSNR gates. */
  private def gradient(w: Int, h: Int): Array[Byte] = {
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      px(p) = (x * 255 / math.max(1, w - 1)).toByte
      px(p + 1) = (y * 255 / math.max(1, h - 1)).toByte
      px(p + 2) = ((x + y) * 255 / math.max(1, w + h - 2)).toByte
    }
    px
  }

  private def toBuffered(px: Array[Byte], w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      img.setRGB(x, y, ((px(p) & 0xff) << 16) | ((px(p + 1) & 0xff) << 8) | (px(p + 2) & 0xff))
    }
    img
  }

  private def imageIoDecode(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val p = (y * w + x) * 3
      out(p) = ((rgb >> 16) & 0xff).toByte
      out(p + 1) = ((rgb >> 8) & 0xff).toByte
      out(p + 2) = (rgb & 0xff).toByte
    }
    (out, w, h)
  }

  private def imageIoEncode(img: java.awt.image.BufferedImage, q: Float): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(q)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); writer.dispose()
    out.toByteArray
  }

  private def maxAbsDiff(a: Array[Byte], b: Array[Byte]): Int = {
    require(a.length == b.length)
    var m = 0
    var i = 0
    while (i < a.length) {
      m = math.max(m, math.abs((a(i) & 0xff) - (b(i) & 0xff)))
      i += 1
    }
    m
  }

  test("encode -> decode roundtrip clears PSNR 40 on smooth content " +
      "(non-multiple-of-8 dims exercise edge padding)") {
    for ((w, h) <- Seq((37, 23), (64, 64), (8, 8), (1, 1), (9, 17))) {
      val px = gradient(w, h)
      val jpeg = JpegCodec.encodeRgb(px, w, h, quality = 90)
      val (dec, dw, dh) = JpegCodec.decodeRgb(jpeg)
      assert((dw, dh) == ((w, h)))
      val p = ImageSynth.psnr(px, dec)
      assert(p >= 40.0, s"$w x $h roundtrip PSNR $p")
    }
  }

  test("ImageIO independently decodes this encoder's output to the same samples") {
    val (w, h) = (53, 31)
    val px = gradient(w, h)
    val jpeg = JpegCodec.encodeRgb(px, w, h, quality = 90)
    val (ours, _, _) = JpegCodec.decodeRgb(jpeg)
    val (theirs, tw, th) = imageIoDecode(jpeg)
    assert((tw, th) == ((w, h)), "ImageIO rejected or resized our stream")
    // two conformant decoders of the same stream differ only in IDCT
    // rounding: a couple of code points per sample, no structural drift
    assert(maxAbsDiff(ours, theirs) <= 4,
      s"decoder disagreement ${maxAbsDiff(ours, theirs)} vs ImageIO")
    assert(ImageSynth.psnr(ours, theirs) >= 45.0)
  }

  test("noise payloads survive the coded path bit-consistently across decoders") {
    // worst-case content for JPEG *quality* but a strong *correctness*
    // probe: every Huffman symbol class appears; decoders must still agree
    val (w, h) = (48, 32)
    val px = ImageSynth.pixelsFor("http://jpeg.test/noise", w, h)
    val jpeg = JpegCodec.encodeRgb(px, w, h, quality = 95)
    val (ours, _, _) = JpegCodec.decodeRgb(jpeg)
    val (theirs, _, _) = imageIoDecode(jpeg)
    assert(maxAbsDiff(ours, theirs) <= 4)
  }

  test("decodes ImageIO-encoded streams (4:2:0 subsampling, foreign tables)") {
    val (w, h) = (40, 24)
    val px = gradient(w, h)
    val jpeg = imageIoEncode(toBuffered(px, w, h), 0.9f)
    val (ours, dw, dh) = JpegCodec.decodeRgb(jpeg)
    assert((dw, dh) == ((w, h)))
    val (theirs, _, _) = imageIoDecode(jpeg)
    // chroma upsampling filters legitimately differ (we use nearest);
    // luma/structure must agree closely
    assert(ImageSynth.psnr(ours, theirs) >= 40.0,
      s"PSNR vs ImageIO decode ${ImageSynth.psnr(ours, theirs)}")
    assert(ImageSynth.psnr(ours, px) >= 35.0)
  }

  test("grayscale single-component streams decode") {
    val (w, h) = (33, 21)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 7 + y * 11) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val jpeg = imageIoEncode(img, 0.95f)
    val (ours, dw, dh) = JpegCodec.decodeRgb(jpeg)
    assert((dw, dh) == ((w, h)))
    // compare raw luma via the raster: ImageIO's getRGB would apply a
    // gray->sRGB gamma conversion that is not part of JPEG decoding
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg)).getRaster
    var worst = 0
    for (y <- 0 until h; x <- 0 until w)
      worst = math.max(worst,
        math.abs(ref.getSample(x, y, 0) - (ours((y * w + x) * 3) & 0xff)))
    assert(worst <= 4, s"luma disagreement $worst vs ImageIO raster")
  }

  test("restart markers (DRI/RSTn): byte-aligned intervals, DC-predictor resets") {
    val (w, h) = (48, 40) // 6x5 = 30 MCUs at 4:4:4
    val px = gradient(w, h)
    val jpeg = JpegCodec.encodeRgb(px, w, h, quality = 90, restartInterval = 4)
    // the stream genuinely carries restart markers (RST0 = 0xFFD0 first)
    val hasRst = jpeg.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) >= 0xd0 && (p(1) & 0xff) <= 0xd7)
    assert(hasRst, "no RSTn emitted at restartInterval = 4")
    val (ours, dw, dh) = JpegCodec.decodeRgb(jpeg)
    assert((dw, dh) == ((w, h)))
    assert(ImageSynth.psnr(px, ours) >= 40.0)
    // the independent decoder accepts the same restart-marked stream and
    // agrees — marker placement, alignment and DC resets are all conformant
    val (theirs, _, _) = imageIoDecode(jpeg)
    assert(maxAbsDiff(ours, theirs) <= 4)
    // and the stream equals the no-restart encode pixel-for-pixel after
    // decode (restarts change framing, never content)
    val (plain, _, _) = JpegCodec.decodeRgb(JpegCodec.encodeRgb(px, w, h, quality = 90))
    assert(maxAbsDiff(ours, plain) <= 2)
  }

  test("strict on malformed input; auto-detected by the image decode surface") {
    intercept[IllegalArgumentException](JpegCodec.decodeRgb(Array[Byte](1, 2, 3)))
    val good = JpegCodec.encodeRgb(gradient(16, 16), 16, 16)
    // the documented contract: truncation fails with the "corrupt JPEG"
    // IllegalArgumentException, never a raw ArrayIndexOutOfBounds (r6
    // ADVICE fix) — at EVERY truncation point, not just the midpoint
    for (cut <- Seq(3, 6, good.length / 4, good.length / 2, good.length - 1)) {
      val e = intercept[IllegalArgumentException](
        JpegCodec.decodeRgb(good.take(cut)))
      assert(e.getMessage.startsWith("corrupt JPEG"), s"cut=$cut: $e")
    }
    // a residual out-of-bounds access keeps its exception as the cause: a
    // DQT naming table 15 (of 0..3) passes the header walk's bounds checks
    val dqt = good.indices.find(i => (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xdb).get
    val badTable = good.updated(dqt + 4, 0x0f.toByte)
    val wrapped = intercept[IllegalArgumentException](JpegCodec.decodeRgb(badTable))
    assert(wrapped.getMessage.startsWith("corrupt JPEG"))
    assert(wrapped.getCause.isInstanceOf[ArrayIndexOutOfBoundsException], wrapped.getCause)
    // ImageSynth routes JPEG payloads to the from-scratch decoder
    val (dec, w, h) = ImageSynth.decodeRgb(good)
    assert((w, h) == ((16, 16)) && dec.length == 16 * 16 * 3)
  }
}
