package graft.images

import java.io.ByteArrayOutputStream

/** From-scratch baseline JPEG (ITU-T T.81) codec — the dominant image
  * format of any real crawled corpus, closing the image family the way
  * PngCodec/WavCodec/Y4mCodec closed theirs (no external codec library;
  * every constant below is from the public spec).
  *
  * Decoder: baseline sequential DCT, 8-bit, 1 (grayscale) or 3 (YCbCr)
  * components, arbitrary sampling factors 1-2 per axis (so 4:4:4, 4:2:2
  * and the real-world-dominant 4:2:0 all decode), multi-table DQT/DHT
  * segments, DRI/RSTn restart markers, APPn/COM skipped by length. Strict
  * and bounded like the other codecs: malformed structure fails with a
  * message, never a buffer underflow. Progressive/arithmetic/12-bit
  * streams are rejected with a descriptive error (SOF2 etc.).
  *
  * Encoder: baseline JFIF, YCbCr 4:4:4, Annex-K quantization tables with
  * the standard quality scaling, Annex-K Huffman tables (K.3-K.6).
  * Deterministic: output is a pure function of (pixels, quality).
  *
  * Verification (JpegSpec): decoder output is compared sample-for-sample
  * against the JDK's independent ImageIO decoder on the same bytes — both
  * on this encoder's output and on ImageIO-encoded 4:2:0 streams — and
  * the encode∘decode roundtrip must clear PSNR 40 dB on smooth content.
  */
object JpegCodec {

  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8 &&
      (bytes(2) & 0xff) == 0xff

  // ----------------------------------------------------------- spec tables

  /** Zig-zag scan order: zigzag index -> natural (row*8+col) index. */
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.1/K.2 quantization tables (natural order). */
  private val QLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val QChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Annex K.3-K.6 Huffman table specs: (bits per code length 1..16, values). */
  private val DcLumaBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals: Array[Int] = (0 to 11).toArray
  private val DcChromaBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals: Array[Int] = (0 to 11).toArray
  private val AcLumaBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals: Array[Int] = hexVals(
    "0102030004110512" + "2131410613516107" + "22711432" + "8191a108" +
      "2342b1c11552d1f0" + "2433627282090a16" + "1718191a25262728" +
      "292a343536373839" + "3a43444546474849" + "4a53545556575859" +
      "5a63646566676869" + "6a73747576777879" + "7a83848586878889" +
      "8a92939495969798" + "999aa2a3a4a5a6a7" + "a8a9aab2b3b4b5b6" +
      "b7b8b9bac2c3c4c5" + "c6c7c8c9cad2d3d4" + "d5d6d7d8d9dae1e2" +
      "e3e4e5e6e7e8e9ea" + "f1f2f3f4f5f6f7f8" + "f9fa")
  private val AcChromaBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals: Array[Int] = hexVals(
    "0001020311040521" + "3106124151076171" + "1322328108144291" +
      "a1b1c109233352f0" + "156272d10a162434" + "e125f11718191a26" +
      "2728292a35363738" + "393a434445464748" + "494a535455565758" +
      "595a636465666768" + "696a737475767778" + "797a828384858687" +
      "88898a9293949596" + "9798999aa2a3a4a5" + "a6a7a8a9aab2b3b4" +
      "b5b6b7b8b9bac2c3" + "c4c5c6c7c8c9cad2" + "d3d4d5d6d7d8d9da" +
      "e2e3e4e5e6e7e8e9" + "eaf2f3f4f5f6f7f8" + "f9fa")
  require(AcLumaVals.length == AcLumaBits.sum && AcChromaVals.length == AcChromaBits.sum,
    "AC Huffman table spec mismatch")

  private def hexVals(s: String): Array[Int] =
    s.grouped(2).map(Integer.parseInt(_, 16)).toArray

  // --------------------------------------------------------------- encoder

  /** Quality-scaled quantization table (the standard libjpeg formula). */
  private def scaledQ(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    base.map(t => math.max(1, math.min(255, (t * scale + 50) / 100)))
  }

  /** Canonical Huffman (code, length) per symbol from a (bits, vals) spec. */
  private def huffCodes(bits: Array[Int], vals: Array[Int]): Array[(Int, Int)] = {
    val codes = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len)) {
        codes(vals(k)) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
    }
    codes
  }

  private final class BitWriter(out: ByteArrayOutputStream) {
    private var acc = 0L
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1))
      nbits += len
      while (nbits >= 8) {
        val b = ((acc >>> (nbits - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0x00) // byte stuffing
        nbits -= 8
      }
    }
    def flush(): Unit = if (nbits > 0) { // pad with 1s per spec
      val pad = 8 - nbits
      put((1 << pad) - 1, pad)
    }
  }

  private def bitSize(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  private val CosTable: Array[Double] = {
    val t = new Array[Double](64)
    for (u <- 0 until 8; x <- 0 until 8)
      t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16)
    t
  }
  private def c(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2) else 1.0

  /** Forward DCT + quantization of one level-shifted 8x8 block -> zigzag ints. */
  private def fdctQuant(block: Array[Double], q: Array[Int]): Array[Int] = {
    val coef = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            s += block(y * 8 + x) * CosTable(u * 8 + x) * CosTable(v * 8 + y)
            x += 1
          }
          y += 1
        }
        coef(v * 8 + u) = 0.25 * c(u) * c(v) * s
        u += 1
      }
      v += 1
    }
    val zz = new Array[Int](64)
    var i = 0
    while (i < 64) {
      val n = ZigZag(i)
      zz(i) = math.round(coef(n) / q(n)).toInt
      i += 1
    }
    zz
  }

  /** Encode raw RGB as baseline JFIF (YCbCr 4:4:4). `restartInterval > 0`
    * emits a DRI segment and an RSTn marker every that-many MCUs (byte-
    * aligned, DC predictors reset) — the error-resilience feature real
    * crawled JPEGs carry and the decoder must handle. */
  def encodeRgb(pixels: Array[Byte], w: Int, h: Int, quality: Int = 90,
      restartInterval: Int = 0): Array[Byte] = {
    require(pixels.length == w * h * 3, s"pixel buffer ${pixels.length} != $w x $h x 3")
    val qY = scaledQ(QLuma, quality)
    val qC = scaledQ(QChroma, quality)
    val out = new ByteArrayOutputStream(pixels.length / 4 + 1024)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, payload: Array[Int]): Unit = {
      marker(m)
      val len = payload.length + 2
      out.write(len >> 8); out.write(len & 0xff)
      payload.foreach(out.write)
    }
    marker(0xd8) // SOI
    seg(0xe0, Array('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)) // APP0
    seg(0xdb, 0 +: (0 until 64).map(i => qY(ZigZag(i))).toArray) // DQT 0
    seg(0xdb, 1 +: (0 until 64).map(i => qC(ZigZag(i))).toArray) // DQT 1
    seg(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 3, // SOF0
      1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1))
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit =
      seg(0xc4, ((cls << 4) | id) +: (bits.drop(1) ++ vals))
    dht(0, 0, DcLumaBits, DcLumaVals)
    dht(1, 0, AcLumaBits, AcLumaVals)
    dht(0, 1, DcChromaBits, DcChromaVals)
    dht(1, 1, AcChromaBits, AcChromaVals)
    if (restartInterval > 0)
      seg(0xdd, Array(restartInterval >> 8, restartInterval & 0xff)) // DRI
    seg(0xda, Array(3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0)) // SOS
    val dcY = huffCodes(DcLumaBits, DcLumaVals)
    val acY = huffCodes(AcLumaBits, AcLumaVals)
    val dcC = huffCodes(DcChromaBits, DcChromaVals)
    val acC = huffCodes(AcChromaBits, AcChromaVals)
    val bw = new BitWriter(out)
    val preds = new Array[Int](3)
    def encodeBlock(zz: Array[Int], comp: Int): Unit = {
      val (dct, act) = if (comp == 0) (dcY, acY) else (dcC, acC)
      val diff = zz(0) - preds(comp)
      preds(comp) = zz(0)
      val ds = bitSize(diff)
      val (dcode, dlen) = dct(ds)
      bw.put(dcode, dlen)
      if (ds > 0) bw.put(if (diff < 0) diff + (1 << ds) - 1 else diff, ds)
      var run = 0
      var i = 1
      while (i < 64) {
        if (zz(i) == 0) run += 1
        else {
          while (run >= 16) { val (zc, zl) = act(0xf0); bw.put(zc, zl); run -= 16 }
          val s = bitSize(zz(i))
          val (code, len) = act((run << 4) | s)
          bw.put(code, len)
          bw.put(if (zz(i) < 0) zz(i) + (1 << s) - 1 else zz(i), s)
          run = 0
        }
        i += 1
      }
      if (run > 0) { val (ec, el) = act(0x00); bw.put(ec, el) }
    }
    // YCbCr planes, edge-replicated to the block grid
    val block = new Array[Double](64)
    var mcuIdx = 0
    var by = 0
    while (by < (h + 7) / 8) {
      var bx = 0
      while (bx < (w + 7) / 8) {
        if (restartInterval > 0 && mcuIdx > 0 && mcuIdx % restartInterval == 0) {
          // byte-align (1-padding, stuffing applies), emit RSTn, reset DC
          bw.flush()
          out.write(0xff)
          out.write(0xd0 + ((mcuIdx / restartInterval - 1) % 8))
          preds(0) = 0; preds(1) = 0; preds(2) = 0
        }
        var comp = 0
        while (comp < 3) {
          var yy = 0
          while (yy < 8) {
            val sy = math.min(h - 1, by * 8 + yy)
            var xx = 0
            while (xx < 8) {
              val sx = math.min(w - 1, bx * 8 + xx)
              val p = (sy * w + sx) * 3
              val r = pixels(p) & 0xff
              val g = pixels(p + 1) & 0xff
              val b = pixels(p + 2) & 0xff
              val v = comp match {
                case 0 => 0.299 * r + 0.587 * g + 0.114 * b
                case 1 => -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
                case _ => 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
              }
              block(yy * 8 + xx) = v - 128.0
              xx += 1
            }
            yy += 1
          }
          encodeBlock(fdctQuant(block, if (comp == 0) qY else qC), comp)
          comp += 1
        }
        mcuIdx += 1
        bx += 1
      }
      by += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  // --------------------------------------------------------------- decoder

  private def fail(msg: String, cause: Throwable = null): Nothing =
    throw new IllegalArgumentException(s"corrupt JPEG: $msg", cause)

  /** Decoder-side Huffman table (the spec's DECODE procedure arrays). */
  private final class HuffDec(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      for (len <- 1 to 16) {
        valPtr(len) = k
        minCode(len) = code
        code += bits(len); k += bits(len)
        maxCode(len) = if (bits(len) > 0) code - 1 else -1
        code <<= 1
      }
    }
    def value(len: Int, code: Int): Int = vals(valPtr(len) + code - minCode(len))
  }

  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var sawEoi = false
    /** Next entropy bit; stuffed 0xFF00 unstuffs, a real marker ends data. */
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) fail("entropy data past end of stream")
        var v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          val m = if (pos < b.length) b(pos) & 0xff else fail("truncated after 0xFF")
          if (m == 0x00) pos += 1
          else { sawEoi = true; pos -= 1; v = 0 } // marker: feed zeros (spec behavior)
        }
        acc = v; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def decode(t: HuffDec): Int = {
      var code = bit()
      var len = 1
      while (code > t.maxCode(len)) {
        if (len >= 16) fail("invalid Huffman code")
        code = (code << 1) | bit()
        len += 1
      }
      t.value(len, code)
    }
    /** Byte-align and consume an expected RSTn marker. */
    def restart(expected: Int): Unit = {
      nbits = 0
      // scan to the marker (encoders byte-align before RST)
      while (pos + 1 < b.length &&
        !((b(pos) & 0xff) == 0xff && (b(pos + 1) & 0xff) >= 0xd0 &&
          (b(pos + 1) & 0xff) <= 0xd7)) pos += 1
      if (pos + 1 >= b.length) fail("missing restart marker")
      if ((b(pos + 1) & 0xff) != 0xd0 + expected)
        fail(s"restart marker out of order: got ${b(pos + 1) & 0xff}")
      pos += 2
      sawEoi = false
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private final case class Component(id: Int, hFac: Int, vFac: Int, qId: Int) {
    var dcT: HuffDec = null
    var acT: HuffDec = null
    var plane: Array[Int] = null
    var planeW: Int = 0
    var planeH: Int = 0
  }

  /** Decode a baseline JPEG to raw RGB (3 bytes/pixel). Malformed input
    * fails with the documented "corrupt JPEG" IllegalArgumentException —
    * never a raw buffer underflow: u8/u16 bounds-check the header walk,
    * and any residual out-of-bounds read from a structurally invalid
    * stream (e.g. a Huffman value table shorter than its code count) is
    * rethrown as the same contract exception here, with the original as its
    * cause so a decoder bug misread as corruption stays diagnosable. */
  def decodeRgb(bytes: Array[Byte]): (Array[Byte], Int, Int) =
    try decodeRgbImpl(bytes)
    catch {
      case e @ (_: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException) =>
        fail("truncated or structurally invalid stream", e)
    }

  private def decodeRgbImpl(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    if (!isJpeg(bytes)) fail("missing SOI")
    var pos = 2
    val qtabs = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffDec](4)
    val acTabs = new Array[HuffDec](4)
    var comps: Array[Component] = null
    var w = 0
    var h = 0
    var restartInterval = 0
    def u8(): Int = {
      if (pos >= bytes.length) fail("truncated segment")
      val v = bytes(pos) & 0xff; pos += 1; v
    }
    def u16(): Int = {
      if (pos + 1 >= bytes.length) fail("truncated segment")
      val v = ((bytes(pos) & 0xff) << 8) | (bytes(pos + 1) & 0xff); pos += 2; v
    }
    var done = false
    var outPixels: Array[Byte] = null
    while (!done) {
      if (pos + 1 >= bytes.length) fail("ran off the end before EOI")
      if ((u8()) != 0xff) fail(s"expected marker at offset ${pos - 1}")
      var m = u8()
      while (m == 0xff) m = u8() // fill bytes
      m match {
        case 0xd9 => done = true // EOI
        case 0xdb => // DQT (possibly several tables)
          val dqtLen = u16()
          val end = pos + dqtLen - 2
          while (pos < end) {
            val pq = u8()
            if ((pq >> 4) != 0) fail("16-bit quant tables are not baseline")
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) { t(ZigZag(i)) = u8(); i += 1 }
            qtabs(pq & 0xf) = t
          }
        case 0xc4 => // DHT (possibly several tables)
          val dhtLen = u16()
          val end = pos + dhtLen - 2
          while (pos < end) {
            val tc = u8()
            val bits = new Array[Int](17)
            var total = 0
            var i = 1
            while (i <= 16) { bits(i) = u8(); total += bits(i); i += 1 }
            val vals = new Array[Int](total)
            i = 0
            while (i < total) { vals(i) = u8(); i += 1 }
            val tbl = new HuffDec(bits, vals)
            if ((tc >> 4) == 0) dcTabs(tc & 0xf) = tbl else acTabs(tc & 0xf) = tbl
          }
        case 0xc0 | 0xc1 => // SOF0/1: baseline (extended-sequential shares the layout)
          u16()
          if (u8() != 8) fail("only 8-bit precision is baseline")
          h = u16(); w = u16()
          val n = u8()
          if (n != 1 && n != 3) fail(s"unsupported component count $n")
          comps = Array.fill(n) {
            val id = u8(); val hv = u8(); val q = u8()
            val cp = Component(id, hv >> 4, hv & 0xf, q)
            if (cp.hFac < 1 || cp.hFac > 2 || cp.vFac < 1 || cp.vFac > 2)
              fail(s"sampling factor ${cp.hFac}x${cp.vFac} out of the 1-2 range")
            cp
          }
        case 0xc2 => fail("progressive JPEG (SOF2) is not baseline")
        case x if x >= 0xc3 && x <= 0xcf && x != 0xc4 && x != 0xc8 =>
          fail(f"unsupported SOF marker 0xFF$x%02X")
        case 0xdd => u16(); restartInterval = u16() // DRI
        case 0xda => // SOS: entropy-coded scan follows
          if (comps == null) fail("SOS before SOF")
          u16()
          val ns = u8()
          if (ns != comps.length) fail("partial scans are not baseline")
          var i = 0
          while (i < ns) {
            val cs = u8(); val tt = u8()
            val comp = comps.find(_.id == cs).getOrElse(fail(s"unknown component $cs"))
            comp.dcT = dcTabs(tt >> 4); comp.acT = acTabs(tt & 0xf)
            if (comp.dcT == null || comp.acT == null) fail("scan references a missing DHT")
            i += 1
          }
          pos += 3 // Ss, Se, Ah/Al
          outPixels = decodeScan(bytes, pos, comps, w, h, qtabs, restartInterval) match {
            case (px, newPos) => pos = newPos; px
          }
        case x if x >= 0xd0 && x <= 0xd7 => // stray RST between segments
        case 0x01 => // TEM, parameterless
        case _ => // APPn, COM, everything else: skip by length
          val len = u16() // NB: u16 advances pos, so never `pos += u16()-2`
          pos += len - 2
      }
    }
    if (outPixels == null) fail("no scan decoded")
    (outPixels, w, h)
  }

  private def decodeScan(bytes: Array[Byte], start: Int, comps: Array[Component],
      w: Int, h: Int, qtabs: Array[Array[Int]],
      restartInterval: Int): (Array[Byte], Int) = {
    val hMax = comps.map(_.hFac).max
    val vMax = comps.map(_.vFac).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    comps.foreach { cp =>
      cp.planeW = mcusX * cp.hFac * 8
      cp.planeH = mcusY * cp.vFac * 8
      cp.plane = new Array[Int](cp.planeW * cp.planeH)
    }
    val br = new BitReader(bytes, start)
    val preds = new Array[Int](comps.length)
    val zz = new Array[Int](64)
    val px = new Array[Double](64)
    var rstCount = 0
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        br.restart(rstCount % 8)
        rstCount += 1
        java.util.Arrays.fill(preds, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val cp = comps(ci)
        val q = qtabs(cp.qId)
        if (q == null) fail(s"component ${cp.id} references missing DQT ${cp.qId}")
        var by = 0
        while (by < cp.vFac) {
          var bx = 0
          while (bx < cp.hFac) {
            // one 8x8 block: DC diff + AC runs
            java.util.Arrays.fill(zz, 0)
            val s = br.decode(cp.dcT)
            preds(ci) += extend(br.bits(s), s)
            zz(0) = preds(ci)
            var k = 1
            while (k < 64) {
              val rs = br.decode(cp.acT)
              val run = rs >> 4
              val size = rs & 0xf
              if (size == 0) {
                if (run == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += run
                if (k > 63) fail("AC run past end of block")
                zz(k) = extend(br.bits(size), size)
                k += 1
              }
            }
            idct(zz, q, px)
            // place into the component plane
            val ox = (mx * cp.hFac + bx) * 8
            val oy = (my * cp.vFac + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              val rowBase = (oy + yy) * cp.planeW + ox
              while (xx < 8) {
                val v = px(yy * 8 + xx)
                cp.plane(rowBase + xx) =
                  math.max(0, math.min(255, math.round(v + 128.0).toInt))
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    // color conversion; subsampled planes upsample with centered bilinear
    // interpolation (the quality class of libjpeg's "fancy" upsampling —
    // nearest-neighbour chroma measured ~1 dB worse against an
    // independent decoder on 4:2:0 streams)
    val out = new Array[Byte](w * h * 3)
    val gray = comps.length == 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = (y * w + x) * 3
        def sample(cp: Component): Int =
          if (cp.hFac == hMax && cp.vFac == vMax) cp.plane(y * cp.planeW + x)
          else {
            val fx = (x + 0.5) * cp.hFac / hMax - 0.5
            val fy = (y + 0.5) * cp.vFac / vMax - 0.5
            val x0 = math.floor(fx).toInt
            val y0 = math.floor(fy).toInt
            val dx = fx - x0
            val dy = fy - y0
            def at(xx: Int, yy: Int): Int = {
              val cx = math.max(0, math.min(cp.planeW - 1, xx))
              val cy = math.max(0, math.min(cp.planeH - 1, yy))
              cp.plane(cy * cp.planeW + cx)
            }
            math.round(
              at(x0, y0) * (1 - dx) * (1 - dy) + at(x0 + 1, y0) * dx * (1 - dy) +
                at(x0, y0 + 1) * (1 - dx) * dy + at(x0 + 1, y0 + 1) * dx * dy).toInt
          }
        if (gray) {
          val v = sample(comps(0)).toByte
          out(p) = v; out(p + 1) = v; out(p + 2) = v
        } else {
          val yv = sample(comps(0)).toDouble
          val cb = sample(comps(1)) - 128.0
          val cr = sample(comps(2)) - 128.0
          def clamp(d: Double): Byte =
            math.max(0, math.min(255, math.round(d).toInt)).toByte
          out(p) = clamp(yv + 1.402 * cr)
          out(p + 1) = clamp(yv - 0.344136 * cb - 0.714136 * cr)
          out(p + 2) = clamp(yv + 1.772 * cb)
        }
        x += 1
      }
      y += 1
    }
    // leave pos at the marker that ended the entropy data (EOI handled by caller)
    (out, br.pos)
  }

  /** Dequantize (zigzag ints) + inverse DCT -> level-shifted samples. */
  private def idct(zz: Array[Int], q: Array[Int], out: Array[Double]): Unit = {
    val coef = new Array[Double](64)
    var i = 0
    while (i < 64) {
      val n = ZigZag(i)
      coef(n) = zz(i).toDouble * q(n)
      i += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            s += c(u) * c(v) * coef(v * 8 + u) *
              CosTable(u * 8 + x) * CosTable(v * 8 + y)
            u += 1
          }
          v += 1
        }
        out(y * 8 + x) = 0.25 * s
        x += 1
      }
      y += 1
    }
  }
}
