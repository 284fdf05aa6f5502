package graft.operators

/** Luma-only, allocation-free average hash of the baseline JPEGs the fixture
  * writes, bit-identical to [[graft.sources.ImageFixture.avgHash64]] over
  * what the JDK's ImageIO reader decodes.
  *
  * The subset: baseline sequential Huffman (SOF0/SOF1), 8-bit, a JFIF
  * stream of 3 components in one interleaved scan, luma at the maximum
  * sampling factors, width and height multiples of 8, no restart interval,
  * and every chroma block neutral (zero DC, no AC coefficient). Neutral
  * chroma decodes to Cb = Cr = 128 everywhere, whatever the upsampling, and
  * the JDK's YCbCr→RGB step then gives R = G = B = Y exactly, so the hash
  * needs only the luma plane. That plane comes from libjpeg's `jidctint`
  * "islow" integer IDCT (CONST_BITS 13, PASS1_BITS 2, the same wrap-around
  * range limit), which is what the JDK reader (libjpeg 6b) runs.
  *
  * [[lumaHash]] returns null for any other stream — progressive,
  * arithmetic, 12-bit, grayscale, colour, restart intervals, odd sizes, an
  * ICC or Adobe colour marker, a truncated or malformed stream — and the
  * caller decodes it with ImageIO. Exists because ImageIO spends ~30 µs
  * per fixture payload decoding chroma and colour it does not need.
  * Format reference: ITU-T T.81 (the JPEG standard), Annexes B, C and F.
  */
object JpegCodec {

  private val MaxDim = 4096

  /** Zig-zag position → natural (row-major) position. */
  private val Natural = Array[Int](
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // jidctint.c constants: FIX(x) = round(x * 2^13)
  private final val ConstBits = 13
  private final val Pass1Bits = 2
  private final val Fix0298631336 = 2446L
  private final val Fix0390180644 = 3196L
  private final val Fix0541196100 = 4433L
  private final val Fix0765366865 = 6270L
  private final val Fix0899976223 = 7373L
  private final val Fix1175875602 = 9633L
  private final val Fix1501321110 = 12299L
  private final val Fix1847759065 = 15137L
  private final val Fix1961570560 = 16069L
  private final val Fix2053119869 = 16819L
  private final val Fix2562915447 = 20995L
  private final val Fix3072711026 = 25172L

  /** Thrown inside the decoder for a stream outside the subset; caught by
    * [[lumaHash]], never escapes. No stack trace: it is a control signal. */
  private object Unsupported extends Exception(null, null, false, false)

  /** One thread's decoder: tables, bit reader and buffers, reused across
    * calls, so a decode allocates nothing but its result. */
  private final class Decoder {
    // Huffman tables: slot = class * 4 + id (class 0 = DC, 1 = AC)
    val look = new Array[Int](8 * 512) // 9-bit lookahead: len << 8 | symbol, 0 = longer
    val maxCode = new Array[Int](8 * 17)
    val valOffset = new Array[Int](8 * 17)
    val values = new Array[Int](8 * 256)
    val huffDefined = new Array[Boolean](8)
    val quant = new Array[Int](4 * 64) // natural order
    val quantDefined = new Array[Boolean](4)
    private val huffCode = new Array[Int](257)
    private val huffSize = new Array[Int](257)

    // frame
    var width = 0
    var height = 0
    val compId = new Array[Int](3)
    val compH = new Array[Int](3)
    val compV = new Array[Int](3)
    val compQ = new Array[Int](3)
    val dcTable = new Array[Int](3)
    val acTable = new Array[Int](3)

    // luma plane and per-block state
    var plane = new Array[Byte](64 * 64)
    val coef = new Array[Int](64)
    val ws = new Array[Int](64)
    val lumaQ = new Array[Int](64)
    val blockSum = new Array[Double](64)
    private val preds = new Array[Int](3)
    private val acc = new Array[Long](8)

    // bit reader over `data`: the low `nbits` bits of `bits`, MSB first;
    // once a marker or the end of data is reached, zero bytes are appended
    // and counted in `padBits`
    var data: Array[Byte] = _
    var pos = 0
    var bits = 0L
    var nbits = 0
    var padBits = 0
    var markerPos = -1

    def reset(bytes: Array[Byte]): Unit = {
      data = bytes
      pos = 2
      bits = 0L; nbits = 0; padBits = 0; markerPos = -1
      width = 0; height = 0
      java.util.Arrays.fill(huffDefined, false)
      java.util.Arrays.fill(quantDefined, false)
    }

    private def u8(o: Int): Int = {
      if (o >= data.length) throw Unsupported
      data(o) & 0xFF
    }
    def u16(o: Int): Int = (u8(o) << 8) | u8(o + 1)

    /** The segment at `pos` starts with `tag`. */
    def startsWith(end: Int, tag: String): Boolean =
      end - pos >= tag.length && tag.indices.forall(i => u8(pos + i) == tag(i))

    /** The next marker code at `pos` (fill bytes skipped), `pos` after it. */
    def nextMarker(): Int = {
      if (u8(pos) != 0xFF) throw Unsupported
      while (u8(pos) == 0xFF) pos += 1
      val m = u8(pos)
      pos += 1
      m
    }

    /** A marker segment's body: [start, end). */
    def segment(): Int = {
      val len = u16(pos)
      if (len < 2 || pos + len > data.length) throw Unsupported
      val end = pos + len
      pos += 2
      end
    }

    def readDqt(end: Int): Unit =
      while (pos < end) {
        val pq = u8(pos) >> 4; val tq = u8(pos) & 15
        if (tq > 3 || pq > 1) throw Unsupported
        pos += 1
        var i = 0
        while (i < 64) {
          quant(tq * 64 + Natural(i)) = if (pq == 0) u8(pos + i) else u16(pos + 2 * i)
          i += 1
        }
        pos += 64 * (pq + 1)
        quantDefined(tq) = true
        if (pos > end) throw Unsupported
      }

    /** libjpeg's `jpeg_make_d_derived_tbl`, plus a 9-bit lookahead. */
    def readDht(end: Int): Unit =
      while (pos < end) {
        val tc = u8(pos) >> 4; val th = u8(pos) & 15
        if (tc > 1 || th > 3) throw Unsupported
        val slot = tc * 4 + th
        var total = 0
        var l = 1
        while (l <= 16) { total += u8(pos + l); l += 1 }
        if (total > 256) throw Unsupported
        val symStart = pos + 17
        var p = 0
        l = 1
        while (l <= 16) {
          var n = u8(pos + l)
          while (n > 0) { huffSize(p) = l; p += 1; n -= 1 }
          l += 1
        }
        huffSize(p) = 0
        var code = 0
        var si = huffSize(0)
        p = 0
        while (huffSize(p) != 0) {
          while (huffSize(p) == si) { huffCode(p) = code; code += 1; p += 1 }
          if (code >= (1 << si)) throw Unsupported
          code <<= 1
          si += 1
        }
        p = 0
        l = 1
        while (l <= 16) {
          val n = u8(pos + l)
          if (n > 0) {
            valOffset(slot * 17 + l) = p - huffCode(p)
            p += n
            maxCode(slot * 17 + l) = huffCode(p - 1)
          } else maxCode(slot * 17 + l) = -1
          l += 1
        }
        java.util.Arrays.fill(look, slot * 512, slot * 512 + 512, 0)
        p = 0
        while (p < total) {
          val len = huffSize(p)
          val sym = u8(symStart + p)
          values(slot * 256 + p) = sym
          if (len <= 9) {
            val base = huffCode(p) << (9 - len)
            var k = 0
            while (k < (1 << (9 - len))) {
              look(slot * 512 + base + k) = (len << 8) | sym
              k += 1
            }
          }
          p += 1
        }
        huffDefined(slot) = true
        pos = symStart + total
        if (pos > end) throw Unsupported
      }

    def readSof(end: Int): Unit = {
      if (width != 0 || end - pos != 6 + 3 * 3) throw Unsupported
      if (u8(pos) != 8 || u8(pos + 5) != 3) throw Unsupported
      height = u16(pos + 1)
      width = u16(pos + 3)
      if (width == 0 || height == 0 || width % 8 != 0 || height % 8 != 0 ||
        width > MaxDim || height > MaxDim) throw Unsupported
      var c = 0
      while (c < 3) {
        val o = pos + 6 + 3 * c
        compId(c) = u8(o)
        compH(c) = u8(o + 1) >> 4
        compV(c) = u8(o + 1) & 15
        compQ(c) = u8(o + 2)
        if (compH(c) < 1 || compH(c) > 4 || compV(c) < 1 || compV(c) > 4 ||
          compQ(c) > 3) throw Unsupported
        c += 1
      }
      // luma at the maximum factors (full resolution, no upsampling), chroma
      // factors that divide them, and at most 10 blocks per MCU (libjpeg's
      // limit)
      val hMax = compH(0); val vMax = compV(0)
      var blocks = 0
      c = 0
      while (c < 3) {
        if (hMax % compH(c) != 0 || vMax % compV(c) != 0) throw Unsupported
        blocks += compH(c) * compV(c)
        c += 1
      }
      if (blocks > 10) throw Unsupported
      pos = end
    }

    def readSos(end: Int): Unit = {
      if (width == 0 || end - pos != 1 + 2 * 3 + 3 || u8(pos) != 3) throw Unsupported
      var c = 0
      while (c < 3) {
        val o = pos + 1 + 2 * c
        if (u8(o) != compId(c)) throw Unsupported
        dcTable(c) = u8(o + 1) >> 4
        acTable(c) = 4 + (u8(o + 1) & 15)
        if (dcTable(c) > 3 || acTable(c) > 7 || !huffDefined(dcTable(c)) ||
          !huffDefined(acTable(c)) || !quantDefined(compQ(c))) throw Unsupported
        c += 1
      }
      val o = pos + 7
      if (u8(o) != 0 || u8(o + 1) != 63 || u8(o + 2) != 0) throw Unsupported
      System.arraycopy(quant, compQ(0) * 64, lumaQ, 0, 64) // latched at SOS
      pos = end
    }

    // ---- entropy-coded data ---------------------------------------------

    /** Tops the bit buffer up to more than 56 bits, as libjpeg's
      * `jpeg_fill_bit_buffer` reads: FF 00 is a data FF, FF followed by
      * anything else is a marker, after which only zero bits come. */
    private def fill(): Unit =
      while (nbits <= 56) {
        var b = 0
        if (markerPos < 0 && pos < data.length) {
          b = data(pos) & 0xFF
          if (b == 0xFF) {
            var q = pos + 1
            while (q < data.length && (data(q) & 0xFF) == 0xFF) q += 1
            if (q < data.length && data(q) == 0) pos = q + 1
            else { markerPos = pos; b = 0; padBits += 8 }
          } else pos += 1
        } else padBits += 8
        bits = (bits << 8) | b
        nbits += 8
      }

    private def getBits(n: Int): Int = {
      if (nbits < n) fill()
      nbits -= n
      ((bits >>> nbits) & ((1L << n) - 1)).toInt
    }

    private def decodeSym(slot: Int): Int = {
      if (nbits < 16) fill()
      val e = look(slot * 512 + ((bits >>> (nbits - 9)) & 511).toInt)
      if (e != 0) {
        nbits -= e >>> 8
        e & 0xFF
      } else {
        var l = 10
        var code = ((bits >>> (nbits - l)) & ((1 << l) - 1)).toInt
        while (code > maxCode(slot * 17 + l)) {
          l += 1
          if (l > 16) throw Unsupported // no such code: libjpeg warns and guesses
          code = ((bits >>> (nbits - l)) & ((1 << l) - 1)).toInt
        }
        nbits -= l
        values(slot * 256 + ((code + valOffset(slot * 17 + l)) & 0xFF))
      }
    }

    private def extend(v: Int, s: Int): Int =
      if (v < (1 << (s - 1))) v + (-1 << s) + 1 else v

    /** One block's coefficients, in natural order, into `coef` (luma) or
      * checked to be all zero (chroma); returns the new DC predictor. */
    private def block(c: Int, pred: Int): Int = {
      val dcS = decodeSym(dcTable(c))
      if (dcS > 11) throw Unsupported
      val dc = pred + (if (dcS == 0) 0 else extend(getBits(dcS), dcS))
      val luma = c == 0
      if (luma) {
        java.util.Arrays.fill(coef, 0)
        coef(0) = dc.toShort
      } else if (dc != 0) throw Unsupported
      val ac = acTable(c)
      var k = 1
      while (k < 64) {
        val rs = decodeSym(ac)
        val r = rs >> 4; val s = rs & 15
        if (s != 0) {
          if (!luma || s > 10) throw Unsupported
          k += r
          if (k > 63) throw Unsupported
          coef(Natural(k)) = extend(getBits(s), s).toShort
          k += 1
        } else if (r == 15) k += 16
        else k = 64
      }
      dc
    }

    /** Decodes the scan: luma blocks inside the image are transformed into
      * `plane` (stride `width`), every other block only checked. */
    def scan(): Unit = {
      val hMax = compH(0); val vMax = compV(0)
      val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
      val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
      if (plane.length < width * height) plane = new Array[Byte](width * height)
      java.util.Arrays.fill(preds, 0)
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var c = 0
          while (c < 3) {
            var v = 0
            while (v < compV(c)) {
              var h = 0
              while (h < compH(c)) {
                preds(c) = block(c, preds(c))
                if (c == 0) {
                  val x0 = (mx * hMax + h) * 8; val y0 = (my * vMax + v) * 8
                  if (x0 < width && y0 < height) idct(y0 * width + x0)
                }
                h += 1
              }
              v += 1
            }
            c += 1
          }
          mx += 1
        }
        my += 1
      }
      // the scan must end inside the real data, and the next marker be EOI
      if (nbits < padBits || !eoiFollows(if (markerPos >= 0) markerPos else pos))
        throw Unsupported
    }

    /** The first marker at or after `from` is EOI (FF 00 is data, an FF run
      * is fill). */
    private def eoiFollows(from: Int): Boolean = {
      var q = from
      while (q + 1 < data.length) {
        if ((data(q) & 0xFF) == 0xFF) {
          val m = data(q + 1) & 0xFF
          if (m == 0xD9) return true
          if (m != 0 && m != 0xFF) return false
        }
        q += 1
      }
      false
    }

    /** libjpeg's post-IDCT range limit: the descaled value wraps to 10 bits
      * (`& RANGE_MASK`), reads as signed, then clamps to [0, 255] around
      * CENTERJSAMPLE. */
    private def limit(x: Long): Byte = {
      val v = ((x.toInt + 512) & 1023) - 512 + 128
      (if (v < 0) 0 else if (v > 255) 255 else v).toByte
    }

    private def descale(x: Long, n: Int): Long = (x + (1L << (n - 1))) >> n

    /** `jpeg_idct_islow` over `coef` (dequantized by `lumaQ`) into the 8×8
      * block of `plane` at `out`. A column or row with no AC term takes
      * jidctint's shortcut, which gives what the full pass would. */
    private def idct(out: Int): Unit = {
      var col = 0
      while (col < 8) { // pass 1: columns → ws, scaled up by 2^Pass1Bits
        if (coef(8 + col) == 0 && coef(16 + col) == 0 && coef(24 + col) == 0 &&
          coef(32 + col) == 0 && coef(40 + col) == 0 && coef(48 + col) == 0 &&
          coef(56 + col) == 0) {
          val dc = (coef(col) * lumaQ(col)) << Pass1Bits
          var r = 0
          while (r < 8) { ws(r * 8 + col) = dc; r += 1 }
        } else {
          def in(r: Int): Long = coef(r * 8 + col).toLong * lumaQ(r * 8 + col)
          butterfly(in(0), in(1), in(2), in(3), in(4), in(5), in(6), in(7))
          var r = 0
          while (r < 8) { ws(r * 8 + col) = descale(acc(r), ConstBits - Pass1Bits).toInt; r += 1 }
        }
        col += 1
      }
      var row = 0
      while (row < 8) { // pass 2: rows → samples
        val w = row * 8
        val o = out + row * width
        if (ws(w + 1) == 0 && ws(w + 2) == 0 && ws(w + 3) == 0 && ws(w + 4) == 0 &&
          ws(w + 5) == 0 && ws(w + 6) == 0 && ws(w + 7) == 0)
          java.util.Arrays.fill(plane, o, o + 8, limit(descale(ws(w), Pass1Bits + 3)))
        else {
          butterfly(ws(w), ws(w + 1), ws(w + 2), ws(w + 3), ws(w + 4), ws(w + 5),
            ws(w + 6), ws(w + 7))
          var x = 0
          while (x < 8) {
            plane(o + x) = limit(descale(acc(x), ConstBits + Pass1Bits + 3))
            x += 1
          }
        }
        row += 1
      }
    }

    /** jidctint's even/odd butterfly over one column or row, its inputs in
      * natural order (dequantized), its 8 outputs, not yet descaled, into
      * `acc`. Integer sums, so the grouping below gives libjpeg's values. */
    private def butterfly(i0: Long, i1: Long, i2: Long, i3: Long, i4: Long,
        i5: Long, i6: Long, i7: Long): Unit = {
      // even part
      val z1 = (i2 + i6) * Fix0541196100
      val t2 = z1 + i6 * -Fix1847759065
      val t3 = z1 + i2 * Fix0765366865
      val t0 = (i0 + i4) << ConstBits
      val t1 = (i0 - i4) << ConstBits
      val tmp10 = t0 + t3; val tmp13 = t0 - t3
      val tmp11 = t1 + t2; val tmp12 = t1 - t2
      // odd part
      val z3 = i7 + i3; val z4 = i5 + i1
      val z5 = (z3 + z4) * Fix1175875602
      val za = (i7 + i1) * -Fix0899976223
      val zb = (i5 + i3) * -Fix2562915447
      val zc = z3 * -Fix1961570560 + z5
      val zd = z4 * -Fix0390180644 + z5
      val o0 = i7 * Fix0298631336 + za + zc
      val o1 = i5 * Fix2053119869 + zb + zd
      val o2 = i3 * Fix3072711026 + zb + zc
      val o3 = i1 * Fix1501321110 + za + zd
      acc(0) = tmp10 + o3; acc(7) = tmp10 - o3
      acc(1) = tmp11 + o2; acc(6) = tmp11 - o2
      acc(2) = tmp12 + o1; acc(5) = tmp12 - o1
      acc(3) = tmp13 + o0; acc(4) = tmp13 - o0
    }

    /** avgHash64 of the gray plane: block sums in raster order, each pixel
      * as `0.299 * v + 0.587 * v + 0.114 * v`, as PngCodec's gray path. */
    def hash(): Long = {
      val bw = width / 8; val bh = height / 8
      java.util.Arrays.fill(blockSum, 0.0)
      var y = 0
      while (y < height) {
        val by = y / bh
        var x = 0
        while (x < width) {
          val v = (plane(y * width + x) & 0xFF).toDouble
          blockSum(by * 8 + x / bw) += 0.299 * v + 0.587 * v + 0.114 * v
          x += 1
        }
        y += 1
      }
      PngCodec.hashBits(blockSum, (bw * bh).toDouble)
    }
  }

  private val decoder = new ThreadLocal[Decoder] {
    override def initialValue() = new Decoder
  }

  private def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length > 3 && (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8

  /** (w, h, avgHash64) of a stream in the subset, or null for any other
    * stream (the caller decodes that one with ImageIO). */
  def lumaHash(bytes: Array[Byte]): (Int, Int, Long) = {
    if (!isJpeg(bytes)) return null
    val d = decoder.get()
    d.reset(bytes)
    try {
      var jfif = false
      var done = false
      while (!done) {
        val m = d.nextMarker()
        if (m == 0xD8 || m == 0xD9 || (m >= 0xD0 && m <= 0xD7) || m == 0x01)
          throw Unsupported
        val end = d.segment()
        m match {
          case 0xC0 | 0xC1 => d.readSof(end)
          case 0xC4 => d.readDht(end)
          case 0xDB => d.readDqt(end)
          case 0xDD => if (d.u16(d.pos) != 0) throw Unsupported
          case 0xDA =>
            if (!jfif) throw Unsupported
            d.readSos(end)
            d.scan()
            done = true
          case 0xE0 =>
            if (d.startsWith(end, "JFIF\u0000")) jfif = true
          case 0xE2 | 0xEE => throw Unsupported // ICC profile / Adobe transform
          case _ if (m >= 0xE1 && m <= 0xEF) || m == 0xFE => () // other APPn, COM
          case _ => throw Unsupported // other SOFn, DAC, DNL, DHP, EXP, JPGn
        }
        if (!done) d.pos = end
      }
      (d.width, d.height, d.hash())
    } catch {
      case Unsupported => null
    } finally d.data = null
  }
}
