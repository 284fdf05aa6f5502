package graft.operators

import java.awt.image.BufferedImage
import java.util.zip.Inflater

/** Minimal, allocation-lean, lock-free PNG decoder for the payload subset the
  * fixture writes: 8-bit, color type 2 (truecolor) or 0 (grayscale),
  * non-interlaced, any number of IDAT chunks.
  *
  * Exists because javax.imageio's PNG path takes JVM-global locks
  * (ColorSpace/ImageTypeSpecifier singletons) on every decode — measured to
  * cap decode scaling at ~10 threads regardless of core count. This decoder
  * touches no shared state, so 32-thread decode scales with the CPUs.
  * Format reference: the public PNG specification (RFC 2083).
  */
object PngCodec {

  private val Signature = Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length > 8 && (0 until 8).forall(i => (bytes(i) & 0xFF) == Signature(i))

  private def i32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)

  final case class Header(width: Int, height: Int, bitDepth: Int, colorType: Int)

  def header(bytes: Array[Byte]): Header = {
    // IHDR is always the first chunk at offset 8 (len=13)
    require(isPng(bytes), "not a PNG")
    Header(i32(bytes, 16), i32(bytes, 20), bytes(24) & 0xFF, bytes(25) & 0xFF)
  }

  // ---- allocation-free phash path -------------------------------------------
  // Thread-local scratch (buffers + a reused Inflater): at 32 decode threads
  // the per-decode garbage (~12KB) drives young GCs that collide with
  // Inflater's JNI critical sections (GCLocker stalls) — reuse removes both.
  private final class Scratch {
    var raw = new Array[Byte](64 * 1024)
    // direct ByteBuffers for Inflater I/O: the byte[] overloads pin arrays
    // via JNI critical regions, and at 32 threads those collide with young
    // GCs (GCLocker stalls); the ByteBuffer path (JDK 11+) doesn't pin
    var idatBuf = java.nio.ByteBuffer.allocateDirect(64 * 1024)
    var rawBuf = java.nio.ByteBuffer.allocateDirect(256 * 1024)
    val cur = new Array[Int](3 * 4096)
    val prev = new Array[Int](3 * 4096)
    val blockSum = new Array[Double](64)
    val inflater = new Inflater()
  }
  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue() = new Scratch
  }

  /** (w, h, avgHash64) without any per-call allocation; bit-identical to
    * ImageFixture.avgHash64 over the decoded pixels for 8-divisible dims
    * (same luma formula, same FP accumulation order). */
  def lumaHash(bytes: Array[Byte]): (Int, Int, Long) = {
    val hd = header(bytes)
    require(hd.bitDepth == 8 && (hd.colorType == 2 || hd.colorType == 0) &&
      hd.width % 8 == 0 && hd.height % 8 == 0 && hd.width <= 4096,
      s"unsupported PNG for fast path: $hd")
    val s = scratch.get()
    val bpp = if (hd.colorType == 2) 3 else 1
    val stride = hd.width * bpp
    val rawLen = (stride + 1) * hd.height

    // gather IDAT into the direct input buffer
    if (s.idatBuf.capacity() < bytes.length)
      s.idatBuf = java.nio.ByteBuffer.allocateDirect(
        math.max(s.idatBuf.capacity() * 2, bytes.length))
    s.idatBuf.clear()
    var o = 8
    var done = false
    while (!done && o + 8 <= bytes.length) {
      val len = i32(bytes, o)
      val typ = bytes(o + 4) // 'I'=73; check 4 bytes cheaply
      if (typ == 'I' && bytes(o + 5) == 'D' && bytes(o + 6) == 'A' && bytes(o + 7) == 'T')
        s.idatBuf.put(bytes, o + 8, len)
      if (typ == 'I' && bytes(o + 5) == 'E' && bytes(o + 6) == 'N' && bytes(o + 7) == 'D')
        done = true
      o += len + 12
    }
    s.idatBuf.flip()

    if (s.raw.length < rawLen) s.raw = new Array[Byte](rawLen)
    if (s.rawBuf.capacity() < rawLen)
      s.rawBuf = java.nio.ByteBuffer.allocateDirect(
        math.max(s.rawBuf.capacity() * 2, rawLen))
    s.rawBuf.clear().limit(rawLen)
    val inf = s.inflater
    inf.reset()
    inf.setInput(s.idatBuf)
    while (!inf.finished() && s.rawBuf.hasRemaining) {
      val n = inf.inflate(s.rawBuf)
      if (n == 0 && !inf.finished())
        require(!s.rawBuf.hasRemaining, s"truncated PNG stream at ${s.rawBuf.position()}/$rawLen")
    }
    s.rawBuf.flip()
    s.rawBuf.get(s.raw, 0, rawLen)

    val bw = hd.width / 8; val bh = hd.height / 8
    java.util.Arrays.fill(s.blockSum, 0.0)
    var y = 0
    while (y < hd.height) {
      val rowOff = y * (stride + 1)
      val filter = s.raw(rowOff) & 0xFF
      val cur = s.cur; val prev = s.prev
      var x = 0
      while (x < stride) {
        val rawv = s.raw(rowOff + 1 + x) & 0xFF
        val a = if (x >= bpp) cur(x - bpp) else 0
        val b = if (y > 0) prev(x) else 0
        val c = if (x >= bpp && y > 0) prev(x - bpp) else 0
        val v = filter match {
          case 0 => rawv
          case 1 => rawv + a
          case 2 => rawv + b
          case 3 => rawv + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            rawv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case f => throw new IllegalArgumentException(s"bad PNG filter $f")
        }
        cur(x) = v & 0xFF
        x += 1
      }
      val by = y / bh
      var px = 0
      while (px < hd.width) {
        val luma =
          if (bpp == 3)
            0.299 * cur(px * 3) + 0.587 * cur(px * 3 + 1) + 0.114 * cur(px * 3 + 2)
          else {
            // bit-identical to avgHash64's formula on r=g=b (same IEEE-754
            // association order), not the algebraically-equal raw sample
            val v = cur(px).toDouble
            0.299 * v + 0.587 * v + 0.114 * v
          }
        s.blockSum(by * 8 + px / bw) += luma
        px += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    (hd.width, hd.height, hashBits(s.blockSum, (bw * bh).toDouble))
  }

  /** The 64 hash bits from the 8×8 block sums of `n` pixels each, in
    * avgHash64's order: each block's mean against the mean of the means. */
  private[operators] def hashBits(blockSum: Array[Double], n: Double): Long = {
    var mean = 0.0
    var i = 0
    while (i < 64) { mean += blockSum(i) / n; i += 1 }
    mean /= 64
    var bits = 0L
    i = 0
    while (i < 64) { if (blockSum(i) / n >= mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** Decode to a TYPE_INT_RGB BufferedImage (grayscale expands to r=g=b). */
  def decode(bytes: Array[Byte]): BufferedImage = {
    val h = header(bytes)
    require(h.bitDepth == 8 && (h.colorType == 2 || h.colorType == 0),
      s"unsupported PNG variant: depth=${h.bitDepth} color=${h.colorType}")
    val bpp = if (h.colorType == 2) 3 else 1
    val stride = h.width * bpp

    // concatenate IDAT payloads
    val idat = new java.io.ByteArrayOutputStream()
    var o = 8
    var done = false
    while (!done && o + 8 <= bytes.length) {
      val len = i32(bytes, o)
      val typ = new String(bytes, o + 4, 4, "US-ASCII")
      if (typ == "IDAT") idat.write(bytes, o + 8, len)
      if (typ == "IEND") done = true
      o += len + 12 // len + type + data + crc
    }

    // inflate to raw scanlines (1 filter byte + stride per row)
    val raw = new Array[Byte]((stride + 1) * h.height)
    val inf = new Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    while (!inf.finished() && off < raw.length) {
      val n = inf.inflate(raw, off, raw.length - off)
      // same truncation guard as lumaHash: a stalled inflater on a malformed
      // stream must error, not spin
      if (n == 0 && !inf.finished())
        throw new IllegalArgumentException(
          s"truncated PNG stream at $off/${raw.length}")
      off += n
    }
    inf.end()

    // unfilter in place into prev/cur rows, pack into INT_RGB
    val img = new BufferedImage(h.width, h.height, BufferedImage.TYPE_INT_RGB)
    val prev = new Array[Int](stride)
    val cur = new Array[Int](stride)
    var y = 0
    while (y < h.height) {
      val rowOff = y * (stride + 1)
      val filter = raw(rowOff) & 0xFF
      var x = 0
      while (x < stride) {
        val rawv = raw(rowOff + 1 + x) & 0xFF
        val a = if (x >= bpp) cur(x - bpp) else 0 // left
        val b = prev(x) // up
        val c = if (x >= bpp) prev(x - bpp) else 0 // up-left
        val v = filter match {
          case 0 => rawv
          case 1 => rawv + a
          case 2 => rawv + b
          case 3 => rawv + ((a + b) >> 1)
          case 4 => // Paeth
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            rawv + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case f => throw new IllegalArgumentException(s"bad PNG filter $f")
        }
        cur(x) = v & 0xFF
        x += 1
      }
      // pack row
      var px = 0
      if (bpp == 3) {
        while (px < h.width) {
          img.setRGB(px, y,
            (cur(px * 3) << 16) | (cur(px * 3 + 1) << 8) | cur(px * 3 + 2))
          px += 1
        }
      } else {
        while (px < h.width) {
          val g = cur(px)
          img.setRGB(px, y, (g << 16) | (g << 8) | g)
          px += 1
        }
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    img
  }
}
