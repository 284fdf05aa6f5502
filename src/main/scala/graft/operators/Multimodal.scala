package graft.operators

import java.awt.image.{BufferedImage, DataBufferByte, PixelInterleavedSampleModel}
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.sources.ImageFixture

/** Multimodal column operators: the image payload (`bytes` binary + typed
  * metadata w/h/fmt) is decoded and its stored phash verified on the
  * executors. Decode is real (javax.imageio handles png/jpeg/bmp in-JDK);
  * the Spark-side plumbing — schema, batch shape, partition-local reader
  * reuse — is the part that matters at 10^12 rows: decode is a narrow
  * per-partition map with zero shuffle, so it scales linearly with executors.
  *
  * (The reference pipes payloads through ogr2ogr subprocesses, app.py:549-616;
  * ours stay in-JVM.)
  */
object Multimodal {

  // disable ImageIO's disk-backed stream cache: with 32 decode threads the
  // temp-file cache serializes on filesystem ops and kills scaling
  ImageIO.setUseCache(false)

  /** Per-thread cached ImageReaders. ImageIO.read() does a synchronized SPI
    * registry scan + reader construction PER CALL — measured ~30× per-decode
    * slowdown at 32 threads. Reusing a thread-local reader removes every
    * global lock from the decode hot path. */
  private val readerCache =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue() = new java.util.HashMap()
    }

  private def readerFor(fmt: String): javax.imageio.ImageReader = {
    val m = readerCache.get()
    var r = m.get(fmt)
    if (r == null) {
      r = ImageIO.getImageReadersByFormatName(fmt).next()
      m.put(fmt, r)
    }
    r
  }

  def decode(bytes: Array[Byte]): BufferedImage = {
    // PNG (the bulk of payloads) goes through our lock-free decoder —
    // javax.imageio's PNG path still hits synchronized ColorSpace singletons
    // per decode even with cached readers, capping scaling at ~10 threads
    if (PngCodec.isPng(bytes)) return PngCodec.decode(bytes)
    val reader = readerFor("jpeg")
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, true, true)
      reader.read(0)
    } finally {
      reader.setInput(null)
      iis.close()
    }
  }

  /** PSNR between two images of equal dims (dB; infinity-capped at 99.0).
    * Per-row invariant: decoded payload vs regenerated source pixels must
    * reach ≥40 dB for lossy fmts, exact for PNG (BASELINE.json input_hint). */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    require(a.getWidth == b.getWidth && a.getHeight == b.getHeight, "dim mismatch")
    var se = 0.0
    var n = 0
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        var c = 0
        while (c < 3) {
          val d = ((pa >> (8 * c)) & 0xFF) - ((pb >> (8 * c)) & 0xFF)
          se += d.toDouble * d; n += 1; c += 1
        }
        x += 1
      }
      y += 1
    }
    if (se == 0) 99.0 else {
      val mse = se / n
      math.min(99.0, 20 * math.log10(255.0) - 10 * math.log10(mse))
    }
  }

  // ---- DataFrame-level plumbing ------------------------------------------------

  /** (w, h, phash) of a payload. Both codecs' fast paths allocate nothing
    * per call and are bit-identical to avgHash64 of the full decode:
    *  - PNG: 8-bit truecolor or gray with 8-divisible dims takes
    *    [[PngCodec.lumaHash]], any other PNG the full PngCodec decode;
    *  - JPEG: a baseline gray-content JFIF stream (the fixture's payloads)
    *    takes [[JpegCodec.lumaHash]], which decodes only the luma plane;
    *    any other stream, and anything that is not PNG, decodes via the
    *    cached ImageIO reader and hashes the raster bytes. */
  def payloadInfo(bytes: Array[Byte]): (Int, Int, Long) =
    if (PngCodec.isPng(bytes)) {
      val hd = PngCodec.header(bytes)
      if (hd.bitDepth == 8 && (hd.colorType == 2 || hd.colorType == 0) &&
        hd.width % 8 == 0 && hd.height % 8 == 0 && hd.width <= 4096)
        PngCodec.lumaHash(bytes)
      else {
        val img = PngCodec.decode(bytes)
        (img.getWidth, img.getHeight, ImageFixture.avgHash64(img))
      }
    } else {
      val fast = JpegCodec.lumaHash(bytes)
      if (fast != null) fast
      else {
        val img = decode(bytes)
        (img.getWidth, img.getHeight, rasterHash64(img))
      }
    }

  /** [[ImageFixture.avgHash64]] read straight from the interleaved bytes of
    * a `TYPE_3BYTE_BGR` image, the JPEG reader's colour output: same loops,
    * same floating-point order, but no allocating `getRGB` per pixel. Any
    * other type or layout takes `avgHash64` itself. */
  private def rasterHash64(img: BufferedImage): Long = {
    val raster = img.getRaster
    (raster.getSampleModel, raster.getDataBuffer) match {
      case (sm: PixelInterleavedSampleModel, db: DataBufferByte)
          if img.getType == BufferedImage.TYPE_3BYTE_BGR && db.getNumBanks == 1 =>
        val data = db.getData
        val Array(ro, go, bo) = sm.getBandOffsets
        val (ps, ss) = (sm.getPixelStride, sm.getScanlineStride)
        val base = db.getOffset - raster.getSampleModelTranslateY * ss -
          raster.getSampleModelTranslateX * ps
        val g = new Array[Double](64)
        val (w, h) = (img.getWidth, img.getHeight)
        var i = 0
        while (i < 64) {
          val bx = i % 8; val by = i / 8
          var sum = 0.0; var n = 0
          var y = by * h / 8
          val yEnd = math.max(y + 1, (by + 1) * h / 8)
          while (y < yEnd) {
            var x = bx * w / 8
            val xEnd = math.max(x + 1, (bx + 1) * w / 8)
            while (x < xEnd) {
              val p = base + y * ss + x * ps
              sum += 0.299 * (data(p + ro) & 0xFF) + 0.587 * (data(p + go) & 0xFF) +
                0.114 * (data(p + bo) & 0xFF)
              n += 1; x += 1
            }
            y += 1
          }
          g(i) = sum / n
          i += 1
        }
        val mean = g.sum / 64
        var bits = 0L
        i = 0
        while (i < 64) { if (g(i) >= mean) bits |= (1L << i); i += 1 }
        bits
      case _ => ImageFixture.avgHash64(img)
    }
  }

  /** Decode + phash-verify only (the flagship ingest-verify step): replaces
    * the `bytes` column with `phash_hamming`. Narrow map, no shuffle. */
  def verifyPayloadLite(images: DataFrame): DataFrame =
    images
      .withColumn("phash_hamming",
        bit_count(col("phash").bitwiseXOR(Kernels.phash(col("bytes")))))
      .drop("bytes")
}
