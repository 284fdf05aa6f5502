package graft.sources

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic image+caption fixture generator (FIXTURES.md §1): the
  * engine's replacement for the reference's pokhara.osm.pbf fixture
  * (tests/fixtures/, stripped from the checkout). Fully self-synthesized —
  * seeded, reproducible per image_id, real PNG/JPEG payloads via
  * javax.imageio (in-JDK; no external data).
  */
object ImageFixture {

  final case class ImageRow(
      image_id: String, bytes: Array[Byte], w: Int, h: Int,
      fmt: String, caption: String, phash: Long)

  private val vocabKeys = Seq(
    "building" -> Seq("yes", "no", "school", "residential"),
    "highway" -> Seq("residential", "primary", "footway", "tertiary"),
    "amenity" -> Seq("shop", "toilet", "school", "cafe"),
    "waterway" -> Seq("river", "canal"),
    "landuse" -> Seq("farmland", "forest"))
  private val filler = Seq("lorem", "ipsum", "dolor", "sit", "amet", "scan",
    "tile", "alpha", "beta", "gamma")

  /** 64-bit FNV-1a — deterministic id hash, independent of the engine's
    * xxhash64 location derivation (used only for payload/caption content). */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  def imageId(i: Long): String = f"img$i%012d"

  /** Deterministic per-id pixel pattern: gradient + id-seeded rectangles. */
  def pixels(id: String, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val seed = fnv64(id)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // grayscale (r=g=b): JPEG 4:2:0 chroma subsampling then loses
        // nothing, and the low-frequency block pattern keeps luma
        // quantization loss small → PSNR≥40dB at quality .98
        val grad = (x * 127 / math.max(1, w - 1) + y * 127 / math.max(1, h - 1)) / 2
        val blk = ((seed >>> ((x / 8 + (y / 8) * 3) % 56)) & 0x7F).toInt
        val v = (grad + blk) / 2 * 2 & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Per-thread cached writers + explicit in-memory output streams: the
    * default ImageIO path (SPI scan + FileCacheImageOutputStream temp files)
    * both serializes threads and races in its StreamCloser shutdown hook
    * under 64-way parallel encode. */
  private val writerCache =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageWriter]] {
      override def initialValue() = new java.util.HashMap()
    }

  private def writerFor(fmt: String): javax.imageio.ImageWriter = {
    val m = writerCache.get()
    var w = m.get(fmt)
    if (w == null) {
      w = ImageIO.getImageWritersByFormatName(fmt).next()
      m.put(fmt, w)
    }
    w
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val writer = writerFor(fmt)
    val params = writer.getDefaultWriteParam
    if (fmt == "jpeg") {
      // explicit high quality so the decoded-pixel PSNR≥40dB invariant holds
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.98f)
    }
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      ios.flush()
    } finally {
      writer.setOutput(null)
      ios.close()
    }
    bos.toByteArray
  }

  /** 64-bit average-hash over an 8×8 grayscale downsample — the recomputable
    * per-row invariant (FIXTURES.md: phash equality). */
  def avgHash64(img: BufferedImage): Long = {
    val g = new Array[Double](64)
    val (w, h) = (img.getWidth, img.getHeight)
    var i = 0
    while (i < 64) {
      val bx = i % 8; val by = i / 8
      // average the block [bx*w/8, (bx+1)*w/8) × [by*h/8, (by+1)*h/8)
      var sum = 0.0; var n = 0
      var y = by * h / 8
      val yEnd = math.max(y + 1, (by + 1) * h / 8)
      while (y < yEnd) {
        var x = bx * w / 8
        val xEnd = math.max(x + 1, (bx + 1) * w / 8)
        while (x < xEnd) {
          val rgb = img.getRGB(x, y)
          sum += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
            0.114 * (rgb & 0xFF)
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
  }

  def caption(id: String): String = {
    val h = fnv64(id)
    val sb = new StringBuilder
    // 1-3 k=v tags
    val nTags = 1 + (math.abs(h) % 3).toInt
    var i = 0
    while (i < nTags) {
      val (k, vs) = vocabKeys((math.abs(h >> (7 * i + 3)) % vocabKeys.size).toInt)
      val v = vs((math.abs(h >> (7 * i + 9)) % vs.size).toInt)
      if (!sb.toString.contains(k + "=")) sb.append(k).append('=').append(v).append(' ')
      i += 1
    }
    sb.append("name=n").append(math.abs(h) % 1000)
    // filler words
    var j = 0
    val nFill = 2 + (math.abs(h >> 17) % 4).toInt
    while (j < nFill) {
      sb.append(' ').append(filler((math.abs(h >> (5 * j + 23)) % filler.size).toInt))
      j += 1
    }
    sb.toString
  }

  def row(i: Long): ImageRow = {
    val id = imageId(i)
    val h = fnv64(id)
    val w = Seq(16, 24, 32)((math.abs(h >> 11) % 3).toInt)
    val ht = Seq(16, 24, 32)((math.abs(h >> 13) % 3).toInt)
    val fmt = if (math.abs(h >> 19) % 4 == 0) "jpeg" else "png"
    val img = pixels(id, w, ht)
    ImageRow(id, encode(img, fmt), w, ht, fmt, caption(id), avgHash64(img))
  }

  /** Generate the fixture as a Dataset (distributed; one task per range
    * partition — encoding is per-row CPU work, no shuffle). */
  def generate(spark: SparkSession, n: Long, partitions: Int = 32): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).as[Long].map(row _).toDF()
  }

  /** Write as the engine's Iceberg-emulated table: data clustered by cell
    * (range-partitioned on the space-filling curve = CLUSTER analogue), plus
    * a manifest sidecar with per-file cell min/max and a snapshot log
    * (SURVEY.md §1.3, §7.1). Snapshot 1. */
  def write(spark: SparkSession, n: Long, baseDir: String, partitions: Int = 32): Unit = {
    import spark.implicits._
    val df = ImageTable.derive(generate(spark, n, partitions))
    // uncompressed: the payload column is already-compressed PNG/JPEG, and
    // the snappy codec's JNI critical sections (GCLocker) collide with the
    // humongous byte-array allocations of the vectorized reader at 32 scan
    // threads — measured multi-second young-GC stalls
    df.repartitionByRange(partitions, col("cell"))
      .sortWithinPartitions("cell")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "uncompressed")
      .parquet(s"$baseDir/data")
    // manifest: per-file cell range + owning snapshot (what Iceberg keeps in
    // manifest files; `append` reads its file list to find the new files)
    val manifest = spark.read.parquet(s"$baseDir/data")
      .groupBy(input_file_name().as("file"))
      .agg(min("cell").as("cell_min"), max("cell").as("cell_max"),
        count(lit(1)).as("rows"))
      .withColumn("snapshot_id", lit(1L))
    manifest.write.mode(SaveMode.Overwrite).parquet(s"$baseDir/manifest")
    Seq((1L, n, System.currentTimeMillis()))
      .toDF("snapshot_id", "row_count", "committed_at")
      .write.mode(SaveMode.Overwrite).parquet(s"$baseDir/snapshot")
  }

  private def uriPath(s: String): String =
    try new java.net.URI(s).getPath catch { case _: Exception => s }

  /** Append-commit (Iceberg snapshot semantics): new data files land in the
    * data directory, the manifest gains rows tagged with the NEW snapshot id
    * (an append commit never rewrites existing manifest rows or data files),
    * and the snapshot log grows by one. Returns the new snapshot id. */
  def append(spark: SparkSession, rows: DataFrame, baseDir: String,
      partitions: Int = 4): Long = {
    import spark.implicits._
    val known = spark.read.parquet(s"$baseDir/manifest")
      .select("file").as[String].collect().map(uriPath).toSet
    val sid = spark.read.parquet(s"$baseDir/snapshot")
      .agg(max("snapshot_id")).as[Long].head() + 1
    ImageTable.derive(rows)
      .repartitionByRange(partitions, col("cell"))
      .sortWithinPartitions("cell")
      .write.mode(SaveMode.Append)
      .option("compression", "uncompressed")
      .parquet(s"$baseDir/data")
    // an append commit touches only the NEW files: diff the file LISTING
    // (no data scan) against the manifest, then aggregate just those files —
    // O(batch) per commit, never O(table)
    val newFiles = spark.read.parquet(s"$baseDir/data").inputFiles
      .filterNot(f => known(uriPath(f)))
    val newManifest = spark.read.parquet(newFiles.toIndexedSeq: _*)
      .groupBy(input_file_name().as("file"))
      .agg(min("cell").as("cell_min"), max("cell").as("cell_max"),
        count(lit(1)).as("rows"))
      .withColumn("snapshot_id", lit(sid))
    newManifest.write.mode(SaveMode.Append).parquet(s"$baseDir/manifest")
    val added = newManifest.agg(coalesce(sum("rows"), lit(0L))).as[Long].head()
    Seq((sid, added, System.currentTimeMillis()))
      .toDF("snapshot_id", "row_count", "committed_at")
      .write.mode(SaveMode.Append).parquet(s"$baseDir/snapshot")
    sid
  }

  /** Current-snapshot read (all committed files). */
  def read(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(s"$baseDir/data")
}
