package graft.sources

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** Manifest rows: per-file cell range and row count, tagged with the
    * snapshot that added the file (what Iceberg keeps in manifest files;
    * `append` reads its file list to find the new files). */
  private val ManifestSchema = StructType(Seq(
    StructField("file", StringType), StructField("cell_min", LongType),
    StructField("cell_max", LongType), StructField("rows", LongType),
    StructField("snapshot_id", LongType)))

  /** Snapshot log: one row per commit. */
  private val SnapshotSchema = StructType(Seq(
    StructField("snapshot_id", LongType), StructField("row_count", LongType),
    StructField("committed_at", LongType)))

  /** Cell-clustered data write: range-partitioned on the space-filling curve
    * (the CLUSTER analogue), sorted by cell within each file. Uncompressed:
    * the payload column is already-compressed PNG/JPEG, and the snappy
    * codec's JNI critical sections (GCLocker) collide with the humongous
    * byte-array allocations of the vectorized reader at 32 scan threads —
    * measured multi-second young-GC stalls. */
  private def writeData(rows: DataFrame, baseDir: String, partitions: Int,
      mode: SaveMode): Unit =
    ImageTable.derive(rows)
      .repartitionByRange(partitions, col("cell"))
      .sortWithinPartitions("cell")
      .write.mode(mode)
      .option("compression", "uncompressed")
      .parquet(s"$baseDir/data")

  /** Commit `files` as snapshot `sid`: their manifest rows (one aggregate,
    * collected once; one row per file that holds rows) and the snapshot log
    * entry with the rows they add. Returns the added row count. The driver
    * adds `sid` to the collected rows: as a plan literal it would be
    * inlined into the generated code, one new class per commit. */
  private def commit(spark: SparkSession, baseDir: String, files: Seq[String],
      sid: Long, mode: SaveMode): Long = {
    val rows =
      if (files.isEmpty) Array.empty[Row]
      else spark.read.schema(ImageTable.Schema).parquet(files: _*)
        .groupBy(input_file_name().as("file"))
        .agg(min("cell"), max("cell"), count(lit(1)))
        .collect()
        .map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3), sid))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ManifestSchema)
      .coalesce(1).write.mode(mode).parquet(s"$baseDir/manifest")
    val added = rows.map(_.getLong(3)).sum
    spark.createDataFrame(java.util.List.of(
        Row(sid, added, System.currentTimeMillis())), SnapshotSchema)
      .write.mode(mode).parquet(s"$baseDir/snapshot")
    added
  }

  /** Write as the engine's Iceberg-emulated table: data clustered by cell,
    * plus a manifest sidecar with per-file cell min/max and a snapshot log
    * (SURVEY.md §1.3, §7.1). Snapshot 1. */
  def write(spark: SparkSession, n: Long, baseDir: String, partitions: Int = 32): Unit = {
    writeData(generate(spark, n, partitions), baseDir, partitions, SaveMode.Overwrite)
    commit(spark, baseDir, dataFiles(spark, baseDir), 1L, SaveMode.Overwrite)
    ()
  }

  private def uriPath(s: String): String =
    try new java.net.URI(s).getPath catch { case _: Exception => s }

  /** The data files of the table, listed without opening any. */
  private def dataFiles(spark: SparkSession, baseDir: String): Seq[String] =
    read(spark, baseDir).inputFiles.toIndexedSeq

  /** Append-commit (Iceberg snapshot semantics): new data files land in the
    * data directory, the manifest gains rows tagged with the NEW snapshot id
    * (an append commit never rewrites existing manifest rows or data files),
    * and the snapshot log grows by one. Every read of the table's own files
    * passes the schema the engine wrote, so no read infers one. Returns the
    * new snapshot id. */
  def append(spark: SparkSession, rows: DataFrame, baseDir: String,
      partitions: Int = 4): Long = {
    import spark.implicits._
    val known = spark.read.schema(ManifestSchema).parquet(s"$baseDir/manifest")
      .select("file").as[String].collect().map(uriPath).toSet
    val sid = spark.read.schema(SnapshotSchema).parquet(s"$baseDir/snapshot")
      .select("snapshot_id").as[Long].collect().max + 1
    writeData(rows, baseDir, partitions, SaveMode.Append)
    // an append commit touches only the NEW files: diff the file LISTING
    // (no data scan) against the manifest, then aggregate just those files —
    // O(batch) per commit, never O(table)
    commit(spark, baseDir, dataFiles(spark, baseDir).filterNot(f => known(uriPath(f))),
      sid, SaveMode.Append)
    sid
  }

  /** Current-snapshot read (all committed files), with the schema the engine
    * wrote: no footer is opened until a query runs. A question about what the
    * files on disk really hold (an old table without `rings`) needs a plain
    * `spark.read.parquet` footer read instead. */
  def read(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.schema(ImageTable.Schema).parquet(s"$baseDir/data")
}
