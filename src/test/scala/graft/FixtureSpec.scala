package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.stream.MemoryCacheImageOutputStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{JpegCodec, Multimodal}
import graft.sources.{ImageFixture, ImageTable}

/** Fixture invariants from BASELINE.json input_hint / FIXTURES.md: decoded
  * pixels PSNR≥40dB (exact for png), caption/tags parity, phash integrity,
  * Iceberg-emulated write layout. */
class FixtureSpec extends SparkSpec {

  private val N = 400L
  private lazy val rows = (0L until N).map(ImageFixture.row)

  test("payload: dims match, PSNR≥40dB (png exact), phash recomputable") {
    rows.foreach { r =>
      val decoded = Multimodal.decode(r.bytes)
      assert(decoded.getWidth == r.w && decoded.getHeight == r.h, r.image_id)
      val src = ImageFixture.pixels(r.image_id, r.w, r.h)
      val p = Multimodal.psnr(decoded, src)
      if (r.fmt == "png") assert(p == 99.0, s"${r.image_id}: png not lossless")
      else assert(p >= 40.0, s"${r.image_id}: jpeg PSNR $p < 40 dB")
      val hamming = java.lang.Long.bitCount(
        ImageFixture.avgHash64(decoded) ^ r.phash)
      if (r.fmt == "png") assert(hamming == 0, r.image_id)
      else assert(hamming <= 8, s"${r.image_id}: phash drift $hamming bits")
    }
    assert(rows.exists(_.fmt == "jpeg") && rows.exists(_.fmt == "png"))
  }

  test("JPEG phash from the raster bytes ≡ avgHash64 of the ImageIO decode") {
    def reference(bytes: Array[Byte]): (java.awt.image.BufferedImage, Long) = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      (img, ImageFixture.avgHash64(img))
    }
    val jpegs = (0L until 3000L).map(ImageFixture.row).filter(_.fmt == "jpeg")
    assert(jpegs.size > 500, s"${jpegs.size} JPEG rows")
    jpegs.foreach { r =>
      val (img, hash) = reference(r.bytes)
      assert(img.getType == BufferedImage.TYPE_3BYTE_BGR, r.image_id)
      assert(Multimodal.payloadInfo(r.bytes)._3 == hash, r.image_id)
    }
    // every JPEG among the ids the benchmark ingests or appends takes the
    // luma fast path and equals ImageIO: dims and hash
    val parity = ImageFixture.generate(spark, 88000L, 8)
      .filter(col("fmt") === "jpeg").select("bytes").rdd
      .map(r => FixtureSpec.jpegParity(r.getAs[Array[Byte]](0)))
      .countByValue()
    assert(parity.keySet == Set((true, true)), s"(fast, equal) → count: $parity")
    assert(parity((true, true)) > 20000, s"$parity")
    // seeded gray and colour images, 8–64 px a side, quality 0.5–1.0: gray
    // with 8-divisible sides is fast, everything else falls back; all equal
    val rng = new scala.util.Random(4242L)
    val seen = (0 until 2000).map { i =>
      val gray = i % 2 == 0
      def side = if (rng.nextInt(3) > 0) 8 * (1 + rng.nextInt(8)) else 8 + rng.nextInt(57)
      val (w, h) = (side, side)
      val noisy = rng.nextBoolean()
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        def level = if (noisy) rng.nextInt(256) else (x * 255 / w + y * 255 / h) / 2
        val rgb = if (gray) { val v = level; (v << 16) | (v << 8) | v }
          else (level << 16) | (rng.nextInt(256) << 8) | level
        img.setRGB(x, y, rgb)
      }
      val bytes = if (i % 10 == 0) ImageFixture.encode(img, "jpeg")
        else FixtureSpec.jpeg(img, 0.5f + 0.5f * rng.nextFloat(), progressive = false)
      val fast = JpegCodec.lumaHash(bytes)
      val expectFast = gray && w % 8 == 0 && h % 8 == 0
      assert((fast != null) == expectFast, s"image $i: ${w}x$h gray=$gray")
      assert(FixtureSpec.jpegParity(bytes) == ((expectFast, true)), s"image $i")
      expectFast
    }
    assert(seen.count(identity) > 500 && seen.count(!_) > 1000)
    // a grayscale JPEG decodes to TYPE_BYTE_GRAY and takes avgHash64 itself
    val gray = new BufferedImage(24, 16, BufferedImage.TYPE_BYTE_GRAY)
    gray.getGraphics.drawImage(ImageFixture.pixels("gray", 24, 16), 0, 0, null)
    val out = new ByteArrayOutputStream
    assert(ImageIO.write(gray, "jpeg", out))
    val (img, hash) = reference(out.toByteArray)
    assert(img.getType == BufferedImage.TYPE_BYTE_GRAY)
    assert(Multimodal.payloadInfo(out.toByteArray)._3 == hash)
    // one component, a progressive frame, a cut stream: all fall back
    val fixture = jpegs.head.bytes
    val progressive = FixtureSpec.jpeg(ImageFixture.pixels("p", 32, 32), 0.9f,
      progressive = true)
    for ((name, bytes) <- Seq("gray" -> out.toByteArray, "progressive" -> progressive,
        "cut in the scan" -> fixture.take(fixture.length / 2),
        "cut before EOI" -> fixture.dropRight(2))) {
      assert(JpegCodec.lumaHash(bytes) == null, name)
    }
    assert(FixtureSpec.jpegParity(progressive) == ((false, true)))
    assert(JpegCodec.lumaHash(fixture) != null)
  }

  test("captions parse to non-empty tag maps with name key") {
    rows.foreach { r =>
      val kv = r.caption.split(" ").filter(_.contains("=")).map { t =>
        val Array(k, v) = t.split("=", 2); (k, v)
      }.toMap
      assert(kv.contains("name"), r.caption)
      assert(kv.nonEmpty)
    }
  }

  test("generate/derive in Spark matches local rows; captionTags parses captions") {
    val df = ImageTable.derive(ImageFixture.generate(spark, N, 4))
    val got = df.select(col("image_id"), col("caption"), col("tags"),
        col("lon"), col("lat"), col("kind"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.size == N)
    rows.foreach { r =>
      val row = got(r.image_id)
      assert(row.getString(1) == r.caption)
      val tags = row.getMap[String, String](2)
      val expect = r.caption.split(" ").filter(_.contains("="))
        .map { t => val Array(k, v) = t.split("=", 2); (k, v) }.toMap
      assert(tags.toMap == expect, r.image_id)
      val (lon, lat) = (row.getDouble(3), row.getDouble(4))
      assert(lon >= -180 && lon <= 180 && lat >= -85 && lat <= 85)
      assert(Seq("point", "line", "polygon").contains(row.getString(5)))
    }
  }

  test("verifyPayload over the distributed fixture") {
    val df = ImageFixture.generate(spark, N, 4)
    val v = Multimodal.verifyPayloadLite(df)
    assert(v.columns.toSet == df.columns.toSet - "bytes" + "phash_hamming")
    val got = v.select("image_id", "fmt", "phash_hamming").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(got.size == N)
    assert(got.values.exists(_._1 == "png") && got.values.exists(_._1 == "jpeg"))
    got.foreach { case (id, (fmt, h)) =>
      if (fmt == "png") assert(h == 0, id) else assert(h <= 8, s"$id: jpeg drift $h bits")
    }
    // a stored phash with one bit flipped reads exactly that one bit
    val pngId = got.collectFirst { case (id, ("png", _)) => id }.get
    val flipped = Multimodal.verifyPayloadLite(
        df.filter(col("image_id") === pngId)
          .withColumn("phash", col("phash").bitwiseXOR(lit(1L << 17))))
      .select("phash_hamming").collect()
    assert(flipped.map(_.getInt(0)).toSeq == Seq(1))
  }

  test("skewed location derivation: hottest res-4 cell ≫ uniform share") {
    val df = ImageTable.derive(ImageFixture.generate(spark, 2000, 4))
    val top = df.groupBy(
        graft.functions.GeoCols.cellCol(4, col("lon"), col("lat")).as("c"))
      .count().orderBy(desc("count")).limit(1)
      .collect().head.getLong(1)
    // uniform share would be ~2000/256 ≈ 8; the cube transform concentrates
    assert(top > 100, s"expected heavy skew, hottest cell has $top")
  }

  test("Iceberg-emulated write: clustered data + manifest + snapshot") {
    val dir = Files.createTempDirectory("imgtbl").toString
    ImageFixture.write(spark, N, dir, partitions = 4)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == N)
    val manifest = spark.read.parquet(s"$dir/manifest")
    assert(manifest.count() >= 1)
    // manifest covers all rows and cell ranges are consistent
    val m = manifest.agg(sum("rows")).collect().head.getLong(0)
    assert(m == N)
    val snap = spark.read.parquet(s"$dir/snapshot").collect().head
    assert(snap.getLong(1) == N)
  }

  test("Iceberg-emulated append commit: new snapshot id, current read, snapshot log") {
    val dir = Files.createTempDirectory("imgtbl2").toString
    ImageFixture.write(spark, N, dir, partitions = 4)
    // append a second commit of 50 fresh ids (disjoint id range)
    val extra = ImageFixture.generate(spark, N + 50, 4)
      .filter(col("image_id") > ImageFixture.imageId(N - 1))
    val sid = ImageFixture.append(spark, extra, dir)
    assert(sid == 2L)
    // the current read sees both commits
    assert(ImageFixture.read(spark, dir).count() == N + 50)
    // snapshot log grew by one append entry with the added-row count
    val log = spark.read.parquet(s"$dir/snapshot").orderBy("snapshot_id").collect()
    assert(log.length == 2 && log(1).getLong(0) == 2L && log(1).getLong(1) == 50L)
  }

  /** `t` with every field, array element and map value nullable: what a
    * Parquet read reports for any written schema. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(m.keyType, nullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** Names, types (element and value nullability included) and nullability. */
  private def fields(t: DataType): Seq[(String, DataType, Boolean)] =
    t.asInstanceOf[StructType].fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  /** 50 fresh ids after the first N, as one append batch. */
  private def appendBatch = ImageFixture.generate(spark, N + 50, 4)
    .filter(col("image_id") > ImageFixture.imageId(N - 1))

  test("ImageTable.Schema = the footers of a written and an appended table") {
    val dir = Files.createTempDirectory("imgschema").toString
    ImageFixture.write(spark, N, dir, partitions = 4)
    // every data file's footer, merged: a file that differs shows
    def footers = spark.read.option("mergeSchema", "true").parquet(s"$dir/data").schema
    assert(fields(footers) == fields(ImageTable.Schema), "written table")
    ImageFixture.append(spark, appendBatch, dir)
    assert(fields(footers) == fields(ImageTable.Schema), "appended table")
    assert(fields(ImageFixture.read(spark, dir).schema) == fields(ImageTable.Schema))
    assert(fields(nullable(ImageTable.derive(ImageFixture.generate(spark, 10, 1)).schema)) ==
      fields(ImageTable.Schema), "derive over the raw rows, made nullable")
  }

  test("ImageFixture.read starts no job; an append commit runs at most 10 and writes the same manifest") {
    val dir = Files.createTempDirectory("imgjobs").toString
    ImageFixture.write(spark, N, dir, partitions = 4)
    assert(jobsOf(ImageFixture.read(spark, dir).columns) == 0, "no footer-inference job")
    var sid = 0L
    val jobs = jobsOf { sid = ImageFixture.append(spark, appendBatch, dir, partitions = 2) }
    assert(sid == 2L)
    info(s"append commit: $jobs Spark jobs")
    assert(jobs <= 10, s"append commit ran $jobs jobs")
    // manifest: one row per data file that holds rows, with the cell range
    // and row count an independent aggregate over the files gives; the 50
    // appended rows sit in files tagged with the new snapshot id
    val perFile = spark.read.parquet(s"$dir/data")
      .groupBy(input_file_name().as("file"))
      .agg(min("cell"), max("cell"), count(lit(1)))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val manifest = spark.read.parquet(s"$dir/manifest").collect()
      .map(r => (r.getAs[String]("file"), (r.getAs[Long]("cell_min"),
        r.getAs[Long]("cell_max"), r.getAs[Long]("rows"), r.getAs[Long]("snapshot_id"))))
    assert(manifest.map(_._1).toSet == perFile.keySet && manifest.length == perFile.size)
    manifest.foreach { case (f, (lo, hi, n, _)) => assert(perFile(f) == ((lo, hi, n))) }
    assert(manifest.filter(_._2._4 == 2L).map(_._2._3).sum == 50L)
    assert(manifest.filter(_._2._4 == 1L).map(_._2._3).sum == N)
    val log = spark.read.parquet(s"$dir/snapshot").orderBy("snapshot_id")
      .select("snapshot_id", "row_count").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(log.toSeq == Seq((1L, N), (2L, 50L)))
  }
}

object FixtureSpec {

  /** (the luma fast path took `bytes`, the payload's (w, h, phash) equals
    * the ImageIO decode's dims and avgHash64). */
  def jpegParity(bytes: Array[Byte]): (Boolean, Boolean) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    val fast = JpegCodec.lumaHash(bytes)
    (fast != null, (if (fast != null) fast else Multimodal.payloadInfo(bytes)) ==
      ((img.getWidth, img.getHeight, ImageFixture.avgHash64(img))))
  }

  /** `img` as a JPEG at `quality`, written by ImageIO, progressive or
    * baseline. */
  def jpeg(img: BufferedImage, quality: Float, progressive: Boolean): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    if (progressive) params.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    val bos = new ByteArrayOutputStream
    val ios = new MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), params)
      ios.flush()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }
}
