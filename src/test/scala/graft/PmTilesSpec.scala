package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream
import org.apache.spark.sql.functions.col
import graft.lineage.Lineage
import graft.sinks.{MbTiles, PmTiles}
import graft.sources.{ImageFixture, ImageTable}

/** PMTiles v3 archive layout against an independent minimal reader (gzip
  * varint directory, leaf directories, payload slicing and dedup) plus
  * Hilbert tile-id properties, and the resumable tile commit shared with
  * MBTiles; the MVT archive round-trip is in MvtSpec. */
class PmTilesSpec extends SparkSpec {

  test("hilbert tile ids are bijective per zoom and globally unique") {
    val z = 3
    val ds = for (x <- 0L until 8L; y <- 0L until 8L) yield PmTiles.hilbertD(z, x, y)
    assert(ds.toSet.size == 64 && ds.forall(d => d >= 0 && d < 64))
    assert(PmTiles.tileId(0, 0, 0) == 0L)
    assert(PmTiles.tileId(1, 0, 0) == 1L) // base after 1 zoom-0 tile
    assert(PmTiles.tileId(2, 0, 0) == 5L) // 1 + 4
    // adjacent hilbert ds differ by 1 along the curve: locality sanity
    val uniqueAcrossZooms = (0 to 3).flatMap(zz =>
      for (x <- 0L until (1L << zz); y <- 0L until (1L << zz))
        yield PmTiles.tileId(zz, x, y))
    assert(uniqueAcrossZooms.toSet.size == uniqueAcrossZooms.size)
  }

  test("directory varint encoding round-trips") {
    val entries = Seq(
      PmTiles.Entry(0, 0, 10), PmTiles.Entry(5, 10, 20), PmTiles.Entry(9, 30, 7))
    val b = PmTiles.encodeDirectory(entries)
    val (ids, lens, offs) = decodeDir(b)
    assert(ids == Seq(0L, 5L, 9L))
    assert(lens == Seq(10, 20, 7))
    assert(offs == Seq(0L, 10L, 30L))
  }

  private def decodeDirRuns(b: Array[Byte]): (Seq[Long], Seq[Int], Seq[Long], Seq[Long]) = {
    var pos = 0
    def varint(): Long = {
      var shift = 0; var v = 0L; var more = true
      while (more) {
        val x = b(pos) & 0xFF; pos += 1
        v |= (x & 0x7FL) << shift; shift += 7; more = (x & 0x80) != 0
      }
      v
    }
    val n = varint().toInt
    var last = 0L
    val ids = (0 until n).map { _ => last += varint(); last }
    val runs = (0 until n).map(_ => varint())
    val lens = (0 until n).map(_ => varint().toInt)
    var prevEnd = 0L
    val offs = (0 until n).map { i =>
      val v = varint()
      val o = if (v == 0) prevEnd else v - 1
      prevEnd = o + lens(i)
      o
    }
    (ids, lens, offs, runs)
  }

  private def decodeDir(b: Array[Byte]): (Seq[Long], Seq[Int], Seq[Long]) = {
    val (ids, lens, offs, runs) = decodeDirRuns(b)
    assert(runs.forall(_ == 1L))
    (ids, lens, offs)
  }

  private def gunzip(b: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(b))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  test("archives beyond leafSize entries spill into leaf directories") {
    import spark.implicits._
    // 40 distinct z6 tiles, leafSize 16 → 3 leaf directories (16/16/8)
    val rows = (0 until 40).map(i => (6, i.toLong, i.toLong,
      s"payload-$i".getBytes("UTF-8")))
    val perTile = rows.toDF("z", "tx", "ty", "payload")
    val dir = Files.createTempDirectory("pmtleaf").toString
    val path = s"$dir/leaf.pmtiles"
    val (n, total) = PmTiles.writePayloads(perTile, path, leafSize = 16)
    assert(n == 40)
    val bytes = Files.readAllBytes(Paths.get(path))
    assert(bytes.length.toLong == total)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val rootOff = bb.getLong(8); val rootLen = bb.getLong(16)
    val leafOff = bb.getLong(40); val leafLen = bb.getLong(48)
    val dataOff = bb.getLong(56)
    assert(leafLen > 0, "leaf directory section must exist")
    // root: every entry is a leaf pointer (runLength 0), ids ascending
    val (rIds, rLens, rOffs, rRuns) = decodeDirRuns(gunzip(
      java.util.Arrays.copyOfRange(bytes, rootOff.toInt, (rootOff + rootLen).toInt)))
    assert(rRuns.forall(_ == 0L), "root entries must point at leaves")
    assert(rIds.size == 3 && rIds == rIds.sorted)
    // resolve every leaf, collect tileId → payload through the data section
    val expected = rows.map { case (z, tx, ty, p) =>
      PmTiles.tileId(z, tx, ty) -> new String(p, "UTF-8")
    }.toMap
    var seen = Map.empty[Long, String]
    rIds.indices.foreach { i =>
      val lo = (leafOff + rOffs(i)).toInt
      val (ids, lens, offs) = decodeDir(gunzip(
        java.util.Arrays.copyOfRange(bytes, lo, lo + rLens(i))))
      assert(ids.head == rIds(i), "root id = first tile id in the leaf")
      ids.indices.foreach { j =>
        val o = (dataOff + offs(j)).toInt
        seen += ids(j) -> new String(bytes, o, lens(j), "UTF-8")
      }
    }
    assert(seen == expected, "every tile resolves through its leaf directory")
  }

  test("duplicate payloads coalesce and consecutive runs collapse to run-length entries") {
    import spark.implicits._
    // z3 tiles 0..7 along the hilbert diagonal carry IDENTICAL payloads in
    // three consecutive-id groups plus one distinct tile, and a far tile
    // repeats the first payload (dedup without adjacency)
    val same = "ocean".getBytes("UTF-8")
    val other = "land".getBytes("UTF-8")
    def xy(tid: Long): (Long, Long) = // invert via brute force over z3
      (for (x <- 0L until 8L; y <- 0L until 8L
        if PmTiles.tileId(3, x, y) == tid) yield (x, y)).head
    // consecutive ids 21..24 (runs), 25 distinct, 40 duplicate-of-21
    val rows = (Seq(21L, 22L, 23L, 24L).map(t => (t, same)) ++
      Seq((25L, other), (40L, same))).map { case (t, p) =>
      val (x, y) = xy(t); (3, x, y, p)
    }
    val perTile = rows.toDF("z", "tx", "ty", "payload")
    val dir = Files.createTempDirectory("pmtdedup").toString
    val path = s"$dir/d.pmtiles"
    val (n, total) = PmTiles.writePayloads(perTile, path)
    assert(n == 6, "addressed tiles")
    val bytes = Files.readAllBytes(Paths.get(path))
    assert(bytes.length.toLong == total)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val rootOff = bb.getLong(8); val rootLen = bb.getLong(16)
    val dataOff = bb.getLong(56); val dataLen = bb.getLong(64)
    assert(bb.getLong(72) == 6L, "addressed tiles header count")
    assert(bb.getLong(80) == 3L, "tile entries: run + distinct + dup")
    assert(bb.getLong(88) == 2L, "tile contents: two distinct blobs")
    assert(dataLen == (same.length + other.length).toLong,
      "data section stores each distinct payload exactly once")
    val (ids, lens, offs, runs) = decodeDirRuns(gunzip(
      java.util.Arrays.copyOfRange(bytes, rootOff.toInt, (rootOff + rootLen).toInt)))
    assert(ids == Seq(21L, 25L, 40L))
    assert(runs == Seq(4L, 1L, 1L), "consecutive identical tiles collapse")
    // every entry resolves to its payload; the dup points BACK at blob 0
    def payloadAt(i: Int) =
      new String(bytes, (dataOff + offs(i)).toInt, lens(i), "UTF-8")
    assert(payloadAt(0) == "ocean" && payloadAt(1) == "land" &&
      payloadAt(2) == "ocean")
    assert(offs(2) == offs(0), "duplicate payload shares the first blob")
  }

  test("pmtiles and mbtiles: kill mid-export, resume completes byte-identically") {
    // features read back from parquet: a plan without closures, so a resumed
    // run's fingerprint matches the killed run's
    val src = Files.createTempDirectory("tiles_src").resolve("f").toString
    ImageTable.derive(ImageFixture.generate(spark, 400, 2))
      .select(Seq("image_id", "kind", "lon", "lat", "rings", "roles").map(col): _*)
      .write.parquet(src)
    val feats = spark.read.parquet(src)
    val dir = Files.createTempDirectory("tiles_kill")
    val writers: Seq[(String, (String, Int) => Any)] = Seq(
      "export.pmtiles" -> ((p, f) => PmTiles.writeMvt(feats, p, (2, 3), "export", f)),
      "export.mbtiles" -> ((p, f) => MbTiles.writeMvt(feats, p, (2, 3), "export", f)))
    // four payload partitions: AQE would coalesce this small shuffle into one
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try writers.foreach { case (name, write) =>
      val clean = dir.resolve(s"clean-$name")
      val resumed = dir.resolve(name)
      write(clean.toString, -1)
      intercept[Exception](write(resumed.toString, 2))
      val committed = Lineage.committedParts(s"$resumed.state")
      assert(committed.nonEmpty && !committed(2), s"$name: a partial commit")
      assert(!Files.exists(resumed))
      // the resume runs only the missing partitions: a fault injected at a
      // committed one never fires
      write(resumed.toString, committed.min)
      assert(java.util.Arrays.equals(Files.readAllBytes(clean), Files.readAllBytes(resumed)),
        s"$name must be byte-identical to a clean run")
      assert(!Files.exists(Paths.get(s"$resumed.state", "parts")))
    } finally spark.conf.unset(coalesce)
  }
}
