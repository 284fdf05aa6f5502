package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.sinks.{Gpkg, MbTiles, Mvt, PmTiles, Sqlite}
import graft.sources.{ImageFixture, ImageTable}

/** Independent minimal SQLite reader (pure file-format walk: header, catalog
  * b-tree, table b-trees, record decoding, overflow chains) validating the
  * from-scratch GPKG and MBTiles containers byte-for-byte. */
class SqliteSinksSpec extends SparkSpec {

  // ---- minimal sqlite reader ----------------------------------------------

  private final class Db(path: String) {
    val bytes: Array[Byte] = Files.readAllBytes(Paths.get(path))
    val bb: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    assert(new String(bytes, 0, 15, StandardCharsets.US_ASCII) == "SQLite format 3")
    val pageSize: Int = bb.getShort(16) & 0xffff
    val nPages: Int = bb.getInt(28)
    val appId: Int = bb.getInt(68)
    assert(bytes.length == nPages * pageSize, "declared size matches file")
    private val usable = pageSize
    private val maxLeafLocal = usable - 35
    private val minLocal = (usable - 12) * 32 / 255 - 23

    private def pageBase(p: Int): Int = (p - 1) * pageSize

    private def varint(pos0: Int): (Long, Int) = {
      var pos = pos0; var v = 0L; var i = 0
      while (i < 8 && (bytes(pos) & 0x80) != 0) {
        v = (v << 7) | (bytes(pos) & 0x7f); pos += 1; i += 1
      }
      if (i == 8) { v = (v << 8) | (bytes(pos) & 0xff); pos += 1 }
      else { v = (v << 7) | (bytes(pos) & 0x7f); pos += 1 }
      (v, pos)
    }

    /** Full payload of a leaf cell, following overflow pages if present.
      * Returns (rowid, payload). */
    private def cellPayload(cellPos: Int): (Long, Array[Byte]) = {
      val (p, pos1) = varint(cellPos)
      val (rowid, pos2) = varint(pos1)
      val local =
        if (p <= maxLeafLocal) p.toInt
        else {
          val k = minLocal + ((p - minLocal) % (usable - 4)).toInt
          if (k <= maxLeafLocal) k else minLocal
        }
      val out = new Array[Byte](p.toInt)
      System.arraycopy(bytes, pos2, out, 0, local)
      var written = local
      if (written < p) {
        var ovfl = bb.getInt(pos2 + local)
        while (ovfl != 0 && written < p) {
          val base = pageBase(ovfl)
          val take = math.min(usable - 4, p.toInt - written)
          System.arraycopy(bytes, base + 4, out, written, take)
          written += take
          ovfl = bb.getInt(base)
        }
      }
      assert(written == p, "overflow chain complete")
      (rowid, out)
    }

    private def decodeRecord(payload: Array[Byte]): Seq[Any] = {
      val b = ByteBuffer.wrap(payload).order(ByteOrder.BIG_ENDIAN)
      def varintAt(pos0: Int): (Long, Int) = {
        var pos = pos0; var v = 0L; var i = 0
        while (i < 8 && (payload(pos) & 0x80) != 0) {
          v = (v << 7) | (payload(pos) & 0x7f); pos += 1; i += 1
        }
        if (i == 8) { v = (v << 8) | (payload(pos) & 0xff); pos += 1 }
        else { v = (v << 7) | (payload(pos) & 0x7f); pos += 1 }
        (v, pos)
      }
      val (hlen, afterH) = varintAt(0)
      var pos = afterH
      val serials = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (pos < hlen) { val (s, np) = varintAt(pos); serials += s; pos = np }
      var body = hlen.toInt
      serials.map {
        case 0 => null
        case 1 => val v = payload(body).toLong; body += 1; v
        case 2 => val v = b.getShort(body).toLong; body += 2; v
        case 4 => val v = b.getInt(body).toLong; body += 4; v
        case 6 => val v = b.getLong(body); body += 8; v
        case 7 => val v = b.getDouble(body); body += 8; v
        case 8 => 0L
        case 9 => 1L
        case s if s >= 13 && s % 2 == 1 =>
          val len = ((s - 13) / 2).toInt
          val v = new String(payload, body, len, StandardCharsets.UTF_8)
          body += len; v
        case s if s >= 12 && s % 2 == 0 =>
          val len = ((s - 12) / 2).toInt
          val v = java.util.Arrays.copyOfRange(payload, body, body + len)
          body += len; v
        case s => fail(s"unexpected serial type $s")
      }.toSeq
    }

    /** In-order walk of a table b-tree. */
    def readTable(root: Int): Seq[(Long, Seq[Any])] = {
      val base = pageBase(root)
      val hdr = if (root == 1) base + 100 else base
      bytes(hdr) & 0xff match {
        case 0x0d =>
          val nCells = bb.getShort(hdr + 3) & 0xffff
          (0 until nCells).map { i =>
            val cellPos = base + (bb.getShort(hdr + 8 + 2 * i) & 0xffff)
            val (rowid, payload) = cellPayload(cellPos)
            (rowid, decodeRecord(payload))
          }
        case 0x05 =>
          val nCells = bb.getShort(hdr + 3) & 0xffff
          val kids = (0 until nCells).map { i =>
            val cellPos = base + (bb.getShort(hdr + 12 + 2 * i) & 0xffff)
            bb.getInt(cellPos)
          } :+ bb.getInt(hdr + 8)
          kids.flatMap(readTable)
        case t => fail(s"unexpected page type $t at page $root")
      }
    }

    /** sqlite_master → name → (rootpage, sql). */
    val catalog: Map[String, (Int, String)] = readTable(1).map { case (_, r) =>
      r(1).asInstanceOf[String] ->
        ((r(3).asInstanceOf[Long].toInt, r(4).asInstanceOf[String]))
    }.toMap
  }

  private lazy val feats = {
    val images = ImageFixture.generate(spark, 400, 2)
    ImageTable.derive(images)
      .select(Seq("image_id", "kind", "lon", "lat", "rings", "roles").map(col): _*)
  }

  test("gpkg container round-trips through an independent sqlite reader") {
    val path = Files.createTempDirectory("gpkg").resolve("export.gpkg").toString
    val n = Gpkg.write(feats, path)
    val rows = feats.collect()
    assert(n == rows.length)
    val db = new Db(path)
    assert(db.appId == 0x47504B47, "GPKG application id")
    assert(db.catalog.keySet == Set("export", "sqlite_sequence",
      "gpkg_spatial_ref_sys", "gpkg_contents", "gpkg_geometry_columns",
      "sqlite_autoindex_gpkg_contents_1", "sqlite_autoindex_gpkg_contents_2",
      "sqlite_autoindex_gpkg_geometry_columns_1"))
    // metadata rows: srs_id is the INTEGER PRIMARY KEY = the rowid (the
    // record slot is NULL, as real SQLite stores ipk columns)
    val srs = db.readTable(db.catalog("gpkg_spatial_ref_sys")._1)
    assert(srs.map(_._1).toSet == Set(-1L, 0L, 4326L))
    assert(srs.forall(_._2(1) == null))
    val contents = db.readTable(db.catalog("gpkg_contents")._1)
    assert(contents.size == 1 && contents.head._2.head == "export" &&
      contents.head._2(1) == "features")
    val gcols = db.readTable(db.catalog("gpkg_geometry_columns")._1)
    assert(gcols.head._2.take(2) == Seq("export", "geom"))
    // feature rows: fid ascending, attrs + GPB geometry intact
    val stored = db.readTable(db.catalog("export")._1)
    assert(stored.size == rows.length)
    assert(stored.map(_._1) == (1L to n).toSeq, "fid rowids dense ascending")
    val expect = rows.map(r => r.getString(0) -> r).toMap
    stored.foreach { case (_, vals) =>
      assert(vals.head == null, "fid record slot must be NULL (ipk = rowid)")
      val id = vals(1).asInstanceOf[String]
      val r = expect(id)
      val blob = vals.last.asInstanceOf[Array[Byte]]
      val gb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
      assert(gb.get(0) == 'G'.toByte && gb.get(1) == 'P'.toByte)
      assert(gb.getInt(4) == 4326)
      val wkbOff = 8 + 32 // header + envelope indicator 1
      assert(blob(wkbOff) == 1, "wkb little-endian")
      val wkbType = gb.getInt(wkbOff + 1)
      val rings = if (!r.isNullAt(4)) r.getSeq[scala.collection.Seq[Double]](4) else Nil
      val roles = if (!r.isNullAt(5)) r.getSeq[Int](5) else Nil
      val nParts = roles.count(_ == 0)
      r.getString(1) match {
        case "point" =>
          assert(wkbType == 1)
          assert(gb.getDouble(wkbOff + 5) == r.getDouble(2))
          assert(gb.getDouble(wkbOff + 13) == r.getDouble(3))
        case "line" =>
          if (nParts > 1) assert(wkbType == 5 && gb.getInt(wkbOff + 5) == nParts)
          else {
            assert(wkbType == 2 && gb.getInt(wkbOff + 5) == rings.head.length / 2)
            assert(gb.getDouble(wkbOff + 9) == rings.head.head)
          }
        case _ =>
          if (nParts > 1) assert(wkbType == 6 && gb.getInt(wkbOff + 5) == nParts)
          else {
            assert(wkbType == 3 && gb.getInt(wkbOff + 5) == rings.length)
            assert(gb.getInt(wkbOff + 9) == rings.head.length / 2 + 1, "closed ring")
          }
      }
    }
  }

  test("gpkg stores map attributes as JSON and accepts build() outputs (osm_type)") {
    import spark.implicits._
    val df = Seq(("i1", "point", Map("parity" -> "3"), 1.0, 2.0))
      .toDF("image_id", "osm_type", "tags", "lon", "lat")
    val path = Files.createTempDirectory("gpkm").resolve("m.gpkg").toString
    assert(Gpkg.write(df, path) == 1)
    val db = new Db(path)
    val rows = db.readTable(db.catalog("export")._1)
    assert(rows.size == 1)
    val vals = rows.head._2
    assert(vals.contains("""{"parity":"3"}"""),
      s"map attr must store as JSON text, got $vals")
    assert(vals.contains("point"), "osm_type rides along as an attribute")
  }

  test("sqlite writer handles multi-level trees and overflow payloads") {
    import spark.implicits._
    val big = "x" * 9000 // forces a 3-page overflow chain at 4 KB pages
    val df = (1 to 2000).map(i =>
      (f"id$i%05d", if (i == 777) big else s"note$i", 1.0 + i, 2.0 + i))
      .toDF("image_id", "note", "lon", "lat")
    val path = Files.createTempDirectory("sq").resolve("big.gpkg").toString
    val n = Gpkg.write(df, path)
    assert(n == 2000)
    val db = new Db(path)
    val stored = db.readTable(db.catalog("export")._1)
    assert(stored.size == 2000)
    val byId = stored.map(r => r._2(1).asInstanceOf[String] -> r._2).toMap
    assert(byId("id00777")(2) == big, "overflow payload intact")
    assert(byId("id01999")(2) == "note1999")
  }

  test("gpkg declares sqlite_sequence so AUTOINCREMENT files stay writable") {
    val path = Files.createTempDirectory("gpkseq").resolve("s.gpkg").toString
    val n = Gpkg.write(feats.limit(5), path)
    val db = new Db(path)
    assert(db.catalog.contains("sqlite_sequence"),
      "AUTOINCREMENT without sqlite_sequence breaks real sqlite INSERTs")
    val seq = db.readTable(db.catalog("sqlite_sequence")._1)
    assert(seq.size == 1 && seq.head._2 == Seq("export", n))
  }

  test("interior pages never have zero cells (trailing-singleton rebalance)") {
    // tiny pages force a multi-level tree; choose a row count that would
    // otherwise leave a 1-leaf trailing interior group
    val path = Files.createTempDirectory("sqmulti").resolve("m.db").toString
    val db = new Sqlite(path, pageSize = 512)
    val rows = (1L to 1200L).iterator.map(i => (i, Seq[Any](s"v$i", i * 7)))
    db.writeTable("t", "CREATE TABLE t(v TEXT, k INTEGER)", rows)
    db.finish()
    val rd = new Db(path)
    // every interior page in the file must carry ≥1 cell
    (1 until rd.nPages).foreach { p =>
      val base = p * rd.pageSize
      if ((rd.bytes(base) & 0xff) == 0x05)
        assert((rd.bb.getShort(base + 3) & 0xffff) >= 1,
          s"zero-cell interior page at ${p + 1}")
    }
    val got = rd.readTable(rd.catalog("t")._1)
    assert(got.size == 1200)
    assert(got.map(_._1) == (1L to 1200L))
    assert(got.head._2 == Seq("v1", 7L))
  }

  test("catalog interior levels rebalance: no zero-cell root for any table count") {
    // sweep table counts at tiny pages so the sqlite_master b-tree crosses
    // every grouping boundary — including the single-interior-group window
    // (fanout1 < leafPages <= fanout) that would otherwise leave page 1 a
    // zero-cell interior root
    Seq(120, 160, 200, 240, 300).foreach { nTables =>
      val path = Files.createTempDirectory("sqcat").resolve(s"c$nTables.db").toString
      val db = new Sqlite(path, pageSize = 512)
      (1 to nTables).foreach { t =>
        db.writeTable(s"tab$t",
          s"CREATE TABLE tab$t(a TEXT, b INTEGER, c TEXT)",
          Iterator((1L, Seq[Any](s"x$t", t.toLong, s"y$t"))))
      }
      db.finish()
      val rd = new Db(path)
      (0 until rd.nPages).foreach { p =>
        val base = p * rd.pageSize + (if (p == 0) 100 else 0)
        if ((rd.bytes(base) & 0xff) == 0x05)
          assert((rd.bb.getShort(base + 3) & 0xffff) >= 1,
            s"zero-cell interior page ${p + 1} at nTables=$nTables")
      }
      assert(rd.catalog.size == nTables, s"catalog readable at $nTables")
      assert(rd.readTable(rd.catalog(s"tab$nTables")._1).head._2 ==
        Seq(s"x$nTables", nTables.toLong, s"y$nTables"))
    }
  }

  test("distributed gpkg: kill mid-export, resume completes, file valid") {
    val dir = Files.createTempDirectory("gpkgk")
    val path = dir.resolve("k.gpkg").toString
    val parts = fixedParts(feats, 6)
    intercept[Exception] {
      Gpkg.write(parts, path, failAtPartition = 3)
    }
    assert(graft.lineage.Lineage.committedParts(s"$path.state").nonEmpty)
    val n = Gpkg.write(parts, path)
    assert(n == feats.count())
    // byte-identical to a clean run on the same partitioning
    val ref = dir.resolve("ref.gpkg").toString
    assert(Gpkg.write(parts, ref) == n)
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(path)),
      Files.readAllBytes(Paths.get(ref))),
      "a resumed gpkg must be byte-identical to a clean run")
    // resumable state cleaned after success
    assert(!Files.exists(Paths.get(s"$path.state/parts")))
    val db = new Db(path)
    val stored = db.readTable(db.catalog("export")._1)
    assert(stored.size.toLong == n)
    assert(stored.map(_._1) == (1L to n).toSeq, "fid rowids dense ascending")
    val rows = feats.collect()
    val ids = stored.map(_._2(1).asInstanceOf[String]).toSet
    assert(ids == rows.map(_.getString(0)).toSet,
      "resumed container holds exactly the source rows")
    // gpkg_contents envelope = min/max over the source vertices
    val pts = rows.toSeq.flatMap { r =>
      val rings = if (!r.isNullAt(4)) r.getSeq[scala.collection.Seq[Double]](4) else Nil
      if (r.getString(1) == "point" || rings.isEmpty) Seq((r.getDouble(2), r.getDouble(3)))
      else rings.flatMap(fl => (0 until fl.length / 2).map(i => (fl(2 * i), fl(2 * i + 1))))
    }
    val contents = db.readTable(db.catalog("gpkg_contents")._1).head._2
    assert(contents.slice(5, 9) == Seq(pts.map(_._1).min, pts.map(_._2).min,
      pts.map(_._1).max, pts.map(_._2).max), "layer envelope")
  }

  test("sqlite_master outgrowing page 1 becomes a b-tree rooted there (no zero-cell root)") {
    // small pages make the catalog edges reachable: (a) catalog fits ONE
    // normal leaf but not page 1's 100-byte-shorter one — the root must
    // still carry ≥1 cell (zero-cell interior roots are a construct real
    // sqlite never emits); (b) a catalog spanning many leaves
    var sawInterior = false
    for (nTables <- 4 to 12 by 2; if true) {
      val path = Files.createTempDirectory("sqm").resolve(s"m$nTables.db").toString
      val db = new Sqlite(path, pageSize = 512)
      (1 to nTables).foreach { i =>
        db.writeTable(f"tab$i%03d", f"CREATE TABLE tab$i%03d (v TEXT, note TEXT)",
          Iterator((1L, Seq[Any](s"v$i", null))))
      }
      db.finish()
      val rd = new Db(path)
      val t = rd.bytes(100) & 0xff
      assert(t == 0x0d || t == 0x05, s"n=$nTables: page-1 must be leaf or interior")
      if (t == 0x05) {
        sawInterior = true
        assert((rd.bb.getShort(100 + 3) & 0xffff) >= 1,
          s"n=$nTables: root must carry >=1 cell")
      }
      assert(rd.catalog.size == nTables)
      (1 to nTables).foreach { i =>
        val got = rd.readTable(rd.catalog(f"tab$i%03d")._1)
        assert(got.size == 1 && got.head._2.head == s"v$i")
      }
    }
    assert(sawInterior, "the sweep must exercise the multi-page catalog path")
    // deep case: 40 tables span several leaves
    val path40 = Files.createTempDirectory("sqm").resolve("m40.db").toString
    val db40 = new Sqlite(path40, pageSize = 512)
    (1 to 40).foreach { i =>
      db40.writeTable(f"tab$i%03d", f"CREATE TABLE tab$i%03d (v TEXT, note TEXT)",
        Iterator((1L, Seq[Any](s"v$i", null))))
    }
    db40.finish()
    val rd40 = new Db(path40)
    assert((rd40.bytes(100) & 0xff) == 0x05)
    assert(rd40.catalog.size == 40)
    assert(rd40.readTable(rd40.catalog("tab040")._1).head._2.head == "v40")
  }

  test("mbtiles MVT path: format=pbf, vector_layers metadata, payloads decode") {
    val path = Files.createTempDirectory("mbtm").resolve("export.mbtiles").toString
    val nTiles = MbTiles.writeMvt(feats, path, (2, 3), "export")
    assert(nTiles > 0)
    val db = new Db(path)
    val meta = db.readTable(db.catalog("metadata")._1)
      .map(r => r._2.head.asInstanceOf[String] -> r._2(1).asInstanceOf[String]).toMap
    assert(meta("format") == "pbf", "MBTiles 1.3: vector tiles declare pbf")
    assert(meta("json").contains(""""vector_layers""""))
    assert(meta("json").contains(""""id":"export""""))
    assert(db.catalog.keySet == Set("tiles", "metadata"))
    assert(meta("minzoom") == "2" && meta("maxzoom") == "3" && meta.contains("bounds"))
    val tiles = db.readTable(db.catalog("tiles")._1)
    assert(tiles.size.toLong == nTiles)
    val expect = graft.operators.SpatialJoin
      .tileAssign(feats.select(col("lon"), col("lat"), col("image_id")), 2, 3)
      .groupBy("z", "tx", "ty").count().collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    val got = tiles.map { case (_, vals) =>
      val z = vals(0).asInstanceOf[Long].toInt
      val tx = vals(1).asInstanceOf[Long]
      val ty = (1L << z) - 1L - vals(2).asInstanceOf[Long] // undo the TMS flip
      // every payload is gzip MVT holding the tile's features
      val layers = MvtDecode.decodeTile(
        MvtDecode.gunzip(vals(3).asInstanceOf[Array[Byte]]))
      assert(layers.size == 1 && layers.head.name == "export")
      assert(layers.head.version == 2)
      (z, tx, ty) -> layers.head.features.size.toLong
    }.toMap
    assert(got == expect, "tiles (TMS rows flipped back) and their feature counts")
  }

  test("tile archives: a failed rewrite keeps the earlier file and leaves no .tmp") {
    val dir = Files.createTempDirectory("tilefail")
    val mb = dir.resolve("export.mbtiles").toString
    val pm = dir.resolve("export.pmtiles").toString
    val nTiles = MbTiles.writeMvt(feats, mb, (2, 3), "export")
    PmTiles.writeMvt(feats, pm, (2, 3), "export")
    val pmBytes = Files.readAllBytes(Paths.get(pm))
    // the same payload frame, except that one tile throws when it is built
    val payloads = Mvt.tilePayloads(feats, (2, 3), "export")
    val last = payloads.select("z", "tx", "ty")
      .orderBy(desc("z"), desc("tx"), desc("ty")).head()
    val bad = payloads.withColumn("payload",
      when(col("z") === last.getInt(0) && col("tx") === last.getLong(1) &&
        col("ty") === last.getLong(2), raise_error(lit("injected tile fault")))
        .otherwise(col("payload")))
    intercept[Exception](MbTiles.writePayloads(bad, mb, "export", "{}"))
    intercept[Exception](PmTiles.writePayloads(bad, pm))
    val db = new Db(mb)
    assert(db.readTable(db.catalog("tiles")._1).size.toLong == nTiles,
      "the earlier mbtiles archive must survive a failed rewrite")
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(pm)), pmBytes),
      "the earlier pmtiles archive must survive a failed rewrite")
    // the failed write keeps its committed tile parts for a resume, in each
    // archive's `.state` directory; no temp or sidecar file remains
    val left = Files.walk(dir)
    try {
      val names = left.iterator().asScala.map(dir.relativize(_).toString)
        .filter(_.nonEmpty).toSeq
      assert(names.filterNot(_.contains("/")).toSet == Set("export.mbtiles",
        "export.pmtiles", "export.mbtiles.state", "export.pmtiles.state"))
      assert(!names.exists(_.endsWith(".tmp")), s"no temp or sidecar file remains: $names")
    } finally left.close()
  }

  test("real sqlite accepts the gpkg and mbtiles containers (tools/sqlite_check.py)") {
    val dir = Files.createTempDirectory("sqlcheck")
    val gpkg = dir.resolve("export.gpkg").toString
    val mb = dir.resolve("export.mbtiles").toString
    Gpkg.write(feats, gpkg)
    MbTiles.writeMvt(feats, mb, (2, 3), "export")
    val script = Paths.get("tools", "sqlite_check.py")
    assert(Files.exists(script), s"${script.toAbsolutePath} is missing")
    val out = new StringBuilder
    val log = scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    // no python3 is a failure, never a skip: this is the only check that a
    // real SQLite build opens, verifies and writes the containers
    val code =
      try scala.sys.process.Process(Seq("python3", script.toString, gpkg, mb)).!(log)
      catch { case e: java.io.IOException => fail(s"python3 is required: $e") }
    assert(code == 0, s"sqlite_check.py failed:\n$out")
  }
}
