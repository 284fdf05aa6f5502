package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sinks.{FlatGeobuf, PgDump}
import graft.sources.{ImageFixture, ImageTable}

/** Round-trip validation of the FlatGeobuf and PGDump sinks against
  * independent minimal parsers: a generic flatbuffer vtable walker (no
  * generated bindings — reads the written bytes purely from the published
  * wire format) and a COPY-text + EWKB decoder. */
class FormatSinksSpec extends SparkSpec {

  private lazy val feats = {
    val images = ImageFixture.generate(spark, 300, 2)
    ImageTable.derive(images)
      .select(Seq("image_id", "kind", "lon", "lat", "rings", "roles").map(col): _*)
  }

  // ---- generic flatbuffer reader ------------------------------------------

  private final class Fb(val bb: ByteBuffer, val pos: Int) {
    private val vt = pos - bb.getInt(pos)
    private val vtSize = bb.getShort(vt) & 0xffff
    def off(slot: Int): Int = {
      val o = 4 + 2 * slot
      if (o >= vtSize) 0
      else { val rel = bb.getShort(vt + o) & 0xffff; if (rel == 0) 0 else pos + rel }
    }
    def u8(slot: Int, d: Int): Int = { val o = off(slot); if (o == 0) d else bb.get(o) & 0xff }
    def u16(slot: Int, d: Int): Int = { val o = off(slot); if (o == 0) d else bb.getShort(o) & 0xffff }
    def i32(slot: Int, d: Int): Int = { val o = off(slot); if (o == 0) d else bb.getInt(o) }
    def i64(slot: Int, d: Long): Long = { val o = off(slot); if (o == 0) d else bb.getLong(o) }
    private def indirect(slot: Int): Int = {
      val o = off(slot); if (o == 0) -1 else o + bb.getInt(o)
    }
    def str(slot: Int): Option[String] = indirect(slot) match {
      case -1 => None
      case p =>
        val len = bb.getInt(p)
        val a = new Array[Byte](len)
        val dup = bb.duplicate(); dup.position(p + 4); dup.get(a)
        Some(new String(a, StandardCharsets.UTF_8))
    }
    /** (elemBasePos, length) of a vector field. */
    def vec(slot: Int): Option[(Int, Int)] = indirect(slot) match {
      case -1 => None
      case p => Some((p + 4, bb.getInt(p)))
    }
    def table(slot: Int): Option[Fb] = indirect(slot) match {
      case -1 => None
      case p => new Some(new Fb(bb, p))
    }
  }

  /** Read one size-prefixed flatbuffer root table at `base`; returns (table,
    * nextBase). */
  private def sizePrefixed(bb: ByteBuffer, base: Int): (Fb, Int) = {
    val size = bb.getInt(base)
    val bufStart = base + 4
    (new Fb(bb, bufStart + bb.getInt(bufStart)), bufStart + size)
  }

  private def parseProps(bb: ByteBuffer, base: Int, len: Int,
      colTypes: Seq[Int]): Map[Int, Any] = {
    val out = scala.collection.mutable.Map.empty[Int, Any]
    var p = base
    while (p < base + len) {
      val ci = bb.getShort(p) & 0xffff; p += 2
      colTypes(ci) match {
        case FlatGeobuf.CtLong => out(ci) = bb.getLong(p); p += 8
        case FlatGeobuf.CtInt => out(ci) = bb.getInt(p); p += 4
        case FlatGeobuf.CtDouble => out(ci) = bb.getDouble(p); p += 8
        case FlatGeobuf.CtBool => out(ci) = bb.get(p) != 0; p += 1
        case _ =>
          val slen = bb.getInt(p); p += 4
          val a = new Array[Byte](slen)
          val dup = bb.duplicate(); dup.position(p); dup.get(a); p += slen
          out(ci) = new String(a, StandardCharsets.UTF_8)
      }
    }
    out.toMap
  }

  test("flatgeobuf round-trips: magic, header, geometry, properties") {
    val path = Files.createTempDirectory("fgb").resolve("export.fgb").toString
    val n = FlatGeobuf.write(feats, path)
    val rows = feats.collect()
    assert(n == rows.length)
    checkFgb(path, rows)
  }

  test("distributed fgb: committed parts survive a kill, resume completes, file parses") {
    val dir = Files.createTempDirectory("fgbd")
    val path = dir.resolve("dist.fgb").toString
    val repart = fixedParts(feats, 4)
    // inject a task fault: the job dies with some partitions already committed
    intercept[org.apache.spark.SparkException] {
      FlatGeobuf.write(repart, path, failAtPartition = 2)
    }
    assert(!Files.exists(Paths.get(path)), "no final file on failure")
    val committed = graft.lineage.Lineage.committedParts(path + ".export")
    assert(committed.nonEmpty && committed.size < 4,
      s"expected partial commit, got $committed")
    // resume re-runs ONLY the uncommitted partitions and assembles the file
    val n = FlatGeobuf.write(repart, path)
    val rows = feats.collect()
    assert(n == rows.length)
    // count, envelope and every feature against the source rows
    checkFgb(path, rows)
    // byte-identical to a clean run on the same partitioning
    val refPath = dir.resolve("ref.fgb").toString
    assert(FlatGeobuf.write(repart, refPath) == n)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(path)), Files.readAllBytes(Paths.get(refPath))),
      "a resumed fgb must serialize identically to a clean run")
  }

  /** Independent re-derivation of the (closed-ring) geometry parts from the
    * storage columns — FGB/EWKB convention: rings closed, storage winding
    * kept. Returns (gtype, parts = rings per part). */
  private def expectedGeom(r: org.apache.spark.sql.Row): (Int, Vector[Vector[Vector[(Double, Double)]]]) = {
    val kind = r.getString(1)
    val rings = if (!r.isNullAt(4)) r.getSeq[scala.collection.Seq[Double]](4) else Nil
    val roles = if (r.length > 5 && !r.isNullAt(5)) r.getSeq[Int](5)
      else Seq.fill(rings.length)(0)
    def pts(fl: scala.collection.Seq[Double]): Vector[(Double, Double)] =
      (0 until fl.length / 2).map(i => (fl(2 * i), fl(2 * i + 1))).toVector
    kind match {
      case "line" if rings.nonEmpty =>
        val parts = rings.map(fl => Vector(pts(fl))).toVector
        (if (parts.length > 1) 5 else 2, parts)
      case "polygon" if rings.nonEmpty =>
        val closed = rings.map(fl => { val p = pts(fl); p :+ p.head })
        val parts = scala.collection.mutable.ArrayBuffer.empty[Vector[Vector[(Double, Double)]]]
        closed.indices.foreach { k =>
          if (roles(k) == 1 && parts.nonEmpty) parts(parts.length - 1) = parts.last :+ closed(k)
          else parts += Vector(closed(k))
        }
        (if (parts.length > 1) 6 else 3, parts.toVector)
      case _ => (1, Vector(Vector(Vector((r.getDouble(2), r.getDouble(3))))))
    }
  }

  /** All vertices of a row's geometry (envelope expectation). */
  private def expectedPts(r: org.apache.spark.sql.Row): Seq[(Double, Double)] = {
    val rings = if (!r.isNullAt(4)) r.getSeq[scala.collection.Seq[Double]](4) else Nil
    if (r.getString(1) == "point" || rings.isEmpty)
      Seq((r.getDouble(2), r.getDouble(3)))
    else rings.flatMap(fl => (0 until fl.length / 2).map(i => (fl(2 * i), fl(2 * i + 1))))
  }

  private def checkFgb(path: String, rows: Array[org.apache.spark.sql.Row]): Unit = {
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
      .order(ByteOrder.LITTLE_ENDIAN)
    // magic
    val magic = new Array[Byte](8); bb.duplicate().get(magic)
    assert(magic.sameElements(FlatGeobuf.Magic), "fgb magic bytes")
    // header: name(0) envelope(1) geometry_type(2) columns(7)
    // features_count(8) index_node_size(9) crs(10)
    val (hdr, featStart) = sizePrefixed(bb, 8)
    assert(hdr.str(0).contains("export"))
    assert(hdr.u8(2, 0) == FlatGeobuf.GtUnknown, "mixed layer → Unknown (default 0 → field absent)")
    assert(hdr.i64(8, -1L) == rows.length.toLong)
    // envelope covers exactly the written coordinates (anchor + vertices)
    val (envBase, envLen) = hdr.vec(1).get
    assert(envLen == 4)
    val env = (0 until 4).map(i => bb.getDouble(envBase + 8 * i))
    val all = rows.flatMap(expectedPts)
    val allX = all.map(_._1); val allY = all.map(_._2)
    assert(env == Seq(allX.min, allY.min, allX.max, allY.max), "envelope")
    assert(hdr.u16(9, 16) == 0, "no spatial index declared")
    val crs = hdr.table(10).get
    assert(crs.str(0).contains("EPSG") && crs.i32(1, 0) == 4326)
    val (colsBase, colsLen) = hdr.vec(7).get
    val colTables = (0 until colsLen).map { i =>
      val p = colsBase + 4 * i
      new Fb(bb, p + bb.getInt(p))
    }
    val colNames = colTables.map(_.str(0).get)
    val colTypes = colTables.map(_.u8(1, 0))
    assert(colNames == Seq("image_id"))

    // features: multiset keyed by image_id property
    val expect = rows.map(r => r.getString(0) -> r).toMap
    var base = featStart
    var seen = 0
    while (base < bb.capacity()) {
      val (f, next) = sizePrefixed(bb, base)
      val geom = f.table(0).get
      val gtype = geom.u8(6, 0)
      val (pBase, pLen) = f.vec(1).get
      val props = parseProps(bb, pBase, pLen, colTypes)
      val id = props(0).asInstanceOf[String]
      val r = expect(id)
      val (wantType, wantParts) = expectedGeom(r)
      assert(gtype == wantType, s"feature $id geometry type")
      // decode geometry: xy+ends for flat types, parts vector of Polygon
      // sub-tables for MultiPolygon
      def flatRings(g: Fb): Vector[Vector[(Double, Double)]] = {
        val (xyBase, xyLen) = g.vec(1).get
        val xy = (0 until xyLen / 2).map(i =>
          (bb.getDouble(xyBase + 16 * i), bb.getDouble(xyBase + 16 * i + 8))).toVector
        g.vec(0) match {
          case None => Vector(xy)
          case Some((eBase, eLen)) =>
            val ends = (0 until eLen).map(i => bb.getInt(eBase + 4 * i))
            ends.zip(0 +: ends.dropRight(1)).map { case (e, s0) => xy.slice(s0, e) }.toVector
        }
      }
      val gotParts: Vector[Vector[Vector[(Double, Double)]]] =
        if (gtype == FlatGeobuf.GtMultiPolygon) {
          val (ptsBase, ptsLen) = geom.vec(7).get
          (0 until ptsLen).map { i =>
            val off = ptsBase + 4 * i
            val sub = new Fb(bb, off + bb.getInt(off))
            assert(sub.u8(6, 0) == FlatGeobuf.GtPolygon, "sub-geometry type")
            flatRings(sub)
          }.toVector
        } else if (gtype == FlatGeobuf.GtMultiLineString)
          flatRings(geom).map(Vector(_))
        else Vector(flatRings(geom).flatten match {
          case v if gtype == FlatGeobuf.GtPolygon => flatRings(geom)
          case v => Vector(v)
        })
      assert(gotParts == wantParts, s"feature $id geometry parts")
      seen += 1
      base = next
    }
    assert(seen == rows.length)
  }

  // ---- PGDump parser -------------------------------------------------------

  /** Decode EWKB (top-level SRID extension, nested plain WKB) into
    * (gtype, parts = rings per part). */
  private def decodeEwkb(hexStr: String): (Int, Vector[Vector[Vector[(Double, Double)]]]) = {
    val bytes = hexStr.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def readOne(top: Boolean): (Int, Vector[Vector[(Double, Double)]]) = {
      assert(b.get() == 1, "little-endian marker")
      val typeWord = b.getInt()
      if (top) {
        assert((typeWord & 0x20000000) != 0, "SRID flag set on top-level")
        assert(b.getInt() == 4326, "SRID 4326")
      } else assert((typeWord & 0x20000000) == 0, "nested geometry plain WKB")
      val gtype = typeWord & 0xff
      def pts(n: Int) = (0 until n).map(_ => (b.getDouble(), b.getDouble())).toVector
      gtype match {
        case 1 => (1, Vector(pts(1)))
        case 2 => (2, Vector(pts(b.getInt())))
        case 3 => (3, (0 until b.getInt()).map(_ => pts(b.getInt())).toVector)
      }
    }
    def readTop(): (Int, Vector[Vector[Vector[(Double, Double)]]]) = {
      val mark = b.position()
      assert(b.get() == 1)
      val typeWord = b.getInt()
      assert((typeWord & 0x20000000) != 0)
      assert(b.getInt() == 4326)
      val gtype = typeWord & 0xff
      gtype match {
        case 5 => (5, (0 until b.getInt()).map { _ =>
          val (t, rings) = readOne(top = false); assert(t == 2); rings }.toVector)
        case 6 => (6, (0 until b.getInt()).map { _ =>
          val (t, rings) = readOne(top = false); assert(t == 3); rings }.toVector)
        case _ =>
          b.position(mark)
          val (t, rings) = readOne(top = true)
          (t, Vector(rings))
      }
    }
    readTop()
  }

  private def unescCopy(s: String): String =
    s.replace("\\t", "\t").replace("\\n", "\n").replace("\\r", "\r")
      .replace("\\\\", "\\")

  test("pgdump script round-trips: CREATE TABLE, COPY framing, EWKB geometry") {
    val path = Files.createTempDirectory("pgd").resolve("export.sql").toString
    val n = PgDump.write(feats, path)
    val rows = feats.collect()
    assert(n == rows.length)
    val lines = Files.readAllLines(Paths.get(path))
    assert(lines.get(0).startsWith("SET standard_conforming_strings"))
    val create = lines.get(1)
    assert(create.startsWith("""CREATE TABLE "export""""))
    assert(create.contains(""""image_id" text"""))
    assert(create.contains(""""geom" geometry(Geometry,4326)"""))
    assert(lines.get(2) ==
      """COPY "export" ("image_id", "geom") FROM stdin;""")
    assert(lines.get(lines.size - 1) == "\\.")
    val dataLines = lines.subList(3, lines.size - 1)
    assert(dataLines.size == rows.length)
    val expect = rows.map(r => r.getString(0) -> r).toMap
    dataLines.forEach { l =>
      val fields = l.split("\t", -1)
      assert(fields.length == 2)
      val id = fields(0)
      val r = expect(id)
      val (gtype, parts) = decodeEwkb(fields(1))
      val (wantType, wantParts) = expectedGeom(r)
      assert(gtype == wantType, s"$id EWKB type")
      assert(parts == wantParts, s"$id EWKB geometry")
    }
  }

  test("distributed pgdump: kill-and-resume, identical multiset of COPY lines") {
    val dir = Files.createTempDirectory("pgdd")
    val path = dir.resolve("dist.sql").toString
    val repart = feats.repartition(4)
    intercept[org.apache.spark.SparkException] {
      PgDump.write(repart, path, failAtPartition = 1)
    }
    assert(!Files.exists(Paths.get(path)))
    val n = PgDump.write(repart, path)
    assert(n == feats.count())
    val lines = Files.readAllLines(Paths.get(path))
    assert(lines.get(lines.size - 1) == "\\.")
    val dataLines = lines.subList(3, lines.size - 1)
    assert(dataLines.size.toLong == n)
    // same COPY-line multiset as a clean run over the unrepartitioned rows
    val refPath = dir.resolve("ref.sql").toString
    PgDump.write(feats, refPath)
    val refLines = Files.readAllLines(Paths.get(refPath))
    val refData = refLines.subList(3, refLines.size - 1)
    assert(dataLines.stream().sorted().toArray.toSeq ==
      refData.stream().sorted().toArray.toSeq)
  }

  test("a succeeded distributed export leaves no resumable state: rerun writes NEW data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("fgbr")
    val path = dir.resolve("re.fgb").toString
    val dfA = Seq(("a1", 1.0, 2.0)).toDF("image_id", "lon", "lat")
    val dfB = Seq(("b1", 3.0, 4.0), ("b2", 5.0, 6.0)).toDF("image_id", "lon", "lat")
    assert(FlatGeobuf.write(dfA, path) == 1)
    assert(!Files.exists(Paths.get(path + ".export/parts")),
      "part payloads must be cleaned after success")
    // the same path written again with DIFFERENT data must contain dfB, not
    // a silently-reused dfA (the stale-commit trap)
    assert(FlatGeobuf.write(dfB, path) == 2)
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
      .order(ByteOrder.LITTLE_ENDIAN)
    val (hdr, _) = sizePrefixed(bb, 8)
    assert(hdr.i64(8, -1L) == 2L, "rerun must reflect the new dataset")
  }

  test("geometry-less (csv-shaped) extracts export as attribute-only records") {
    import spark.implicits._
    val df = Seq(("i1", 10.5, 20.5, "POINT"), ("i2", 11.5, 21.5, "LINESTRING"))
      .toDF("image_id", "longitude", "latitude", "geom_type")
    val dir = Files.createTempDirectory("nogeom")
    // fgb: features with no geometry table, header without envelope
    val fp = dir.resolve("ng.fgb").toString
    assert(FlatGeobuf.write(df, fp) == 2)
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(fp)))
      .order(ByteOrder.LITTLE_ENDIAN)
    val (hdr, featStart) = sizePrefixed(bb, 8)
    assert(hdr.i64(8, -1L) == 2L)
    val (f0, _) = sizePrefixed(bb, featStart)
    assert(f0.table(0).isEmpty, "no geometry table on csv-shaped rows")
    assert(f0.vec(1).isDefined, "attributes still serialized")
    // pgdump: no geom column declared, plain attribute COPY
    val sp = dir.resolve("ng.sql").toString
    assert(PgDump.write(df, sp) == 2)
    val lines = Files.readAllLines(Paths.get(sp))
    assert(!lines.get(1).contains("geometry(Geometry"), "no geom column")
    assert(lines.get(3).split("\t", -1).length == 4)
  }

  test("map attributes serialize as JSON, not JVM toString, in every sink") {
    import spark.implicits._
    val df = Seq(("i1", Map("parity" -> "3"), 1.0, 2.0))
      .toDF("image_id", "tags", "lon", "lat")
    val dir = Files.createTempDirectory("mapattr")
    val fp = dir.resolve("m.fgb").toString
    FlatGeobuf.write(df, fp)
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(fp)))
      .order(ByteOrder.LITTLE_ENDIAN)
    val (hdr, featStart) = sizePrefixed(bb, 8)
    val (colsBase, colsLen) = hdr.vec(7).get
    val colTypes = (0 until colsLen).map { i =>
      val p = colsBase + 4 * i
      new Fb(bb, p + bb.getInt(p)).u8(1, 0)
    }
    val (f0, _) = sizePrefixed(bb, featStart)
    val (pBase, pLen) = f0.vec(1).get
    val props = parseProps(bb, pBase, pLen, colTypes)
    assert(props(1) == """{"parity":"3"}""", s"got ${props(1)}")
    val sp = dir.resolve("m.sql").toString
    PgDump.write(df, sp)
    val line = Files.readAllLines(Paths.get(sp)).get(3)
    assert(line.contains("""{"parity":"3"}"""), line)
  }

  test("pgdump escapes COPY control characters and nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, "plain", 1.0, 2.0),
      (2L, "tab\there", 3.0, 4.0),
      (3L, "nl\nline\\end", 5.0, 6.0),
      (4L, null.asInstanceOf[String], 7.0, 8.0))
      .toDF("image_id", "note", "lon", "lat")
    val path = Files.createTempDirectory("pgd2").resolve("esc.sql").toString
    PgDump.write(df, path)
    val lines = Files.readAllLines(Paths.get(path))
    val data = lines.subList(3, lines.size - 1)
    assert(data.size == 4, "escaped newline must stay on one COPY line")
    val notes = (0 until 4).map(i => data.get(i).split("\t", -1)(1))
    assert(notes(0) == "plain")
    assert(unescCopy(notes(1)) == "tab\there")
    assert(unescCopy(notes(2)) == "nl\nline\\end")
    assert(notes(3) == "\\N")
  }
}
