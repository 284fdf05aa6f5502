package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sinks.{Shapefile, Sinks}
import graft.sources.{ImageFixture, ImageTable}

/** Round-trip validation of the binary GIS sinks against an independent
  * minimal parser (ESRI spec layout: header fields, record framing, bbox)
  * and the JDK XML parser for KML. */
class ShapefileSpec extends SparkSpec {

  private lazy val feats = {
    val images = ImageFixture.generate(spark, 400, 2)
    ImageTable.derive(images)
      .select(Seq("image_id", "kind", "lon", "lat", "rings", "roles").map(col): _*)
  }

  private def readAll(p: String): ByteBuffer = {
    val b = ByteBuffer.wrap(Files.readAllBytes(Paths.get(p)))
    b.order(ByteOrder.LITTLE_ENDIAN)
    b
  }

  /** Parse .shp: (shapeType, declaredLengthWords, bbox, records as PART
    * lists — numParts + per-part offsets per the spec). */
  private def parseShp(p: String): (Int, Int, (Double, Double, Double, Double), Seq[Seq[Seq[(Double, Double)]]]) = {
    val b = readAll(p)
    b.order(ByteOrder.BIG_ENDIAN)
    assert(b.getInt(0) == 9994, "file code")
    val lenWords = b.getInt(24)
    b.order(ByteOrder.LITTLE_ENDIAN)
    val shapeType = b.getInt(32)
    val bbox = (b.getDouble(36), b.getDouble(44), b.getDouble(52), b.getDouble(60))
    var pos = 100
    val recs = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[(Double, Double)]]]
    while (pos < b.capacity()) {
      b.order(ByteOrder.BIG_ENDIAN)
      val contentWords = b.getInt(pos + 4)
      b.order(ByteOrder.LITTLE_ENDIAN)
      val st = b.getInt(pos + 8)
      assert(st == shapeType, "record type matches header")
      val parts =
        if (st == 1) Seq(Seq((b.getDouble(pos + 12), b.getDouble(pos + 20))))
        else {
          val numParts = b.getInt(pos + 8 + 4 + 32)
          val numPoints = b.getInt(pos + 8 + 4 + 32 + 4)
          val partsOff = pos + 8 + 4 + 32 + 4 + 4
          val offsets = (0 until numParts).map(i => b.getInt(partsOff + 4 * i))
          val ptsOff = partsOff + 4 * numParts
          val pts = (0 until numPoints).map(i =>
            (b.getDouble(ptsOff + 16 * i), b.getDouble(ptsOff + 16 * i + 8)))
          (0 until numParts).map { k =>
            val end = if (k + 1 < numParts) offsets(k + 1) else numPoints
            pts.slice(offsets(k), end)
          }
        }
      recs += parts
      pos += 8 + contentWords * 2
    }
    (shapeType, lenWords, bbox, recs.toSeq)
  }

  private def parseDbfCount(p: String): Int = readAll(p).getInt(4)

  test("shapefile triples round-trip: counts, framing, coordinates, bbox") {
    val dir = Files.createTempDirectory("shp").toString
    val counts = Shapefile.write(feats, dir)
    val byKind = feats.collect().groupBy(_.getString(1))
    for (kind <- Seq("point", "line", "polygon")) {
      val expectRows = byKind(kind)
      assert(counts(kind) == expectRows.length)
      val (st, lenWords, bbox, recs) = parseShp(s"$dir/$kind.shp")
      assert(st == (kind match { case "point" => 1; case "line" => 3; case _ => 5 }))
      assert(lenWords * 2 == Files.size(Paths.get(s"$dir/$kind.shp")),
        "declared length must equal actual file size")
      assert(recs.length == expectRows.length)
      assert(parseDbfCount(s"$dir/$kind.dbf") == expectRows.length)
      // shx frames every record
      assert((Files.size(Paths.get(s"$dir/$kind.shx")) - 100) / 8 == expectRows.length)
      // .prj sidecar: well-formed WGS84 ESRI WKT (balanced brackets, the
      // datum + unit every GIS tool needs to skip the "unknown CRS" prompt)
      val prj = new String(Files.readAllBytes(Paths.get(s"$dir/$kind.prj")), "US-ASCII")
      assert(prj.startsWith("GEOGCS[\"GCS_WGS_1984\""))
      assert(prj.contains("SPHEROID[\"WGS_1984\",6378137.0,298.257223563]"))
      assert(prj.contains("UNIT[\"Degree\",0.0174532925199433]"))
      assert(prj.count(_ == '[') == prj.count(_ == ']'))
      // coordinate content: every written point appears within the bbox
      val flat = recs.flatten.flatten
      assert(flat.forall { case (x, y) =>
        x >= bbox._1 - 1e-9 && x <= bbox._3 + 1e-9 &&
          y >= bbox._2 - 1e-9 && y <= bbox._4 + 1e-9 })
      // exact geometry: records (in stream order) re-derived independently
      // from the storage model
      val expected = expectRows.map(expectedParts)
      assert(recs.map(_.map(_.toVector).toVector).toVector ==
        expected.map(_.map(_.toVector).toVector).toVector,
        s"$kind parts must match the storage model re-derivation")
      if (kind == "polygon") {
        // every ring closed; FIRST ring of each record clockwise (spec
        // requirement for outer rings); holes counter-clockwise
        assert(recs.forall(_.forall(r => r.head == r.last)))
        def area2(r: Seq[(Double, Double)]): Double = {
          val s = r.dropRight(1)
          s.indices.map { i =>
            val (x1, y1) = s(i); val (x2, y2) = s((i + 1) % s.length)
            (x2 - x1) * (y2 + y1)
          }.sum
        }
        assert(recs.forall(r => area2(r.head) > 0), "outer rings cw")
        assert(recs.exists(_.length > 1), "multi-ring records must occur")
      }
      if (kind == "line") assert(recs.exists(_.length > 1),
        "multi-part polylines must occur")
    }
    // exact coordinate spot-check for points
    val (_, _, _, ptRecs) = parseShp(s"$dir/point.shp")
    val expectPts = byKind("point").map(r => (r.getDouble(2), r.getDouble(3))).toSet
    assert(ptRecs.flatten.flatten.toSet == expectPts)
  }

  /** Independent re-derivation of the shapefile part list from the storage
    * columns (kind, lon, lat, rings, roles): polygons = every ring closed
    * and REVERSED (model winds shells CCW / holes CW, the spec wants the
    * opposite); lines = open parts; points = the anchor. */
  private def expectedParts(r: org.apache.spark.sql.Row): Seq[Seq[(Double, Double)]] = {
    val kind = r.getString(1)
    val rings = if (!r.isNullAt(4)) r.getSeq[scala.collection.Seq[Double]](4) else Nil
    def pts(fl: scala.collection.Seq[Double]): Vector[(Double, Double)] =
      (0 until fl.length / 2).map(i => (fl(2 * i), fl(2 * i + 1))).toVector
    kind match {
      case "polygon" if rings.nonEmpty =>
        rings.map { fl => val p = pts(fl); (p :+ p.head).reverse }.toVector
      case "line" if rings.nonEmpty => rings.map(pts).toVector
      case _ => Vector(Vector((r.getDouble(2), r.getDouble(3))))
    }
  }

  test("distributed shapefile: kill mid-export, resume completes identically") {
    val d1 = Files.createTempDirectory("shp_k1").toString
    val d2 = Files.createTempDirectory("shp_k2").toString
    val parts = fixedParts(feats, 6)
    intercept[Exception] {
      Shapefile.write(parts, d2, failAtPartition = 3)
    }
    assert(graft.lineage.Lineage.committedParts(s"$d2/.shp.state").nonEmpty)
    val counts = Shapefile.write(parts, d2)
    // a resumed run is byte-identical to a clean run on the same partitioning
    assert(Shapefile.write(parts, d1) == counts)
    for (kind <- Seq("point", "line", "polygon"); ext <- Seq("shp", "shx", "dbf", "prj")) {
      assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(s"$d1/$kind.$ext")),
        Files.readAllBytes(Paths.get(s"$d2/$kind.$ext"))),
        s"$kind.$ext must be byte-identical")
    }
    // resumable state cleaned after success (compacted lineage remains)
    assert(!Files.exists(Paths.get(s"$d2/.shp.state/parts")))
    // count and bbox against the source rows, through the independent parser
    val byKind = feats.collect().groupBy(_.getString(1))
    for (kind <- Seq("point", "line", "polygon")) {
      val (_, _, bbox, recs) = parseShp(s"$d2/$kind.shp")
      assert(counts(kind) == byKind(kind).length && recs.length == counts(kind))
      assert(parseDbfCount(s"$d2/$kind.dbf") == counts(kind))
      val pts = byKind(kind).toSeq.flatMap(expectedParts).flatten
      assert(bbox == ((pts.map(_._1).min, pts.map(_._2).min,
        pts.map(_._1).max, pts.map(_._2).max)), s"$kind bbox")
      assert(recs.map(_.map(_.toVector).toVector).toSet ==
        byKind(kind).map(r => expectedParts(r).map(_.toVector).toVector).toSet,
        s"$kind records")
    }
  }

  test("shapefile: a kind that cannot open leaks no file and no .shp.tmp; a rerun completes") {
    val d = Files.createTempDirectory("shp_open").toString
    // a directory where the line .dbf goes: the second triple fails to open
    // after the point triple and the line .shp.tmp/.shx are open
    Files.createDirectories(Paths.get(s"$d/line.dbf"))
    val parts = fixedParts(feats, 3)
    intercept[Exception](Shapefile.write(parts, d))
    def under(p: java.nio.file.Path) = p.toString.startsWith(d)
    val left = Files.walk(Paths.get(d)).toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(!left.exists(_.toString.endsWith(".shp.tmp")), left.mkString(", "))
    assert(!left.exists(_.toString.endsWith(".shp")), "no triple lands when one fails")
    val fds = Paths.get("/proc/self/fd")
    if (Files.isDirectory(fds)) {
      val open = Files.list(fds).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .flatMap(f => scala.util.Try(Files.readSymbolicLink(f)).toOption)
      assert(!open.exists(under), open.filter(under).mkString(", "))
    }
    Files.delete(Paths.get(s"$d/line.dbf"))
    val byKind = feats.collect().groupBy(_.getString(1)).map { case (k, v) => k -> v.length }
    assert(Shapefile.write(parts, d) == byKind)
  }

  test("sinks accept build() outputs (osm_type instead of kind) with real geometry") {
    import graft.geo.MultiPolygon
    import graft.model.{SnapshotRequest, TypeFilters}
    val images = ImageFixture.generate(spark, 300, 2)
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(graft.geo.Fixtures.requestPolygon)),
      allGeometry = Some(TypeFilters(attributes = Some(Seq("name")))))
    val built = graft.plan.PlanBuilder.build(images, req)
    val dir = Files.createTempDirectory("shp_built").toString
    val counts = Shapefile.write(built, dir)
    assert(counts.values.sum == built.count())
    val kmlN = Sinks.kml(built, s"$dir/kml")
    assert(kmlN == built.count())
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(new java.io.File(s"$dir/kml/export.kml"))
    // real geometry flows through the projection: all three KML shapes appear
    assert(doc.getElementsByTagName("LineString").getLength > 0)
    assert(doc.getElementsByTagName("Polygon").getLength > 0)
    assert(doc.getElementsByTagName("Point").getLength > 0)
  }

  test("kml document is well-formed XML with one Placemark per feature") {
    val dir = Files.createTempDirectory("kml").toString
    val n = Sinks.kml(feats, dir)
    assert(n == feats.count())
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(new java.io.File(s"$dir/export.kml"))
    assert(doc.getElementsByTagName("Placemark").getLength == n)
    // each placemark has exactly ONE top-level geometry element (Point /
    // LineString / Polygon / MultiGeometry); MultiGeometry children push the
    // raw tag totals above n, so count direct Placemark children
    val pms = doc.getElementsByTagName("Placemark")
    val geomTags = Set("Point", "LineString", "Polygon", "MultiGeometry")
    (0 until pms.getLength).foreach { i =>
      val kids = pms.item(i).getChildNodes
      val geoms = (0 until kids.getLength)
        .count(k => geomTags(kids.item(k).getNodeName))
      assert(geoms == 1, "one top-level geometry per placemark")
    }
    assert(doc.getElementsByTagName("MultiGeometry").getLength > 0,
      "multi-part shapes must occur")
  }

  test("kml: a resumed run is byte-identical and placemarks match the source rows") {
    val d1 = Files.createTempDirectory("kml_k1").toString
    val d2 = Files.createTempDirectory("kml_k2").toString
    // kml has no fault hook of its own: partition 3 throws while `armed`
    // exists, once a sibling partition has committed — a killed run of the
    // same plan the disarmed rerun resumes
    val armed = Files.createTempFile("kml_armed", "").toString
    val guard = udf { (pid: Int) =>
      if (pid == 3 && Files.exists(Paths.get(armed))) {
        val deadline = System.currentTimeMillis() + 10000
        while (graft.lineage.Lineage.committedParts(d2).isEmpty &&
            System.currentTimeMillis() < deadline) Thread.sleep(50)
        throw new RuntimeException(s"injected fault at partition $pid")
      }
      true
    }
    val parts = fixedParts(feats, 6).filter(guard(spark_partition_id()))
    intercept[Exception](Sinks.kml(parts, d2))
    assert(graft.lineage.Lineage.committedParts(d2).nonEmpty)
    Files.delete(Paths.get(armed))
    val n = Sinks.kml(parts, d2)
    assert(Sinks.kml(parts, d1) == n)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(Paths.get(s"$d1/export.kml")),
      Files.readAllBytes(Paths.get(s"$d2/export.kml"))),
      "resumed kml must be byte-identical to a clean run")
    // serialization happened in the plan: no parts left after assembly
    assert(!Files.exists(Paths.get(d2, "parts")))
    // (name, top-level geometry element) per placemark = the independent
    // derivation from the source rows
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(new java.io.File(s"$d2/export.kml"))
    val pms = doc.getElementsByTagName("Placemark")
    assert(pms.getLength.toLong == n && n == feats.count())
    val got = (0 until pms.getLength).map { i =>
      val e = pms.item(i).asInstanceOf[org.w3c.dom.Element]
      val kids = e.getChildNodes
      val geom = (0 until kids.getLength).map(k => kids.item(k).getNodeName)
        .filter(Set("Point", "LineString", "Polygon", "MultiGeometry"))
      (e.getElementsByTagName("name").item(0).getTextContent, geom)
    }
    val want = feats.collect().toSeq.map { r =>
      val rings = if (!r.isNullAt(4)) r.getSeq[scala.collection.Seq[Double]](4) else Nil
      val roles = if (!r.isNullAt(5)) r.getSeq[Int](5) else Nil
      val nParts = r.getString(1) match {
        case "line" => rings.length
        case "polygon" => rings.indices.count(k => k == 0 || roles(k) != 1)
        case _ => 0
      }
      val geom = (r.getString(1), nParts) match {
        case (_, p) if p > 1 => "MultiGeometry"
        case ("line", 1) => "LineString"
        case ("polygon", 1) => "Polygon"
        case _ => "Point"
      }
      (r.getString(0), Seq(geom))
    }
    assert(got.sortBy(_._1) == want.sortBy(_._1))
  }
}
