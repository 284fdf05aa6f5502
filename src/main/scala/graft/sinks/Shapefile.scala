package graft.sinks

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row}
import graft.lineage.Lineage

/** From-scratch ESRI Shapefile writer (.shp + .shx + .dbf), the reference's
  * second-most-requested format (dedicated path src/app.py:483-547; ogr2ogr
  * option table :565-602). Format per the public ESRI Shapefile Technical
  * Description (July 1998) and the dBASE III header layout.
  *
  * A shapefile holds ONE shape type, so the writer splits by `kind` into
  * point/line/polygon file triples — exactly what the reference's shp path
  * does (it zips per-type files). Geometry comes from the engine's feature
  * model: anchor for points, arbitrary multi-part polylines, and
  * multi-ring/multi-part polygon records (outer rings rewound clockwise,
  * holes counter-clockwise, as the spec requires).
  *
  * One pass: each task encodes its partition's rows, every kind, into one
  * committed, resumable lineage part of kind-tagged frames (shape record
  * ++ dBASE record). The driver streams the committed parts once and
  * routes each frame to its kind's triple, counting records and growing
  * that triple's envelope as it goes — a shapefile is a single file with a
  * global header (bbox + total length patched at the end via
  * RandomAccessFile), the same single-writer boundary as the reference's
  * ogr2ogr subprocess. One Spark job per export, whatever the kinds.
  */
object Shapefile {

  private val FileCode = 9994
  private val Version = 1000

  private final class Patchable(path: String) {
    val raf = new RandomAccessFile(path, "rw")
    raf.setLength(0)
    private val buf = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(raf.getFD))
    var written: Long = 0L
    def writeBytes(b: Array[Byte]): Unit = { buf.write(b); written += b.length }
    def flush(): Unit = buf.flush()
    def patch(pos: Long, b: Array[Byte]): Unit = { raf.seek(pos); raf.write(b) }
    def close(): Unit = { buf.flush(); raf.close() }
  }

  private def be(i: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN).putInt(i).array()
  private def le(i: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(i).array()
  private def led(d: Double): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(d).array()

  /** 100-byte main header (shared by .shp and .shx); length + bbox are
    * patched after the record stream. */
  private def header(shapeType: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(100)
    b.order(ByteOrder.BIG_ENDIAN)
    b.putInt(FileCode); (0 until 5).foreach(_ => b.putInt(0))
    b.putInt(0) // file length in 16-bit words — patched
    b.order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(Version).putInt(shapeType)
    (0 until 8).foreach(_ => b.putDouble(0.0)) // bbox + z/m ranges — patched
    b.array()
  }

  private final case class Extent(
      var minX: Double = Double.MaxValue, var minY: Double = Double.MaxValue,
      var maxX: Double = Double.MinValue, var maxY: Double = Double.MinValue) {
    def add(x: Double, y: Double): Unit = {
      if (x < minX) minX = x; if (x > maxX) maxX = x
      if (y < minY) minY = y; if (y > maxY) maxY = y
    }
    def bytes: Array[Byte] = led(minX) ++ led(minY) ++ led(maxX) ++ led(maxY)
  }

  /** Shape record payloads (without the record header). */
  private def pointShape(x: Double, y: Double): Array[Byte] =
    le(1) ++ led(x) ++ led(y)

  /** PolyLine/Polygon record: numParts + per-part start offsets — a
    * Polygon record carries EVERY ring of a (multi)polygon (outer CW,
    * holes CCW), a PolyLine record every part of a MultiLineString. */
  private def polyShape(shapeType: Int, parts: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val allPts = parts.flatten
    val ext = Extent()
    allPts.foreach { case (x, y) => ext.add(x, y) }
    val offsets = parts.scanLeft(0)((a, p) => a + p.length).init
    le(shapeType) ++ ext.bytes ++ le(parts.length) ++ le(allPts.length) ++
      offsets.flatMap(le).toArray ++
      allPts.flatMap { case (x, y) => led(x) ++ led(y) }.toArray
  }

  /** One fixed-width dBASE record (leading space = not-deleted marker) —
    * pure, so [[write]] encodes it map-side. */
  private[sinks] def dbfRecord(vals: Seq[String], nFields: Int, width: Int): Array[Byte] = {
    val rec = new Array[Byte](1 + nFields * width)
    java.util.Arrays.fill(rec, ' '.toByte)
    vals.zipWithIndex.foreach { case (v, i) =>
      val b = Option(v).getOrElse("").getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(b, 0, rec, 1 + i * width, math.min(b.length, width))
    }
    rec
  }

  /** dBASE III attribute table writer over pre-encoded [[dbfRecord]]s
    * (every column as a fixed-width character field — the reference's shp
    * exports stringify jsonb attributes too). */
  private final class DbfWriter(path: String, fieldNames: Seq[String], width: Int = 64) {
    private val names = fieldNames.map(_.replaceAll("[^A-Za-z0-9_]", "_").take(10))
    private val out = new Patchable(path)
    private var n = 0
    locally {
      val headerSize = 32 + names.size * 32 + 1
      val recordSize = 1 + names.size * width
      val h = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
      h.put(0x03.toByte).put(124.toByte).put(1.toByte).put(1.toByte) // version, YMD
      h.putInt(0) // record count — patched
      h.putShort(headerSize.toShort).putShort(recordSize.toShort)
      h.position(32)
      out.writeBytes(h.array())
      names.foreach { nm =>
        val f = ByteBuffer.allocate(32)
        f.put(nm.getBytes(StandardCharsets.US_ASCII).padTo(11, 0.toByte))
        f.put('C'.toByte); f.putInt(0); f.put(width.toByte); f.put(0.toByte)
        f.position(32)
        out.writeBytes(f.array())
      }
      out.writeBytes(Array(0x0D.toByte))
    }
    def writeRecord(rec: Array[Byte]): Unit = {
      out.writeBytes(rec)
      n += 1
    }
    def close(): Int = {
      out.writeBytes(Array(0x1A.toByte)) // EOF
      out.flush()
      out.patch(4, le(n))
      out.close()
      n
    }
  }

  /** WGS84 `.prj` sidecar (ESRI WKT, what ogr2ogr writes for EPSG:4326 —
    * the reference's shapefile path, src/app.py:483-547). Without it every
    * GIS tool prompts "unknown CRS" on open. */
  val Wgs84Wkt: String =
    "GEOGCS[\"GCS_WGS_1984\",DATUM[\"D_WGS_1984\"," +
      "SPHEROID[\"WGS_1984\",6378137.0,298.257223563]]," +
      "PRIMEM[\"Greenwich\",0.0],UNIT[\"Degree\",0.0174532925199433]]"

  private def kindShapeType(kind: String): Int = kind match {
    case "point" => 1
    case "line" => 3
    case _ => 5
  }

  /** Driver half of [[write]]: one kind's triple, fed pre-encoded
    * (shape, dbfRecord) frames — record numbering, shx framing, the
    * envelope (from each shape record's own bbox or point) and header
    * patches only. The .shp streams to `<base>.shp.tmp` and is renamed
    * last, so a triple whose .shp exists is whole. */
  private final class Triple(base: String, st: Int, fieldNames: Seq[String]) {
    private val shpTmp = s"$base.shp.tmp"
    private val shp = new Patchable(shpTmp)
    private val shx = closingOnFailure(shp)(new Patchable(s"$base.shx"))
    private val dbf = closingOnFailure(shp, shx) {
      shp.writeBytes(header(st))
      shx.writeBytes(header(st))
      new DbfWriter(s"$base.dbf", fieldNames)
    }
    private val ext = Extent()
    private var recNo = 0

    /** `open`, or, if it throws, close the files opened before it and drop
      * the `.shp.tmp`: a triple that fails to open leaks nothing. */
    private def closingOnFailure[A](opened: Patchable*)(open: => A): A =
      try open catch {
        case e: Throwable =>
          opened.foreach(_.close())
          Files.deleteIfExists(Paths.get(shpTmp))
          throw e
      }

    def add(shape: Array[Byte], dbfRec: Array[Byte]): Unit = {
      recNo += 1
      shx.writeBytes(be((shp.written / 2).toInt) ++ be(shape.length / 2))
      shp.writeBytes(be(recNo) ++ be(shape.length / 2) ++ shape)
      dbf.writeRecord(dbfRec)
      val b = ByteBuffer.wrap(shape).order(ByteOrder.LITTLE_ENDIAN)
      ext.add(b.getDouble(4), b.getDouble(12))
      if (st != 1) ext.add(b.getDouble(20), b.getDouble(28))
    }

    private var finished = false

    /** Patch the headers, close the three files, write the .prj and
      * rename the .shp into place; returns the record count. */
    def finish(): Int = {
      shp.flush(); shx.flush()
      shp.patch(24, be((shp.written / 2).toInt))
      shx.patch(24, be((shx.written / 2).toInt))
      if (recNo > 0) {
        shp.patch(36, ext.bytes)
        shx.patch(36, ext.bytes)
      }
      shp.close(); shx.close()
      dbf.close()
      finished = true
      Files.write(Paths.get(s"$base.prj"),
        Wgs84Wkt.getBytes(StandardCharsets.US_ASCII))
      Files.move(Paths.get(shpTmp), Paths.get(s"$base.shp"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      recNo
    }

    /** A failed assembly leaves no file open and no `.shp.tmp` behind; a
      * triple already renamed into place is whole and stays. */
    def abort(): Unit = {
      if (!finished) { shp.close(); shx.close(); dbf.close() }
      Files.deleteIfExists(Paths.get(shpTmp))
      ()
    }
  }

  /** The shapefile-spec geometry parts per row; serializable, run map-side.
    * Polygons: every ring of every part in one record, REVERSED — the shared
    * model winds shells CCW / holes CW, the shapefile spec wants outer CW /
    * holes CCW, and reversing a closed ring keeps it closed. Lines: one part
    * per polyline. */
  private def geometryClosure(columns: IndexedSeq[String]): Row => Seq[IndexedSeq[(Double, Double)]] = {
    val g = FeatureModel.geomReader(columns).getOrElse(throw new IllegalArgumentException(
      s"shapefile export needs lon/lat anchor columns; got ${columns.mkString(",")}"))
    (r: Row) => {
      val geom = g(r)
      geom.gtype match {
        case 3 | 6 => geom.parts.flatten.map(_.reverse)
        case _ => geom.parts.map(_.head)
      }
    }
  }

  private val Kinds = Seq("point", "line", "polygon")

  /** Export a feature DataFrame (kind, lon, lat, rings, roles, + attribute
    * columns) as per-kind shapefile triples under `dir`. Attribute columns =
    * everything except the geometry columns, stringified. `prefix` gives the
    * reference's GIS-convention names (`{name}_point.shp` etc.,
    * src/app.py:483-547). One pass: each task encodes its partition's shape
    * and fixed-width dBASE records map-side into one committed, resumable
    * byte part, a [[Lineage.frame]] per row of (kind byte ++ shape ++ dbf
    * record); the driver routes the frames into the three .shp/.shx/.dbf
    * triples (a kind with no rows still gets an empty triple). Parts clean
    * up after success. Returns kind → record count. */
  def write(df0: DataFrame, dir: String, prefix: String = "",
      failAtPartition: Int = -1): Map[String, Int] = {
    Files.createDirectories(Paths.get(dir))
    val df = FeatureModel.withKind(df0)
    val attrCols = df.columns.filterNot(FeatureModel.geomCols).toSeq
    val idx = df.columns.zipWithIndex.toMap
    val attrIdxs = attrCols.map(idx)
    val kindIdx = idx("kind")
    val haveVerts = df.columns.contains("rings")
    val shapeTypes = Kinds.map(k => kindShapeType(if (haveVerts) k else "point"))
    val geometry = geometryClosure(df.columns.toIndexedSeq)
    val dbfWidth = 64
    val nFields = attrCols.size
    val encode = (r: Row) => {
      val k = Kinds.indexOf(r.getString(kindIdx))
      val st = shapeTypes(k)
      val parts = geometry(r)
      val shape = if (st == 1) pointShape(parts.head.head._1, parts.head.head._2)
        else polyShape(st, parts)
      val dbfRec = dbfRecord(
        attrIdxs.map(i => Option(r.get(i)).map(_.toString).orNull),
        nFields, dbfWidth)
      Lineage.frame(Array(k.toByte) ++ shape ++ dbfRec)
    }
    val stateDir = s"$dir/.${prefix}shp.state"
    Lineage.exportResumableBytes(df.filter(df.col("kind").isin(Kinds: _*)),
      stateDir, encode, ext = "shpart", failAtPartition = failAtPartition)
    val dbfRecSize = 1 + nFields * dbfWidth
    Lineage.assembleParts(df.sparkSession, stateDir, "shpart") { c =>
      // opened inside the try, so a kind that fails to open aborts the
      // triples opened before it
      val triples = scala.collection.mutable.ArrayBuffer.empty[Triple]
      try {
        Kinds.zip(shapeTypes).foreach { case (k, st) =>
          triples += new Triple(s"$dir/$prefix$k", st, attrCols)
        }
        Lineage.frames(c.parts).foreach { rec =>
          triples(rec(0).toInt).add(rec.slice(1, rec.length - dbfRecSize),
            rec.takeRight(dbfRecSize))
        }
        Kinds.zip(triples.map(_.finish())).toMap
      } catch { case e: Throwable => triples.foreach(_.abort()); throw e }
    }
  }
}
