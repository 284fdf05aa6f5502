package graft.sinks

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
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
  * Shape and dBASE records encode map-side into committed, resumable lineage
  * parts; the driver streams them into the triple — a shapefile is a single
  * file with a global header (bbox + total length patched at the end via
  * RandomAccessFile), the same single-writer boundary as the reference's
  * ogr2ogr subprocess.
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

  /** Driver half of [[write]]: stream pre-encoded (shape, dbfRecord)
    * frames into the triple — record numbering, shx framing and header
    * patches only; the envelope comes from the parts' lineage manifests. The
    * .shp goes to `shpPath` (the assembly's temp file, renamed last, so a
    * triple whose .shp exists is whole). */
  private def assembleTriple(shpPath: String, base: String, st: Int,
      fieldNames: Seq[String], frames: Iterator[(Array[Byte], Array[Byte])],
      env: Option[Array[Double]]): Unit = {
    val shp = new Patchable(shpPath)
    val shx = new Patchable(s"$base.shx")
    val dbf = new DbfWriter(s"$base.dbf", fieldNames)
    shp.writeBytes(header(st))
    shx.writeBytes(header(st))
    var recNo = 0
    frames.foreach { case (shape, dbfRec) =>
      recNo += 1
      shx.writeBytes(be((shp.written / 2).toInt) ++ be(shape.length / 2))
      shp.writeBytes(be(recNo) ++ be(shape.length / 2) ++ shape)
      dbf.writeRecord(dbfRec)
    }
    shp.flush(); shx.flush()
    shp.patch(24, be((shp.written / 2).toInt))
    shx.patch(24, be((shx.written / 2).toInt))
    env.foreach { e =>
      val bbox = led(e(0)) ++ led(e(1)) ++ led(e(2)) ++ led(e(3))
      shp.patch(36, bbox)
      shx.patch(36, bbox)
    }
    shp.close(); shx.close()
    dbf.close()
    Files.write(Paths.get(s"$base.prj"),
      Wgs84Wkt.getBytes(StandardCharsets.US_ASCII))
    ()
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

  /** Export a feature DataFrame (kind, lon, lat, rings, roles, + attribute
    * columns) as per-kind shapefile triples under `dir`. Attribute columns =
    * everything except the geometry columns, stringified. `prefix` gives the
    * reference's GIS-convention names (`{name}_point.shp` etc.,
    * src/app.py:483-547). Each task encodes its partition's shape records
    * and fixed-width dBASE records map-side into committed, resumable byte
    * parts (one [[Lineage.frame]] per shape ++ dbf record; per-part envelope
    * in the lineage manifests); the driver streams the pre-encoded frames
    * into the .shp/.shx/.dbf triple — record numbering and header patches
    * only. Parts clean up after success. Returns kind → record count. */
  def write(df0: DataFrame, dir: String, prefix: String = "",
      failAtPartition: Int = -1): Map[String, Int] = {
    Files.createDirectories(Paths.get(dir))
    val df = FeatureModel.withKind(df0)
    val attrCols = df.columns.filterNot(FeatureModel.geomCols).toSeq
    val idx = df.columns.zipWithIndex.toMap
    val attrIdxs = attrCols.map(idx)
    val haveVerts = df.columns.contains("rings")
    val geometry = geometryClosure(df.columns.toIndexedSeq)
    val dbfWidth = 64
    val nFields = attrCols.size
    Seq("point", "line", "polygon").map { kind =>
      val st = kindShapeType(if (haveVerts) kind else "point")
      val encode = (r: Row) => {
        val parts = geometry(r)
        val shape = if (st == 1) pointShape(parts.head.head._1, parts.head.head._2)
          else polyShape(st, parts)
        val dbfRec = dbfRecord(
          attrIdxs.map(i => Option(r.get(i)).map(_.toString).orNull),
          nFields, dbfWidth)
        Lineage.frame(shape ++ dbfRec)
      }
      val stateDir = s"$dir/.$prefix$kind.state"
      val part = df.filter(df.col("kind") === kind)
      Lineage.exportResumableBytes(part, stateDir, encode,
        ext = "shpart", failAtPartition = failAtPartition,
        coords = Some((r: Row) => geometry(r).flatten))
      val dbfRecSize = 1 + nFields * dbfWidth
      val base = s"$dir/$prefix$kind"
      val n = Lineage.assemble(df.sparkSession, stateDir, "shpart",
        Paths.get(s"$base.shp")) { (tmp, c) =>
        assembleTriple(tmp.toString, base, st, attrCols,
          Lineage.frames(c.parts).map(rec => rec.splitAt(rec.length - dbfRecSize)),
          c.envelope)
      }
      kind -> n.toInt
    }.toMap
  }
}
