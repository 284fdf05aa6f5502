package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.lineage.Lineage

/** From-scratch PGDump (.sql) sink — the reference's `-f PGDump` export
  * (src/app.py:573-575: `PG_USE_COPY YES`, `-lco SRID=4326`; e2e
  * tests/test_API.py test_snapshot_feature_sql): a psql-replayable script of
  * `CREATE TABLE` + `COPY ... FROM stdin` with one tab-separated line per
  * row, terminated by `\.` — the fastest PostgreSQL load path, exactly what
  * ogr2ogr emits with PG_USE_COPY.
  *
  * Geometry is emitted as hex EWKB with SRID=4326 (the PostGIS COPY-text
  * representation): little-endian WKB with the 0x20000000 SRID flag. Point /
  * LineString / Polygon come from the engine's feature model (anchor, the
  * 3-vertex polyline, the closed quad ring); extracts without vertex columns
  * fall back to Point like the KML/shapefile sinks.
  *
  * COPY lines encode map-side into committed, resumable lineage parts; the
  * driver writes header + parts + terminator — a .sql script is a single
  * sequential file, the same single-writer boundary as the reference's
  * ogr2ogr subprocess.
  */
object PgDump {

  private def pgType(dt: DataType): String = dt match {
    case LongType => "bigint"
    case IntegerType | ShortType | ByteType => "integer"
    case DoubleType | FloatType => "double precision"
    case BooleanType => "boolean"
    case _: DecimalType => "numeric"
    case TimestampType => "timestamp"
    case DateType => "date"
    case _ => "text"
  }

  /** COPY text escaping (PostgreSQL COPY TO text format). */
  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c => sb.append(c)
    }
    sb.toString
  }

  // ---- EWKB ------------------------------------------------------------------

  private val Hex = "0123456789ABCDEF".toCharArray

  /** Hex EWKB with the PostGIS SRID extension on the top-level type —
    * full multi-part/multi-ring support via [[Wkb]] (nested sub-geometries
    * stay plain WKB, matching PostGIS). */
  def ewkbHex(geom: FeatureModel.Geom): String = {
    val b = java.nio.ByteBuffer.allocate(4 + Wkb.size(geom))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Wkb.put(b, geom, sridFlag = 4326)
    // allocate covers the 4-byte SRID extension; trim any slack defensively
    val used = b.position()
    val full = b.array()
    val arr = if (used == full.length) full else java.util.Arrays.copyOf(full, used)
    val sb = new StringBuilder(arr.length * 2)
    arr.foreach { x => sb.append(Hex((x >> 4) & 0xf)).append(Hex(x & 0xf)) }
    sb.toString
  }

  // ---- writer ----------------------------------------------------------------

  /** Write the extract as a psql-replayable PGDump script; returns the row
    * count. Geometry columns (lon/lat/kind/rings/roles/cell) collapse into
    * one `geom geometry(Geometry,4326)` column; everything else keeps its
    * type. Distributed + RESUMABLE: COPY lines are encoded map-side into
    * committed binary lineage parts ([[graft.lineage.Lineage]] write-ahead +
    * atomic-rename protocol; a killed export re-runs only uncommitted
    * partitions), the driver writes header + concatenated parts + terminator. */
  def write(df0: DataFrame, path: String, table: String = "export",
      failAtPartition: Int = -1): Long = {
    val df = FeatureModel.prepare(df0)
    val idx = df.columns.zipWithIndex.toMap
    // attribute columns = everything but the geometry model columns; the
    // build()-output `osm_type` rides along as a regular attribute
    val attrNames = df0.schema.fields.map(_.name)
      .filterNot(FeatureModel.geomCols).toSeq
    val geomOf = FeatureModel.geomReader(df.columns.toIndexedSeq)
    val hasGeom = geomOf.isDefined
    val fieldByName = df.schema.fields.map(f => f.name -> f).toMap

    val colDefs = attrNames.map(n => s""""$n" ${pgType(fieldByName(n).dataType)}""") ++
      (if (hasGeom) Seq("\"geom\" geometry(Geometry,4326)") else Nil)
    val copyCols = (attrNames ++ (if (hasGeom) Seq("geom") else Nil))
      .map(n => s""""$n"""").mkString(", ")
    val header = "SET standard_conforming_strings = ON;\n" +
      s"""CREATE TABLE "$table" (${colDefs.mkString(", ")});\n""" +
      s"""COPY "$table" ($copyCols) FROM stdin;\n"""

    // per-row COPY line as a serializable closure over column positions,
    // run map-side
    val encode: Row => Array[Byte] = { r =>
      def geomHex: String = ewkbHex(geomOf.get(r))
      val attrVals = attrNames.map { c =>
        Option(r.get(idx(c))).map(v => esc(v.toString)).getOrElse("\\N")
      }
      val vals = attrVals ++ (if (hasGeom) Seq(geomHex) else Nil)
      (vals.mkString("\t") + "\n").getBytes(StandardCharsets.UTF_8)
    }
    val partsDir = path + ".export"
    Lineage.exportResumableBytes(df, partsDir, encode,
      ext = "copypart", failAtPartition = failAtPartition)
    Lineage.assembleConcat(df.sparkSession, partsDir, "copypart", Paths.get(path))(
      _ => header.getBytes(StandardCharsets.UTF_8),
      "\\.\n".getBytes(StandardCharsets.UTF_8))
  }
}
