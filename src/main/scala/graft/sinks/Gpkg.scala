package graft.sinks

import java.nio.ByteBuffer
import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.lineage.Lineage

/** From-scratch GeoPackage (.gpkg) sink — the reference's GPKG export path
  * (src/app.py:586-588, option table :482; e2e tests/test_API.py
  * test_snapshot_feature_gpkg). A GeoPackage is a SQLite database (written by
  * [[Sqlite]]) with the GPKG application id and the minimal metadata tables
  * the OGC GeoPackage spec requires for a features container:
  *
  *   gpkg_spatial_ref_sys   (EPSG:4326 + the two mandated placeholder SRS)
  *   gpkg_contents          (one `features` row with the layer envelope)
  *   gpkg_geometry_columns  (layer → geom column, GEOMETRY type, srid 4326)
  *   <layer>                (fid INTEGER PRIMARY KEY, attrs…, geom)
  *
  * Geometry is the GeoPackageBinary blob: "GP" magic, version 0, flags with
  * envelope indicator 1, little-endian srs_id, [minx maxx miny maxy]
  * envelope, then standard little-endian WKB — Point / LineString /
  * Polygon / MultiLineString / MultiPolygon from the engine's feature
  * model ([[Wkb]]).
  */
object Gpkg {

  /** GeoPackageBinary header + WKB (full multi-part/multi-ring support via
    * [[Wkb]]). */
  def gpb(geom: FeatureModel.Geom): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + 32 + Wkb.size(geom))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('G'.toByte).put('P'.toByte)
    b.put(0.toByte) // version
    b.put(0x03.toByte) // flags: little-endian (bit0) + envelope indicator 1
    b.putInt(4326)
    val pts = geom.allPts
    val xs = pts.map(_._1); val ys = pts.map(_._2)
    b.putDouble(xs.min).putDouble(xs.max).putDouble(ys.min).putDouble(ys.max)
    Wkb.put(b, geom)
    b.array()
  }

  private def sqlType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
    case DoubleType | FloatType => "REAL"
    case _: DecimalType => "REAL"
    case _ => "TEXT"
  }

  /** Attribute → SQLite storage class matching the declared column type:
    * every integral width as INTEGER, every floating/decimal as REAL — a
    * Float or Short stored as TEXT in a REAL/INTEGER column surprises typed
    * readers (FlatGeobuf.propBytes routes the same way via Number). */
  private def typed(v: Any): Any = v match {
    case null => null
    case x @ (_: Long | _: Int | _: Double | _: Boolean) => x
    case x: java.lang.Short => x.longValue()
    case x: java.lang.Byte => x.longValue()
    case x: java.lang.Float => x.doubleValue()
    case x: java.math.BigDecimal => x.doubleValue()
    case x => x.toString
  }

  private def createLayerSql(attrFields: Seq[StructField], layer: String): String = {
    val attrDefs = attrFields.map(f =>
      s""""${f.name}" ${sqlType(f.dataType)}""").mkString(", ")
    s"""CREATE TABLE "$layer" (fid INTEGER PRIMARY KEY AUTOINCREMENT""" +
      (if (attrDefs.nonEmpty) s", $attrDefs" else "") + """, "geom" GEOMETRY)"""
  }

  /** One row → SQLite record bytes: NULL fid slot (ipk = rowid), typed
    * attributes, GPB geometry blob. Serializable — runs map-side in
    * [[write]]. */
  private def rowRecord(attrIdxs: Seq[Int],
      geomOf: Option[Row => FeatureModel.Geom])(r: Row): Array[Byte] = {
    val blob: Any = geomOf match {
      case Some(g) => gpb(g(r))
      case None => null
    }
    Sqlite.record((null: Any) +: attrIdxs.map(i => typed(r.get(i))) :+ blob)
  }

  /** Write the extract as a single-layer GeoPackage; returns the row count.
    * Extracts without anchor columns (csv/centroid projections) store NULL
    * geometry — legal in GPKG feature tables. Each task encodes its
    * partition's SQLite records map-side into committed, resumable byte
    * parts (length-prefixed framing; per-part envelope in the lineage
    * manifests); the driver then streams the pre-encoded records into b-tree
    * pages — O(page) memory, no per-row serialization on the driver. Parts
    * clean up after success. */
  def write(df0: DataFrame, path: String, layer: String = "export",
      failAtPartition: Int = -1): Long = {
    val df = FeatureModel.prepare(df0)
    val idx = df.columns.zipWithIndex.toMap
    val attrFields = df.schema.fields
      .filterNot(f => FeatureModel.geomCols(f.name)).toSeq
    val attrIdxs = attrFields.map(f => idx(f.name))
    val geomOf = FeatureModel.geomReader(df.columns.toIndexedSeq)
    val encode = rowRecord(attrIdxs, geomOf) _
    val stateDir = s"$path.state"
    Lineage.exportResumableBytes(df, stateDir, r => Lineage.frame(encode(r)),
      ext = "rec", failAtPartition = failAtPartition,
      coords = geomOf.map(g => (r: Row) => g(r).allPts))
    Lineage.assemble(df.sparkSession, stateDir, "rec", Paths.get(path)) { (tmp, c) =>
      val db = new Sqlite(tmp.toString)
      try {
        val rows = Lineage.frames(c.parts).zipWithIndex
          .map { case (rec, i) => (i + 1L, rec) }
        db.writeTableEncoded(layer, createLayerSql(attrFields, layer), rows)
        metadataTables(db, layer, c.rows, c.envelope)
        db.finish(applicationId = 0x47504B47) // "GPKG"
      } finally db.close()
    }
  }

  /** The gpkg_* metadata tables + autoindexes. */
  private def metadataTables(db: Sqlite, layer: String, n: Long,
      env: Option[Array[Double]]): Unit = {
    // AUTOINCREMENT contract: SQLite keeps the high-water mark per table in
    // sqlite_sequence; a file that declares AUTOINCREMENT without it is
    // read-only-at-best for real sqlite clients (INSERT fails)
    db.writeTable("sqlite_sequence",
      "CREATE TABLE sqlite_sequence(name,seq)",
      Iterator((1L, Seq[Any](layer, n))))

    // srs_id is INTEGER PRIMARY KEY → it IS the rowid (including the spec-
    // mandated -1/0 rows); the record slot holds NULL like real SQLite writes
    db.writeTable("gpkg_spatial_ref_sys",
      """CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER NOT NULL PRIMARY KEY, organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, description TEXT)""",
      Iterator(
        (-1L, Seq[Any]("Undefined cartesian SRS", null, "NONE", -1L, "undefined", null)),
        (0L, Seq[Any]("Undefined geographic SRS", null, "NONE", 0L, "undefined", null)),
        (4326L, Seq[Any]("WGS 84 geodetic", null, "EPSG", 4326L,
          "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137,298.257223563]],PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]",
          null))))

    val (emn, emx, emy, emY) = env match {
      case Some(e) => (e(0): java.lang.Double, e(2): java.lang.Double,
        e(1): java.lang.Double, e(3): java.lang.Double)
      case None => (null, null, null, null)
    }
    db.writeTable("gpkg_contents",
      """CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL, identifier TEXT UNIQUE, description TEXT DEFAULT '', last_change DATETIME NOT NULL DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')), min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)""",
      Iterator((1L, Seq[Any](layer, "features", layer, "",
        "2026-01-01T00:00:00.000Z", emn, emy, emx, emY, 4326L))))
    // a TEXT/composite PRIMARY KEY (and UNIQUE) is index-backed in real
    // SQLite — declaring one without its sqlite_autoindex b-tree makes
    // PRAGMA integrity_check report the file malformed
    db.writeIndex("sqlite_autoindex_gpkg_contents_1", "gpkg_contents",
      Seq(Seq[Any](layer, 1L)))
    db.writeIndex("sqlite_autoindex_gpkg_contents_2", "gpkg_contents",
      Seq(Seq[Any](layer, 1L)))

    db.writeTable("gpkg_geometry_columns",
      """CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL, CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))""",
      Iterator((1L, Seq[Any](layer, "geom", "GEOMETRY", 4326L, 0L, 0L))))
    db.writeIndex("sqlite_autoindex_gpkg_geometry_columns_1",
      "gpkg_geometry_columns", Seq(Seq[Any](layer, "geom", 1L)))
    ()
  }
}
