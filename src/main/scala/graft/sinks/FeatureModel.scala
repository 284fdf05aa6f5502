package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.MapType

/** The one shared view of the engine's feature model for row-streaming
  * sinks: geometry-column set, the `kind`/`osm_type` alias, jsonb-style map
  * stringification, and the per-row geometry extraction. FlatGeobuf, GPKG,
  * PGDump and the XML/JSON sinks all consume this; a feature-model change
  * lands here once. (`Kernels.geoJsonGeom` serializes the same model in
  * the plan, through [[fromRings]] and [[geoJson]].)
  *
  * Geometry storage (the reference's arbitrary OSM geometry, backend/
  * raw.lua:128-180): `rings` array<array<double>> of flat xy rings plus
  * `roles` array<int> (0 = outer ring / line part, 1 = hole of the
  * preceding outer), routed by `kind`.
  */
object FeatureModel {

  /** Geometry model columns — everything else is an attribute. */
  val geomCols: Set[String] = Set("kind", "lon", "lat", "cell", "rings", "roles")

  /** `kind` on raw feature tables, `osm_type` on build() outputs. */
  def withKind(df0: DataFrame): DataFrame =
    if (df0.columns.contains("kind")) df0
    else if (df0.columns.contains("osm_type"))
      df0.withColumn("kind", df0.col("osm_type"))
    else df0

  /** jsonb-style map attributes stringify to JSON (ogr2ogr behavior for
    * hstore/jsonb columns) — applied before row streaming so every sink
    * writes `{"k":"v"}`, never a JVM toString. */
  def jsonifyMaps(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case _: MapType =>
          acc.withColumn(f.name, org.apache.spark.sql.functions.to_json(acc.col(f.name)))
        case _ => acc
      }
    }

  /** One row's geometry, WKB-family type id:
    *  1=Point, 2=LineString, 3=Polygon, 5=MultiLineString, 6=MultiPolygon.
    * `parts`: for (Multi)Polygon one entry per part, each = outer ring then
    * its holes, every ring CLOSED (first vertex repeated); for
    * (Multi)LineString one open polyline per part; for Point one part with
    * the single vertex. */
  final case class Geom(gtype: Int, parts: IndexedSeq[IndexedSeq[IndexedSeq[(Double, Double)]]]) {
    /** Every vertex, in storage order — envelope accumulation. */
    def allPts: IndexedSeq[(Double, Double)] = parts.flatten.flatten
  }

  private def toPts(flat: scala.collection.Seq[Double], close: Boolean): IndexedSeq[(Double, Double)] = {
    val pts = (0 until flat.length / 2).map(i => (flat(2 * i), flat(2 * i + 1)))
    if (close && pts.nonEmpty) pts :+ pts.head else pts
  }

  /** Group flat rings + roles into closed-ring parts (role 0 opens a part,
    * role 1 appends a hole to the current one). */
  def groupParts(rings: scala.collection.Seq[scala.collection.Seq[Double]],
      roles: scala.collection.Seq[Int], close: Boolean): IndexedSeq[IndexedSeq[IndexedSeq[(Double, Double)]]] = {
    val parts = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[IndexedSeq[(Double, Double)]]]
    rings.indices.foreach { k =>
      val ring = toPts(rings(k), close)
      if (k < roles.length && roles(k) == 1 && parts.nonEmpty) parts.last += ring
      else parts += scala.collection.mutable.ArrayBuffer(ring)
    }
    parts.map(_.toIndexedSeq).toIndexedSeq
  }

  /** Build a [[Geom]] straight from the storage model (kind + anchor +
    * rings/roles) — the one place the kind → geometry-type routing lives. */
  def fromRings(kind: String, lon: Double, lat: Double,
      rings0: scala.collection.Seq[scala.collection.Seq[Double]],
      roles0: scala.collection.Seq[Int]): Geom = {
    // empty rings degrade (dropped, point fallback when nothing remains)
    // instead of poisoning an export task with .head/.min on empty
    val keep = rings0.indices.filter(k => rings0(k).nonEmpty)
    val rings = keep.map(rings0)
    val roles = keep.map(k => if (k < roles0.length) roles0(k) else 0)
    fromCleanRings(kind, lon, lat, rings, roles)
  }

  private def fromCleanRings(kind: String, lon: Double, lat: Double,
      rings: scala.collection.Seq[scala.collection.Seq[Double]],
      roles: scala.collection.Seq[Int]): Geom = kind match {
    case "line" if rings.nonEmpty =>
      val parts = rings.map(fl => IndexedSeq(toPts(fl, close = false))).toIndexedSeq
      Geom(if (parts.length > 1) 5 else 2, parts)
    case "polygon" if rings.nonEmpty =>
      val parts = groupParts(rings, roles, close = true)
      Geom(if (parts.length > 1) 6 else 3, parts)
    case _ => Geom(1, IndexedSeq(IndexedSeq(IndexedSeq((lon, lat)))))
  }

  /** GeoJSON geometry object of `g` — Point / LineString / MultiLineString /
    * Polygon / MultiPolygon (the row-level half of ST_AsGeoJSON,
    * builder.py:85-95). Single-pass StringBuilder: the nested map/mkString
    * version allocated an intermediate string per vertex (measured 3x on
    * the geojson sink). */
  def geoJson(g: Geom): String = {
    val sb = new java.lang.StringBuilder(64)
    def pt(p: (Double, Double)): Unit = {
      sb.append('[').append(p._1).append(',').append(p._2).append(']'); ()
    }
    def seq[T](xs: Seq[T])(f: T => Unit): Unit = {
      sb.append('[')
      var i = 0
      while (i < xs.length) { if (i > 0) sb.append(','); f(xs(i)); i += 1 }
      sb.append(']'); ()
    }
    def ring(r: Seq[(Double, Double)]): Unit = seq(r)(pt)
    def geom(tpe: String)(body: => Unit): String = {
      sb.append("{\"type\":\"").append(tpe).append("\",\"coordinates\":")
      body
      sb.append('}')
      sb.toString
    }
    g.gtype match {
      case 1 => geom("Point")(pt(g.parts.head.head.head))
      case 2 => geom("LineString")(ring(g.parts.head.head))
      case 5 => geom("MultiLineString")(seq(g.parts)(p => ring(p.head)))
      case 3 => geom("Polygon")(seq(g.parts.head)(ring))
      case _ => geom("MultiPolygon")(seq(g.parts)(p => seq(p)(ring)))
    }
  }

  /** Row-side geometry reader over column POSITIONS (serializable, usable
    * map-side). None when the frame carries no anchor columns (csv/centroid
    * projections drop them) — sinks then write attribute-only records. */
  def geomReader(columns: Seq[String]): Option[Row => Geom] = {
    val idx = columns.zipWithIndex.toMap
    if (!idx.contains("lon") || !idx.contains("lat")) None
    else {
      val haveRings = idx.contains("rings") && idx.contains("kind")
      val kindIdx = idx.getOrElse("kind", -1)
      val ringsIdx = idx.getOrElse("rings", -1)
      val rolesIdx = idx.getOrElse("roles", -1)
      Some { r =>
        val kind = if (haveRings) r.getString(kindIdx) else "point"
        val hasRings = haveRings && !r.isNullAt(ringsIdx)
        val rings = if (hasRings) r.getSeq[scala.collection.Seq[Double]](ringsIdx) else Nil
        val roles =
          if (rolesIdx >= 0 && !r.isNullAt(rolesIdx)) r.getSeq[Int](rolesIdx)
          else Seq.fill(rings.length)(0)
        fromRings(kind, r.getDouble(idx("lon")), r.getDouble(idx("lat")),
          rings, roles)
      }
    }
  }

  /** Standard sink preparation: kind alias + map stringification. */
  def prepare(df0: DataFrame): DataFrame = jsonifyMaps(withKind(df0))
}
