package graft.geo

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** GeoJSON codec for request geometry and feature output.
  *
  * The reference accepts Feature/FeatureCollection/Polygon/MultiPolygon request
  * bodies and normalizes them to a single geometry (src/validation/models.py:
  * 124-146), and serializes result rows via ST_AsGeoJSON (builder.py:85-95).
  * We parse with Jackson (ships with Spark) into the graft.geo model and emit
  * canonical-format JSON (fixed decimal formatting for determinism).
  */
object GeoJson {
  private val mapper = new ObjectMapper()

  def parsePolygon(json: String): MultiPolygon = parseGeometry(mapper.readTree(json))

  /** Accepts Feature, FeatureCollection, Polygon, MultiPolygon, GeometryCollection. */
  def parseGeometry(node: JsonNode): MultiPolygon = {
    node.get("type").asText() match {
      case "FeatureCollection" =>
        MultiPolygon(node.get("features").elements().asScala
          .flatMap(f => parseGeometry(f).polys).toSeq)
      case "Feature" => parseGeometry(node.get("geometry"))
      case "GeometryCollection" =>
        MultiPolygon(node.get("geometries").elements().asScala
          .flatMap(g => parseGeometry(g).polys).toSeq)
      case "Polygon" => MultiPolygon(Seq(polygonOf(node.get("coordinates"))))
      case "MultiPolygon" =>
        MultiPolygon(node.get("coordinates").elements().asScala
          .map(polygonOf).toSeq)
      case t => throw new IllegalArgumentException(s"unsupported GeoJSON type: $t")
    }
  }

  private def polygonOf(coords: JsonNode): Polygon = {
    val rings = coords.elements().asScala.map { ringNode =>
      val pts = ringNode.elements().asScala.map { p =>
        Pt(p.get(0).asDouble(), p.get(1).asDouble())
      }.toArray
      // GeoJSON rings repeat the first point at the end; our model does not.
      val trimmed =
        if (pts.length > 1 && pts.head == pts.last) pts.dropRight(1) else pts
      Ring(trimmed)
    }.toSeq
    Polygon(rings.head, rings.tail)
  }

  /** Canonical numeric formatting: shortest repr via Java Double.toString —
    * deterministic across JVMs. */
  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  def polygonJson(poly: Polygon): String = {
    def ring(r: Ring): String =
      (r.pts :+ r.pts.head)
        .map(p => s"[${num(p.lon)},${num(p.lat)}]").mkString("[", ",", "]")
    val rings = (poly.shell +: poly.holes.toIndexedSeq).map(ring).mkString("[", ",", "]")
    s"""{"type":"Polygon","coordinates":$rings}"""
  }
}
