package graft.sinks

import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import graft.lineage.Lineage

/** From-scratch MBTiles sink — the reference's ENABLE_TILES export branch
  * (src/app.py:592-603). An MBTiles archive is a SQLite database (written by
  * [[Sqlite]]) with the spec's two tables:
  *
  *   metadata (name TEXT, value TEXT)
  *   tiles    (zoom_level, tile_column, tile_row, tile_data)
  *
  * Rows arrive from the same distributed tile pipeline as the PMTiles sink —
  * tileAssign explode + per-tile feature aggregation is the only shuffle —
  * and each reduce partition commits its payloads as a resumable part with
  * a `(z, x, y)`-sorted index run ([[Mvt.writeArchives]]). The driver
  * k-way-merges those runs and streams the payloads to the container in
  * (z, x, y) order: no global sort, no sampling job, no `toLocalIterator`.
  * Tile payloads are gzip MVT ([[Mvt]], `format=pbf`); tile_row uses the
  * TMS flip the MBTiles spec requires. The container is built at
  * `<path>.tmp` and renamed into place, so a failed job never clobbers or
  * half-writes `path`; the committed parts live under `<path>.state` until
  * the container lands, so a killed write resumes with the missing
  * partitions only. */
object MbTiles {

  /** The reference-parity sink: feature DataFrame → gzip MVT payloads
    * ([[Mvt]]) → MBTiles with `format=pbf` and the spec-required `json`
    * metadata row describing the vector layer — what tippecanoe's mbtiles
    * output carries (src/app.py:592-603). Returns the tile count. */
  def writeMvt(features: DataFrame, path: String, zooms: (Int, Int),
      name: String, failAtPartition: Int = -1): Long = {
    val payloads = Mvt.tilePayloads(features, zooms, name)
    val layers = vectorLayersJson(features, zooms, name)
    Mvt.writeArchives(payloads, s"$path.state",
      Some(Mvt.tilesFingerprint(payloads, features, zooms, name)),
      failAtPartition)(archive(_, path, name, layers))
  }

  /** MBTiles 1.3 `json` metadata (required when format=pbf): the vector
    * layer inventory tile readers use for styling. Field types follow the
    * TileJSON vocabulary (Number/Boolean/String) and mirror what the MVT
    * encoder actually emits per Spark type — typed clients (MapLibre style
    * expressions) rely on this inventory. */
  def vectorLayersJson(features: DataFrame, zooms: (Int, Int), name: String): String = {
    import org.apache.spark.sql.types._
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val prepared = FeatureModel.prepare(features)
    val attrCols = prepared.columns.filterNot(FeatureModel.geomCols)
    def tileJsonType(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | _: DecimalType => "Number"
      case BooleanType => "Boolean"
      case _ => "String"
    }
    val fields = attrCols
      .map(c => s""""${esc(c)}":"${tileJsonType(prepared.schema(c).dataType)}"""")
      .mkString(",")
    s"""{"vector_layers":[{"id":"${esc(name)}","minzoom":${zooms._1},"maxzoom":${zooms._2},"fields":{$fields}}]}"""
  }

  /** Container assembly over ready-made (z, tx, ty, gzip MVT payload)
    * rows, one per tile: the rows commit as tile parts, then the driver
    * merges them in (z, x, y) order. `vectorLayers` is the `json` metadata
    * row ([[vectorLayersJson]]). Returns the tile count. */
  def writePayloads(perTile: DataFrame, path: String, name: String,
      vectorLayers: String): Long =
    Mvt.writeArchives(perTile, s"$path.state", None)(
      archive(_, path, name, vectorLayers))

  /** Build the container at `path` from committed tile parts. Returns the
    * tile count. */
  def archive(tiles: Mvt.TileParts, path: String, name: String,
      vectorLayers: String): Long =
    Lineage.replaceAtomically(Paths.get(path)) { tmp =>
      val db = new Sqlite(tmp.toString)
      try {
        var minZ = Int.MaxValue; var maxZ = 0
        var n = 0L
        val rows = tiles.tiles(Mvt.ByZxy).map { case (part, e) =>
          if (e.z < minZ) minZ = e.z
          if (e.z > maxZ) maxZ = e.z
          n += 1
          // TMS row flip (MBTiles spec: row 0 is the southern edge)
          val tmsRow = (1L << e.z) - 1L - e.ty
          (n, Seq[Any](e.z.toLong, e.tx, tmsRow, tiles.payload(part, e)))
        }
        db.writeTable("tiles",
          "CREATE TABLE tiles (zoom_level INTEGER, tile_column INTEGER, tile_row INTEGER, tile_data BLOB)",
          rows)
        val meta = Seq(
          "name" -> name,
          "format" -> "pbf",
          "minzoom" -> (if (n == 0) "0" else minZ.toString),
          "maxzoom" -> (if (n == 0) "0" else maxZ.toString),
          "bounds" -> "-180.0,-85.0,180.0,85.0",
          "type" -> "overlay",
          "version" -> "1",
          "json" -> vectorLayers)
        db.writeTable("metadata",
          "CREATE TABLE metadata (name TEXT, value TEXT)",
          meta.zipWithIndex.iterator.map { case ((k, v), i) =>
            ((i + 1).toLong, Seq[Any](k, v))
          })
        db.finish()
        n
      } finally db.close()
    }
}
