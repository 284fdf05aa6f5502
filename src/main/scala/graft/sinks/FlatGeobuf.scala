package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.Paths
import com.google.flatbuffers.FlatBufferBuilder
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.lineage.Lineage

/** From-scratch FlatGeobuf (.fgb) writer — the reference's bulk vector
  * interchange format (`FLATGEOBUF = "fgb"` src/validation/models.py:63,
  * ogr2ogr options src/app.py:565-569, e2e tests/test_API.py
  * test_snapshot_feature_fgb). Layout per the public FlatGeobuf v3 spec
  * (flatgeobuf.org):
  *
  *   magic (8 bytes: fgb 0x03 fgb 0x00)
  *   size-prefixed flatbuffer Header  (name, envelope, geometry_type,
  *                                     columns, features_count, crs EPSG:4326,
  *                                     index_node_size = 0 → NO spatial index)
  *   size-prefixed flatbuffer Feature per row (Geometry xy + packed
  *                                             column-indexed properties)
  *
  * The spatial index is legitimately optional (index_node_size 0); the
  * reference itself passes VERIFY_BUFFERS=NO and doesn't rely on it — readers
  * stream features sequentially, which is also the only scalable write shape.
  *
  * The flatbuffers are assembled with the generic FlatBufferBuilder (vtable
  * slots straight from the published header.fbs / feature.fbs field order) —
  * no generated bindings, no schema compiler.
  *
  * Features serialize map-side into committed, resumable lineage parts while
  * each partition's envelope and count accumulate; the driver writes header +
  * parts — one pass over the data, constant driver memory, the single-file
  * boundary of the reference's ogr2ogr.
  */
object FlatGeobuf {

  val Magic: Array[Byte] =
    Array(0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00).map(_.toByte)

  // GeometryType enum (geometry.fbs)
  val GtUnknown = 0; val GtPoint = 1; val GtLineString = 2; val GtPolygon = 3
  val GtMultiLineString = 5; val GtMultiPolygon = 6

  // ColumnType enum (header.fbs)
  val CtBool = 2; val CtInt = 5; val CtLong = 7; val CtDouble = 10; val CtString = 11

  private def columnType(dt: DataType): Int = dt match {
    case LongType => CtLong
    case IntegerType | ShortType | ByteType => CtInt
    case DoubleType | FloatType => CtDouble
    case BooleanType => CtBool
    case _ => CtString
  }

  /** Column table (header.fbs): slots 0=name, 1=type, 7=nullable(default
    * true). Only name+type are written; defaults carry the rest. */
  private def columnOffset(b: FlatBufferBuilder, name: String, ctype: Int): Int = {
    val n = b.createString(name)
    b.startTable(11)
    b.addOffset(0, n, 0)
    b.addByte(1, ctype.toByte, 0)
    b.endTable()
  }

  /** Header table (header.fbs): 0=name 1=envelope 2=geometry_type 3..6=z/m/t/tm
    * 7=columns 8=features_count 9=index_node_size(default 16) 10=crs. */
  private def headerBytes(name: String, env: Array[Double], geometryType: Int,
      cols: Seq[(String, Int)], count: Long): Array[Byte] = {
    val b = new FlatBufferBuilder(1024)
    val nameOff = b.createString(name)
    val colOffs = cols.map { case (n, t) => columnOffset(b, n, t) }.toArray
    val colsVec = b.createVectorOfTables(colOffs)
    b.startVector(8, env.length, 8)
    env.reverse.foreach(b.addDouble)
    val envVec = b.endVector()
    // Crs table (header.fbs): 0=org 1=code 2=name 3=description 4=wkt 5=code_string
    val orgOff = b.createString("EPSG")
    b.startTable(6)
    b.addOffset(0, orgOff, 0)
    b.addInt(1, 4326, 0)
    val crsOff = b.endTable()
    b.startTable(11)
    b.addOffset(0, nameOff, 0)
    b.addOffset(1, envVec, 0)
    b.addByte(2, geometryType.toByte, 0)
    b.addOffset(7, colsVec, 0)
    b.addLong(8, count, 0L)
    b.addShort(9, 0.toShort, 16) // no spatial index
    b.addOffset(10, crsOff, 0)
    b.finishSizePrefixed(b.endTable())
    b.sizedByteArray()
  }

  /** Geometry table (geometry.fbs): 0=ends 1=xy 2..5=z/m/t/tm 6=type
    * 7=parts. One flat (sub-)geometry: xy = all rings concatenated, ends =
    * cumulative per-ring END vertex index (written only for multi-ring
    * geometry, the spec's convention). */
  private def geometryOffset(b: FlatBufferBuilder, gtype: Int,
      rings: Seq[IndexedSeq[(Double, Double)]]): Int = {
    val xy = rings.flatten
    b.startVector(8, xy.length * 2, 8)
    // flatbuffers vectors build in reverse: per reversed pair push y then x
    xy.reverse.foreach { case (x, y) => b.addDouble(y); b.addDouble(x) }
    val xyVec = b.endVector()
    val endsVec = if (rings.length > 1) {
      val ends = rings.scanLeft(0)((a, r) => a + r.length).tail
      b.startVector(4, ends.length, 4)
      ends.reverse.foreach(b.addInt)
      b.endVector()
    } else 0
    b.startTable(8)
    if (endsVec != 0) b.addOffset(0, endsVec, 0)
    b.addOffset(1, xyVec, 0)
    b.addByte(6, gtype.toByte, 0)
    b.endTable()
  }

  /** MultiPolygon: parts vector (slot 7) of Polygon sub-geometries, each
    * with its own xy + ends — the spec's nested-geometry shape. */
  private def multiPolygonOffset(b: FlatBufferBuilder,
      parts: Seq[Seq[IndexedSeq[(Double, Double)]]]): Int = {
    val partOffs = parts.map(p => geometryOffset(b, GtPolygon, p)).toArray
    val partsVec = b.createVectorOfTables(partOffs)
    b.startTable(8)
    b.addOffset(7, partsVec, 0)
    b.addByte(6, GtMultiPolygon.toByte, 0)
    b.endTable()
  }

  /** Feature table (feature.fbs): 0=geometry 1=properties 2=columns. */
  private def featureBytes(geom: Option[FeatureModel.Geom], props: Array[Byte]): Array[Byte] = {
    val b = new FlatBufferBuilder(512)
    // geometry-less record (csv/centroid-shaped extracts): Feature.geometry
    // is an optional field — attribute-only rows are legal FlatGeobuf
    val geomOff = geom match {
      case None => 0
      case Some(g) => g.gtype match {
        case 6 => multiPolygonOffset(b, g.parts)
        case 5 => geometryOffset(b, GtMultiLineString, g.parts.map(_.head))
        case t => geometryOffset(b, t, g.parts.head)
      }
    }
    val propsOff = if (props.nonEmpty) b.createByteVector(props) else 0
    b.startTable(3)
    if (geomOff != 0) b.addOffset(0, geomOff, 0)
    if (propsOff != 0) b.addOffset(1, propsOff, 0)
    b.finishSizePrefixed(b.endTable())
    b.sizedByteArray()
  }

  /** Packed property encoding (feature.fbs comment): per non-null value, a
    * LE ushort column index followed by the value — scalars raw LE, strings
    * u32-length-prefixed UTF-8. */
  private def propBytes(r: Row, attrs: Seq[(Int, Int)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(64)
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def leN(n: Int, v: Long): Unit = (0 until n).foreach(i => bos.write(((v >> (8 * i)) & 0xff).toInt))
    attrs.zipWithIndex.foreach { case ((rowIdx, ctype), colIdx) =>
      val v = r.get(rowIdx)
      if (v != null) {
        le16(colIdx)
        ctype match {
          case CtLong => leN(8, v.asInstanceOf[Long])
          case CtInt => leN(4, v.asInstanceOf[Number].intValue().toLong)
          case CtDouble => leN(8, java.lang.Double.doubleToLongBits(
            v.asInstanceOf[Number].doubleValue()))
          case CtBool => bos.write(if (v.asInstanceOf[Boolean]) 1 else 0)
          case _ =>
            val bytes = v.toString.getBytes(StandardCharsets.UTF_8)
            leN(4, bytes.length.toLong)
            bos.write(bytes)
        }
      }
    }
    bos.toByteArray
  }

  /** Per-row Feature serializer — a pure, serializable closure over column
    * positions only ([[FeatureModel.geomReader]]), run map-side in the
    * executors by [[write]]. Frames without anchor columns (csv/centroid
    * projections) serialize attribute-only features. */
  def rowEncoder(columns: Seq[String],
      attrs: Seq[(Int, Int)]): Row => Array[Byte] = {
    val geomOf = FeatureModel.geomReader(columns)
    (r: Row) => featureBytes(geomOf.map(_(r)), propBytes(r, attrs))
  }

  /** Write the extract as one .fgb file; returns the feature count. Mixed
    * per-row kinds → header geometry_type Unknown(0) with per-feature types,
    * exactly how ogr2ogr writes mixed-geometry layers.
    *
    * Distributed + RESUMABLE: every executor serializes its
    * partition's Feature flatbuffers into a committed binary lineage part
    * (write-ahead + atomic rename, [[graft.lineage.Lineage]] protocol — a
    * killed export resumes by re-running only uncommitted partitions), the
    * envelope accumulates in the SAME pass (per-part bounds in the commit
    * manifests — no second table scan), and the driver's only sequential
    * work is header + part concatenation — the same boundary as the
    * single-file FeatureCollection sink. This is the 100 TB shape: feature
    * serialization cost lives where the data lives. Part payloads are
    * removed once the final file is assembled, so a succeeded export can
    * never be mistaken for a resumable one. */
  def write(df0: DataFrame, path: String, name: String = "export",
      failAtPartition: Int = -1): Long = {
    val df = FeatureModel.prepare(df0)
    val idx = df.columns.zipWithIndex.toMap
    val attrFields = df.schema.fields.filterNot(f => FeatureModel.geomCols(f.name))
    val cols = attrFields.map(f => (f.name, columnType(f.dataType))).toSeq
    val attrs = attrFields.map(f => (idx(f.name), columnType(f.dataType))).toSeq
    val encode = rowEncoder(df.columns.toIndexedSeq, attrs)
    val geomOf = FeatureModel.geomReader(df.columns.toIndexedSeq)
    val partsDir = path + ".export"
    Lineage.exportResumableBytes(df, partsDir, encode,
      ext = "fgbpart", failAtPartition = failAtPartition,
      coords = geomOf.map(g => (r: Row) => g(r).allPts))
    Lineage.assembleConcat(df.sparkSession, partsDir, "fgbpart", Paths.get(path))(
      c => Magic ++ headerBytes(name, c.envelope.getOrElse(Array.empty[Double]),
        GtUnknown, cols, c.rows),
      Array.emptyByteArray)
  }
}
