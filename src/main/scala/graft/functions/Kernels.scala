package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.geo.{Cell, Fixtures, Geo, MultiPolygon, Polygon}
import graft.operators.Multimodal
import graft.sinks.FeatureModel

/** Hot-path kernels, each reached as ONE Spark `StaticInvoke`/`Invoke` call
  * into plain JIT-compiled Scala.
  *
  * Why one generated call: the Column trees these replace (the per-edge PIP
  * CASE chain, the unrolled morton cell id, the 64-term dot, the rings HOF
  * tree) re-inline their inputs' arithmetic into every term once the
  * optimizer pushes them below the derived-point projection. Round 6
  * measured generated methods past HotSpot's 8 KB huge-method limit
  * (DontCompileHugeMethods): whole stages ran in the bytecode interpreter
  * and no log said so. A kernel call keeps the generated code one virtual
  * call per row wherever the optimizer moves it. Per-query state (request
  * geometry, region catalog, hyperplanes) rides in as an object literal.
  * The cover-membership call ([[cellIn]]) replaces `In` lists of thousands
  * of literals (7,990 + 7,159 for the country-sized `Bench.benchPolygon`)
  * that query planning rebuilt, validated and printed on every request.
  *
  * Null convention: every call propagates null — a null argument gives null
  * and the kernel is not called. Where a result must stay non-null the
  * default is a `coalesce` at the call site:
  *  - [[cellId]], [[pointInMultiPolygon]], [[featureIntersects]]: null (a
  *    filter drops the row, as for false);
  *  - [[cellIn]]: null, as `Column.isin` gives; an empty set is a plain
  *    `false` for every row, null cell included, as `isin()` gives;
  *  - [[dot]]: null, and also null when an array is shorter than `dims` or
  *    holds a null element (element_at's null through the Column sum);
  *  - [[regionCids]]: "0", the no-region default, through a `coalesce`
  *    (a point whose cell has no cover row has null candidates);
  *  - [[phash]]: null; `Multimodal.verifyPayloadLite`'s hamming is then
  *    null and its `<= 8` filter drops the row;
  *  - [[pidRings]]: null; `GeoCols.derivedFeatures` coalesces to no rings;
  *  - [[geoJsonGeom]]: null, so the whole GeoJSON feature string is null.
  *    The row UDF it replaced threw on null rings (and on null roles beside
  *    non-empty rings) and gave a Point for a null kind; no source produces
  *    any of these nulls;
  *  - [[signBucket]]: null; `Similarity.bucketCol` coalesces to 0, which
  *    the kernel also returns for a short array or a null element.
  * Every argument type is declared, so the analyzer casts another numeric
  * element type to the kernel's `array<float>` (or rejects a non-numeric
  * one) instead of the kernel reading float slots of double storage. */
object Kernels {

  // ---- column entry points --------------------------------------------------

  private def static(cls: Class[_], name: String, dataType: DataType,
      returnNullable: Boolean, args: Seq[Column], types: Seq[DataType]): Column =
    ExprBridge.column(StaticInvoke(cls, dataType, name,
      args.map(ExprBridge.expression), types, propagateNull = true,
      returnNullable = returnNullable))

  private def invoke(target: AnyRef, name: String, dataType: DataType,
      args: Seq[Column], types: Seq[DataType]): Column =
    ExprBridge.column(Invoke(Literal.fromObject(target), name, dataType,
      args.map(ExprBridge.expression), types, propagateNull = true,
      returnNullable = false))

  private val FloatArray = ArrayType(FloatType)
  private val RingsType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true)

  /** Z-order cell id at `res` ([[Cell.cellAt]]). */
  def cellId(res: Int, lon: Column, lat: Column): Column =
    static(Cell.getClass, "cellAt", LongType, returnNullable = true,
      Seq(lit(res), lon, lat), Seq(IntegerType, DoubleType, DoubleType))

  /** `cell` is one of `cells`: a binary search over the sorted ids, so a
    * cover of thousands of cells is one plan node, not one `Literal` per
    * cell. Not pushed to the scan; `PlanBuilder.cellIn` pairs it with a
    * pushable range. */
  def cellIn(cells: Iterable[Long], cell: Column): Column =
    if (cells.isEmpty) lit(false)
    else invoke(new CellSet(cells.toArray.sorted), "contains",
      BooleanType, Seq(cell), Seq(LongType))

  /** Point inside any polygon of `geom` (even-odd, holes excluded). */
  def pointInMultiPolygon(geom: MultiPolygon, lon: Column, lat: Column): Column =
    invoke(new Pip(geom), "contains", BooleanType, Seq(lon, lat),
      Seq(DoubleType, DoubleType))

  /** Comma-joined ascending distinct cids of the candidate regions holding
    * the point, "0" when none does. `catalog` is sorted by cid; each
    * candidate is `pos * 2 + refine` for the region at catalog position
    * `pos`, ascending, and only a candidate with `refine = 1` takes the
    * exact point-in-polygon test. */
  def regionCids(catalog: Seq[Fixtures.Region], cands: Column, lon: Column,
      lat: Column): Column =
    coalesce(invoke(new RegionCids(catalog.map(_.poly).toArray,
      catalog.map(_.cid).toArray), "assign", StringType, Seq(cands, lon, lat),
      Seq(ArrayType(IntegerType), DoubleType, DoubleType)), lit("0"))

  /** 64-bit average hash of an image payload ([[Multimodal.payloadInfo]]). */
  def phash(bytes: Column): Column =
    static(Kernels.getClass, "phashAt", LongType, returnNullable = false,
      Seq(bytes), Seq(BinaryType))

  /** Kind-aware feature × request-geometry intersect over the rings model
    * ([[Geo.featureIntersectsRings]]). */
  def featureIntersects(geom: MultiPolygon, kind: Column, lon: Column,
      lat: Column, rings: Column): Column =
    invoke(new FeatureIntersects(geom), "intersects", BooleanType,
      Seq(kind, lon, lat, rings),
      Seq(StringType, DoubleType, DoubleType, RingsType))

  /** GeoJSON geometry object of a feature over the rings model:
    * [[FeatureModel.geoJson]] of [[FeatureModel.fromRings]], the rings and
    * roles read through zero-copy views. */
  def geoJsonGeom(kind: Column, lon: Column, lat: Column, rings: Column,
      roles: Column): Column =
    static(Kernels.getClass, "geoJsonGeomAt", StringType, returnNullable = false,
      Seq(kind, lon, lat, rings, roles),
      Seq(StringType, DoubleType, DoubleType, RingsType, ArrayType(IntegerType)))

  /** Flat rings of the pid-derived feature ([[ringsFor]]). */
  def pidRings(pid: Column, lon: Column, lat: Column): Column =
    static(Kernels.getClass, "pidRingsAt", RingsType, returnNullable = false,
      Seq(pid, lon, lat), Seq(LongType, DoubleType, DoubleType))

  /** Left-associated dot product over the first `dims` elements. */
  def dot(dims: Int, a: Column, b: Column): Column =
    static(Kernels.getClass, "dotAt", DoubleType, returnNullable = true,
      Seq(lit(dims), a, b), Seq(IntegerType, FloatArray, FloatArray))

  /** Sign-LSH bucket id: bit j set when the projection on `planes(j)` of the
    * leading `planes(j).length` dims is positive. */
  def signBucket(planes: Array[Array[Double]], e: Column): Column =
    invoke(new SignBucket(planes), "bucket", LongType, Seq(e), Seq(FloatArray))

  // ---- per-query kernels (object literals; short toString keeps plans small)

  final class CellSet(sorted: Array[Long]) extends Serializable {
    def contains(c: Long): Boolean =
      java.util.Arrays.binarySearch(sorted, c) >= 0
    override def toString: String = s"CellSet(${sorted.length} cells)"
  }

  final class Pip(geom: MultiPolygon) extends Serializable {
    def contains(lonV: Double, latV: Double): Boolean = {
      val ps = geom.polys
      var i = 0
      while (i < ps.length) {
        if (Geo.pointInPolygon(lonV, latV, ps(i))) return true
        i += 1
      }
      false
    }
    override def toString: String = s"Pip(${geom.polys.length} polygons)"
  }

  final class RegionCids(polys: Array[Polygon], cids: Array[Int])
      extends Serializable {
    def assign(cands: ArrayData, lonV: Double, latV: Double): UTF8String = {
      val sb = new java.lang.StringBuilder
      var last = 0
      var i = 0
      while (i < cands.numElements()) {
        val c = cands.getInt(i)
        val pos = c >> 1
        if ((c & 1) == 0 || Geo.pointInPolygon(lonV, latV, polys(pos))) {
          val cid = cids(pos)
          if (sb.length == 0) sb.append(cid)
          else if (cid != last) sb.append(',').append(cid) // repeats are adjacent
          last = cid
        }
        i += 1
      }
      if (sb.length == 0) Zero else UTF8String.fromString(sb.toString)
    }
    override def toString: String = s"RegionCids(${cids.length} regions)"
  }

  private val Zero = UTF8String.fromString("0")

  final class FeatureIntersects(geom: MultiPolygon) extends Serializable {
    /** Kind dispatches on cached UTF8String constants, so the hot refine
      * never allocates a String per candidate row; the rings are read
      * through zero-copy views. */
    def intersects(kindU: UTF8String, lonV: Double, latV: Double,
        ringsA: ArrayData): Boolean = {
      val kindStr =
        if (kindU.equals(PointU)) "point"
        else if (kindU.equals(LineU)) "line"
        else "polygon"
      Geo.featureIntersectsRings(geom.polys, kindStr, lonV, latV,
        ringsView(ringsA))
    }
    override def toString: String =
      s"FeatureIntersects(${geom.polys.length} polygons)"
  }

  private val PointU = UTF8String.fromString("point")
  private val LineU = UTF8String.fromString("line")
  private val PolygonU = UTF8String.fromString("polygon")

  final class SignBucket(planes: Array[Array[Double]]) extends Serializable {
    private val projDims = planes(0).length

    def bucket(e: ArrayData): Long = {
      if (e.numElements() < projDims) return 0L // Column twin: all terms → 0
      var k = 0
      while (k < projDims) { // a null element nulls every projection → all 0
        if (e.isNullAt(k)) return 0L
        k += 1
      }
      var bits = 0L
      var j = 0
      while (j < planes.length) {
        val row = planes(j)
        var acc = e.getFloat(0).toDouble * row(0)
        var i = 1
        while (i < projDims) {
          acc += e.getFloat(i).toDouble * row(i)
          i += 1
        }
        if (acc > 0) bits += (1L << j)
        j += 1
      }
      bits
    }
    override def toString: String = s"SignBucket(${planes.length} planes)"
  }

  // ---- zero-copy rings view -------------------------------------------------

  private final class DoubleView(a: ArrayData)
      extends scala.collection.IndexedSeq[Double] {
    override def apply(i: Int): Double = a.getDouble(i)
    override def length: Int = a.numElements()
  }

  private final class IntView(a: ArrayData)
      extends scala.collection.IndexedSeq[Int] {
    override def apply(i: Int): Int = a.getInt(i)
    override def length: Int = a.numElements()
  }

  /** One materialized outer level (parts are tiny), inner rings stay views
    * over the Catalyst [[ArrayData]] — no per-row deep conversion. */
  private def ringsView(a: ArrayData): scala.collection.Seq[scala.collection.Seq[Double]] = {
    val n = a.numElements()
    val out = new Array[scala.collection.Seq[Double]](n)
    var i = 0
    while (i < n) { out(i) = new DoubleView(a.getArray(i)); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  // ---- static kernels -------------------------------------------------------

  def phashAt(bytes: Array[Byte]): Long = Multimodal.payloadInfo(bytes)._3

  /** `fromRings` routes "line" and "polygon" and serializes every other
    * kind as a Point; the cached constants keep the per-row kind test free
    * of String allocation. */
  def geoJsonGeomAt(kindU: UTF8String, lonV: Double, latV: Double,
      ringsA: ArrayData, rolesA: ArrayData): UTF8String = {
    val kindStr =
      if (kindU.equals(LineU)) "line"
      else if (kindU.equals(PolygonU)) "polygon"
      else "point"
    UTF8String.fromString(FeatureModel.geoJson(FeatureModel.fromRings(
      kindStr, lonV, latV, ringsView(ringsA), new IntView(rolesA))))
  }

  /** Bit parity with the unrolled Column tree: accumulation seeded by the
    * FIRST term (not 0.0), exactly `terms.reduce(_ + _)` — identical IEEE
    * results including signed zeros. */
  def dotAt(dims: Int, aa: ArrayData, bb: ArrayData): java.lang.Double = {
    if (aa.numElements() < dims || bb.numElements() < dims) return null
    var i = 0
    while (i < dims) {
      if (aa.isNullAt(i) || bb.isNullAt(i)) return null
      i += 1
    }
    var acc = aa.getFloat(0).toDouble * bb.getFloat(0).toDouble
    i = 1
    while (i < dims) {
      acc += aa.getFloat(i).toDouble * bb.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def pidRingsAt(pidV: Long, lonV: Double, latV: Double): ArrayData = {
    val parts = ringsFor(pidV, lonV, latV)
    val out = new Array[Any](parts.length)
    var i = 0
    while (i < parts.length) { out(i) = new GenericArrayData(parts(i)); i += 1 }
    new GenericArrayData(out)
  }

  // Arithmetic parity, operand for operand with GeoCols.featureGeomCols over
  // the pid providers (and its SQL twin GeoCols.featuresSql):
  //  - u(k)   = ((pid·UA + k·UB) % 1000000) / 1000000.0 (Long ops, then
  //    int→double cast and division — same order);
  //  - m(b,s) = (pid + 37·s) % b (Long %, to int);
  //  - star vertex i: d0 = floor((i·16)/n) in double division, d = d0 or
  //    15−d0; r = rBase + rSpan·u(off+i); x = cx + r·DirX(d);
  //    y = cy + (0.7·r)·DirY(d) (left-assoc products);
  //  - zigzag vertex i: x = cx + ampX·(u(offX+i)·2.0 − 1.0), same for y;
  //    anchored ⇒ vertex 0 is exactly (cx, cy);
  //  - ring order: polygon shell, hole?, part2?; line main, part2?;
  //    points → no rings.

  private val DirX: Array[Double] = GeoCols.DirX.toArray
  private val DirY: Array[Double] = GeoCols.DirY.toArray

  @inline private def u(pid: Long, k: Int): Double =
    ((pid * GeoCols.UA + k.toLong * GeoCols.UB) % 1000000L).toDouble / 1000000.0

  @inline private def m(pid: Long, base: Int, salt: Int): Int =
    ((pid + 37L * salt) % base.toLong).toInt

  private def starRing(pid: Long, cx: Double, cy: Double, n: Int,
      dirRev: Boolean, rBase: Double, rSpan: Double, uOff: Int): Array[Double] = {
    val out = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      val d0 = math.floor((i * 16).toDouble / n.toDouble).toInt
      val d = if (dirRev) 15 - d0 else d0
      val r = rBase + rSpan * u(pid, uOff + i)
      out(2 * i) = cx + r * DirX(d)
      out(2 * i + 1) = cy + 0.7 * r * DirY(d)
      i += 1
    }
    out
  }

  private def zigzagLine(pid: Long, cx: Double, cy: Double, n: Int,
      anchored: Boolean, ampX: Double, ampY: Double,
      uOffX: Int, uOffY: Int): Array[Double] = {
    val out = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      if (anchored && i == 0) {
        out(0) = cx; out(1) = cy
      } else {
        out(2 * i) = cx + ampX * (u(pid, uOffX + i) * 2.0 - 1.0)
        out(2 * i + 1) = cy + ampY * (u(pid, uOffY + i) * 2.0 - 1.0)
      }
      i += 1
    }
    out
  }

  /** The flat rings of the pid-derived feature (empty for points) — shape
    * spec identical to [[GeoCols.featureGeomCols]] with the pid providers. */
  private def ringsFor(pid: Long, lon: Double, lat: Double): Array[Array[Double]] = {
    val sel = pid % 10
    if (sel < 6) Array.empty
    else if (sel < 8) {
      val main = zigzagLine(pid, lon, lat, 3 + m(pid, 7, 5), anchored = true,
        1.0, 0.5, 400, 500)
      if (m(pid, 3, 6) == 0)
        Array(main, zigzagLine(pid, lon + 0.6, lat + 0.3, 2 + m(pid, 3, 7),
          anchored = false, 0.8, 0.4, 600, 700))
      else Array(main)
    } else {
      val shell = starRing(pid, lon, lat, 5 + m(pid, 8, 0), dirRev = false,
        0.15, 0.5, 100)
      val hasHole = m(pid, 3, 1) == 0
      val hasPart2 = m(pid, 4, 3) == 0
      val out = new Array[Array[Double]](1 + (if (hasHole) 1 else 0) +
        (if (hasPart2) 1 else 0))
      out(0) = shell
      var idx = 1
      if (hasHole) {
        out(idx) = starRing(pid, lon, lat, 4 + m(pid, 4, 2), dirRev = true,
          0.03, 0.05, 200)
        idx += 1
      }
      if (hasPart2)
        out(idx) = starRing(pid, lon + 1.3, lat + 0.65, 4 + m(pid, 7, 4),
          dirRev = false, 0.1, 0.3, 300)
      out
    }
  }
}
