package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapBuilder, ArrayData,
  GenericArrayData, MapData}
import org.apache.spark.sql.functions.{array, coalesce, lit}
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.geo.{Cell, Geo, MultiPolygon, Polygon}
import graft.operators.Multimodal
import graft.sinks.{FeatureModel, Sinks}

/** Hot-path kernels, each reached as ONE Spark `StaticInvoke`/`Invoke` call
  * into plain JIT-compiled Scala.
  *
  * Why one generated call: the Column trees these replace (the per-edge PIP
  * CASE chain, the unrolled morton cell id, the 64-term dot, the rings HOF
  * tree) re-inline their inputs' arithmetic into every term once the
  * optimizer pushes them below the derived-point projection. Round 6
  * measured generated methods past HotSpot's 8 KB huge-method limit
  * (DontCompileHugeMethods): whole stages ran in the bytecode interpreter
  * and no log said so; and Spark's higher-order functions (`transform`,
  * `filter`) are `CodegenFallback`, so a projection holding one runs outside
  * whole-stage codegen. A kernel call keeps the generated code one virtual
  * call per row wherever the optimizer moves it. Per-query state (request
  * geometry, region catalog, hyperplanes) rides in as an object literal.
  * The cover-membership call ([[cellIn]]) replaces `In` lists of thousands
  * of literals (7,990 + 7,159 for the country-sized `Bench.benchPolygon`)
  * that query planning rebuilt, validated and printed on every request.
  *
  * Null convention: every call propagates null — a null argument gives null
  * and the kernel is not called. Where a result must stay non-null the
  * default is a `coalesce`:
  *  - [[cellId]], [[pointInMultiPolygon]], [[featureIntersects]]: null (a
  *    filter drops the row, as for false);
  *  - [[cellIn]]: null, as `Column.isin` gives; an empty set is a plain
  *    `false` for every row, null cell included, as `isin()` gives;
  *  - [[dot]]: null, and also null when an array is shorter than `dims` or
  *    holds a null element (element_at's null through the Column sum);
  *  - [[regionCids]]: "0", the no-region default, through a `coalesce`, so
  *    a null lon or lat reads as a point in no region; the index itself
  *    gives "0" for a point whose cell it does not list;
  *  - [[phash]]: null; `Multimodal.verifyPayloadLite`'s hamming is then
  *    null and its `<= 8` filter drops the row. A JPEG stream outside
  *    `JpegCodec`'s subset goes to ImageIO, which throws on one it cannot
  *    decode, as before;
  *  - [[pidRings]], [[imageRings]]: no rings and no roles, through a
  *    `coalesce`, so both columns stay non-null as the Column tree kept
  *    them. The tree gave the same for a null kind, drew from the bare seed
  *    42 for a null `image_id` and gave null coordinates for a null lon or
  *    lat; no source produces these nulls (all derive from the key);
  *  - [[captionTags]]: null, as the tree gave;
  *  - [[geoJsonGeom]], [[kmlGeom]], [[centroidRings]], [[areaRings]],
  *    [[lengthRings]]: null (a whole GeoJSON feature or KML placemark
  *    string is then null). The row UDFs they replaced threw on null rings
  *    and read a null kind as a Point (a polygon for the centroid); no
  *    source produces these nulls;
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

  /** A static kernel of this object that never returns null itself. */
  private def call(name: String, dataType: DataType, args: Seq[Column],
      types: Seq[DataType]): Column =
    static(Kernels.getClass, name, dataType, returnNullable = false, args, types)

  private def invoke(target: AnyRef, name: String, dataType: DataType,
      args: Seq[Column], types: Seq[DataType]): Column =
    ExprBridge.column(Invoke(Literal.fromObject(target), name, dataType,
      args.map(ExprBridge.expression), types, propagateNull = true,
      returnNullable = false))

  private val FloatArray = ArrayType(FloatType)
  private val RingsType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = true)
  private val RolesType = ArrayType(IntegerType)
  private val GeomArgTypes =
    Seq(StringType, DoubleType, DoubleType, RingsType, RolesType)

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

  /** Comma-joined ascending distinct cids of the regions holding the point,
    * "0" when none does or the point's cell has no cover entry
    * ([[RegionIndex.assign]]). */
  def regionCids(index: RegionIndex, lon: Column, lat: Column): Column =
    coalesce(invoke(index, "assign", StringType, Seq(lon, lat),
      Seq(DoubleType, DoubleType)), lit("0"))

  /** 64-bit average hash of an image payload ([[Multimodal.payloadInfo]]). */
  def phash(bytes: Column): Column =
    call("phashAt", LongType, Seq(bytes), Seq(BinaryType))

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
    call("geoJsonGeomAt", StringType, Seq(kind, lon, lat, rings, roles), GeomArgTypes)

  /** KML geometry element of a feature, [[Sinks.kmlGeom]] of what
    * [[geoJsonGeom]] serializes. */
  def kmlGeom(kind: Column, lon: Column, lat: Column, rings: Column,
      roles: Column): Column =
    call("kmlGeomAt", StringType, Seq(kind, lon, lat, rings, roles), GeomArgTypes)

  /** [clon, clat] centroid over the rings model ([[Geo.centroidRings]]). */
  def centroidRings(kind: Column, lon: Column, lat: Column, rings: Column): Column =
    call("centroidRingsAt", ArrayType(DoubleType, containsNull = false),
      Seq(kind, lon, lat, rings), Seq(StringType, DoubleType, DoubleType, RingsType))

  /** Signed planar area, deg² ([[Geo.areaRings]]). */
  def areaRings(rings: Column): Column =
    call("areaRingsAt", DoubleType, Seq(rings), Seq(RingsType))

  /** Planar polyline length, deg ([[Geo.lengthRings]]). */
  def lengthRings(rings: Column): Column =
    call("lengthRingsAt", DoubleType, Seq(rings), Seq(RingsType))

  /** (rings, roles) of a pid-derived feature: [[shape]] with the
    * [[PidDraws]] of `pid`, routed by `kind`. */
  def pidRings(pid: Column, kind: Column, lon: Column, lat: Column): (Column, Column) =
    shapeCols("pid", Seq(pid, kind, lon, lat), LongType)

  /** (rings, roles) of an image: [[shape]] with the [[HashDraws]] of
    * `image_id`, routed by `kind`. */
  def imageRings(imageId: Column, kind: Column, lon: Column,
      lat: Column): (Column, Column) =
    shapeCols("image", Seq(imageId, kind, lon, lat), StringType)

  private def shapeCols(key: String, args: Seq[Column],
      keyType: DataType): (Column, Column) = {
    val types = Seq(keyType, StringType, DoubleType, DoubleType)
    (coalesce(call(s"${key}RingsAt", RingsType, args, types), array().cast(RingsType)),
      coalesce(call(s"${key}RolesAt", RolesType, args, types), array().cast(RolesType)))
  }

  /** The caption's `k=v` tokens (split on single spaces, a repeated
    * identical token kept once) as a map from what precedes the first `=`
    * to everything after it, made as `map_from_entries` makes its map, so
    * the session's map-key dedup policy decides a key given two values. */
  def captionTags(caption: Column): Column =
    invoke(new CaptionTags, "tags", MapType(StringType, StringType,
      valueContainsNull = false), Seq(caption), Seq(StringType))

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

  /** A region catalog's cover at `res`, indexed by cell: `cells` ascending,
    * and the candidates of `cells(k)` are `cands(offsets(k))` until
    * `cands(offsets(k + 1))`, each `pos * 2 + refine`, ascending, `pos` a
    * position in `polys`/`cids` (the catalog sorted by cid). Built once per
    * catalog (`SpatialJoin.regionIndex`); the arrays ride in the task
    * binary. */
  final class RegionIndex(res: Int, cells: Array[Long], offsets: Array[Int],
      cands: Array[Int], polys: Array[Polygon], cids: Array[Int])
      extends Serializable {
    /** The point's cell ([[Cell.cellAt]], as `cellId` computes it), then the
      * cell's candidates: a `refine = 0` candidate names its region, a
      * `refine = 1` one takes the exact point-in-polygon test. */
    def assign(lonV: Double, latV: Double): UTF8String = {
      val k = java.util.Arrays.binarySearch(cells, Cell.cellAt(res, lonV, latV))
      if (k < 0) return Zero
      val sb = new java.lang.StringBuilder
      var last = 0
      var i = offsets(k)
      while (i < offsets(k + 1)) {
        val c = cands(i)
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
    override def toString: String =
      s"RegionIndex(${cids.length} regions, ${cells.length} cells at res $res)"
  }

  private val Zero = UTF8String.fromString("0")

  final class FeatureIntersects(geom: MultiPolygon) extends Serializable {
    /** Kind dispatches on cached UTF8String constants, so the hot refine
      * never allocates a String per candidate row; the rings are read
      * through zero-copy views. */
    def intersects(kindU: UTF8String, lonV: Double, latV: Double,
        ringsA: ArrayData): Boolean =
      Geo.featureIntersectsRings(geom.polys, geoKind(kindU), lonV, latV,
        ringsView(ringsA))
    override def toString: String =
      s"FeatureIntersects(${geom.polys.length} polygons)"
  }

  private val PointU = UTF8String.fromString("point")
  private val LineU = UTF8String.fromString("line")
  private val PolygonU = UTF8String.fromString("polygon")
  private val SpaceU = UTF8String.fromString(" ")
  private val EqU = UTF8String.fromString("=")

  /** The kind as the `graft.geo` kernels route it: neither point nor line
    * is a polygon. */
  private def geoKind(kindU: UTF8String): String =
    if (kindU.equals(PointU)) "point" else if (kindU.equals(LineU)) "line" else "polygon"

  /** The kind as [[FeatureModel.fromRings]] and [[shape]] route it: neither
    * line nor polygon is a point. */
  private def shapeKind(kindU: UTF8String): String =
    if (kindU.equals(LineU)) "line" else if (kindU.equals(PolygonU)) "polygon" else "point"

  /** Parsing state reused across a task's rows, as `map_from_entries`
    * reuses its `ArrayBasedMapBuilder` (each task deserializes its own
    * copy). */
  final class CaptionTags extends Serializable {
    @transient private lazy val entries =
      new ArrayBasedMapBuilder(StringType, StringType)
    @transient private lazy val seen = new java.util.HashSet[UTF8String]

    def tags(caption: UTF8String): MapData = {
      seen.clear()
      for (t <- caption.split(SpaceU, -1); eq = t.indexOf(EqU, 0)
          if eq >= 0 && seen.add(t))
        entries.put(t.substring(0, eq), t.substring(eq + 1, t.numChars))
      entries.build()
    }
    override def toString: String = "CaptionTags"
  }

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

  private def geomOf(kindU: UTF8String, lonV: Double, latV: Double,
      ringsA: ArrayData, rolesA: ArrayData): FeatureModel.Geom =
    FeatureModel.fromRings(shapeKind(kindU), lonV, latV, ringsView(ringsA),
      new IntView(rolesA))

  def geoJsonGeomAt(kindU: UTF8String, lonV: Double, latV: Double,
      ringsA: ArrayData, rolesA: ArrayData): UTF8String =
    UTF8String.fromString(FeatureModel.geoJson(geomOf(kindU, lonV, latV, ringsA, rolesA)))

  def kmlGeomAt(kindU: UTF8String, lonV: Double, latV: Double,
      ringsA: ArrayData, rolesA: ArrayData): UTF8String =
    UTF8String.fromString(Sinks.kmlGeom(geomOf(kindU, lonV, latV, ringsA, rolesA)))

  def centroidRingsAt(kindU: UTF8String, lonV: Double, latV: Double,
      ringsA: ArrayData): ArrayData = {
    val (x, y) = Geo.centroidRings(geoKind(kindU), lonV, latV, ringsView(ringsA))
    UnsafeArrayData.fromPrimitiveArray(Array(x, y))
  }

  def areaRingsAt(ringsA: ArrayData): Double = Geo.areaRings(ringsView(ringsA))

  def lengthRingsAt(ringsA: ArrayData): Double = Geo.lengthRings(ringsView(ringsA))

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

  // ---- the feature shape spec -----------------------------------------------
  // One generator for the rings/roles of both derived feature tables, the
  // pid-keyed lineitem features (GeoCols.derivedFeatures, SQL twin
  // GeoCols.featuresSql) and the images (ImageTable.derive); only the draw
  // source differs. Arithmetic parity, operand for operand with the Column
  // tree it replaced (KernelParitySpec keeps it as the reference) and with
  // featuresSql:
  //  - star vertex i: d0 = floor((i·16)/n) in double division, d = d0 or
  //    15−d0; r = rBase + rSpan·u(off+i); x = cx + r·DirX(d);
  //    y = cy + (0.7·r)·DirY(d) (left-assoc products);
  //  - zigzag vertex i: x = cx + ampX·(u(offX+i)·2.0 − 1.0), same for y;
  //    anchored ⇒ vertex 0 is exactly (cx, cy).
  // Vertex offsets stay under one res-7 cell per axis (|dlon| ≤ 1.7 <
  // 2.8125, |dlat| ≤ 0.93 < 1.40625): PlanBuilder.geometryFilter's one-ring
  // cover expansion relies on it.

  /** Unit draws u(k) in [0,1) and structure selectors m(base, salt) in
    * [0, base). */
  private sealed abstract class Draws {
    def u(k: Int): Double
    def m(base: Int, salt: Int): Int
  }

  /** Long arithmetic over the pid, which DuckDB reproduces
    * (`GeoCols.uPidSql`/`mPidSql`). */
  private final class PidDraws(pid: Long) extends Draws {
    def u(k: Int): Double =
      ((pid * GeoCols.UA + k.toLong * GeoCols.UB) % 1000000L).toDouble / 1000000.0
    def m(base: Int, salt: Int): Int = ((pid + 37L * salt) % base.toLong).toInt
  }

  /** u(k) = pmod(xxhash64(id, k), 1e9) / 1e9 and m(b, s) =
    * pmod(xxhash64(id, 1000 + s), b), from the id hashed once with Spark's
    * seed 42: `xxhash64` folds its children left to right. */
  private final class HashDraws(id: UTF8String) extends Draws {
    private val h0 = XXH64.hashUTF8String(id, 42L)
    def u(k: Int): Double =
      Math.floorMod(XXH64.hashInt(k, h0), 1000000000L).toDouble / 1.0e9
    def m(base: Int, salt: Int): Int =
      Math.floorMod(XXH64.hashInt(1000 + salt, h0), base.toLong).toInt
  }

  /** A feature's parts in ring order, each its role (0 = polygon shell or
    * line part, 1 = hole of the preceding shell) and its flat, unclosed
    * ring as a thunk, so the roles draw no vertex.
    *  - polygon: star shell of 5+m(8,0) vertices, r in [0.15, 0.65);
    *    + hole when m(3,1) = 0: 4+m(4,2) vertices CW, r in [0.03, 0.08)
    *      (strictly inside the shell's ~0.103 inscribed squashed radius);
    *    + second part when m(4,3) = 0: shell of 4+m(7,4) vertices at
    *      (+1.3, +0.65), r in [0.1, 0.4) (x-gap to part 1: 0.25);
    *  - line: anchored zigzag of 3+m(7,5) vertices (amp 1.0 lon, 0.5 lat);
    *    + second part when m(3,6) = 0: 2+m(3,7) vertices around
    *      (+0.6, +0.3), amp 0.8 and 0.4 — a MultiLineString;
    *  - any other kind: no parts.
    * Every branch fires within each pid % 10 kind class of
    * `GeoCols.kindPidCol` (a base-5 selector never would on the line class
    * pid % 10 IN (6, 7), pids {1, 2} mod 5). */
  private def shape(d: Draws, kindU: UTF8String, lon: Double,
      lat: Double): List[(Int, () => Array[Double])] = {
    def opt(cond: Boolean)(part: (Int, () => Array[Double])) =
      if (cond) List(part) else Nil
    shapeKind(kindU) match {
      case "polygon" =>
        (0, () => starRing(d, lon, lat, 5 + d.m(8, 0), dirRev = false, 0.15, 0.5, 100)) ::
          opt(d.m(3, 1) == 0)((1, () =>
            starRing(d, lon, lat, 4 + d.m(4, 2), dirRev = true, 0.03, 0.05, 200))) :::
          opt(d.m(4, 3) == 0)((0, () => starRing(d, lon + 1.3, lat + 0.65,
            4 + d.m(7, 4), dirRev = false, 0.1, 0.3, 300)))
      case "line" =>
        (0, () => zigzagLine(d, lon, lat, 3 + d.m(7, 5), anchored = true,
          1.0, 0.5, 400, 500)) ::
          opt(d.m(3, 6) == 0)((0, () => zigzagLine(d, lon + 0.6, lat + 0.3,
            2 + d.m(3, 7), anchored = false, 0.8, 0.4, 600, 700)))
      case _ => Nil
    }
  }

  private def ringsOf(parts: List[(Int, () => Array[Double])]): ArrayData =
    new GenericArrayData(parts.map(p =>
      UnsafeArrayData.fromPrimitiveArray(p._2())).toArray[Any])

  private def rolesOf(parts: List[(Int, () => Array[Double])]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(parts.map(_._1).toArray)

  def pidRingsAt(pidV: Long, kindU: UTF8String, lonV: Double, latV: Double): ArrayData =
    ringsOf(shape(new PidDraws(pidV), kindU, lonV, latV))

  def pidRolesAt(pidV: Long, kindU: UTF8String, lonV: Double, latV: Double): ArrayData =
    rolesOf(shape(new PidDraws(pidV), kindU, lonV, latV))

  def imageRingsAt(idU: UTF8String, kindU: UTF8String, lonV: Double,
      latV: Double): ArrayData = ringsOf(shape(new HashDraws(idU), kindU, lonV, latV))

  def imageRolesAt(idU: UTF8String, kindU: UTF8String, lonV: Double,
      latV: Double): ArrayData = rolesOf(shape(new HashDraws(idU), kindU, lonV, latV))

  private val DirX: Array[Double] = GeoCols.DirX.toArray
  private val DirY: Array[Double] = GeoCols.DirY.toArray

  /** Star ring around (cx, cy), CW when `dirRev` (holes): increasing
    * directions and positive radii make it simple by construction. */
  private def starRing(d: Draws, cx: Double, cy: Double, n: Int,
      dirRev: Boolean, rBase: Double, rSpan: Double, uOff: Int): Array[Double] = {
    val out = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      val d0 = math.floor((i * 16).toDouble / n.toDouble).toInt
      val dir = if (dirRev) 15 - d0 else d0
      val r = rBase + rSpan * d.u(uOff + i)
      out(2 * i) = cx + r * DirX(dir)
      out(2 * i + 1) = cy + 0.7 * r * DirY(dir)
      i += 1
    }
    out
  }

  private def zigzagLine(d: Draws, cx: Double, cy: Double, n: Int,
      anchored: Boolean, ampX: Double, ampY: Double,
      uOffX: Int, uOffY: Int): Array[Double] = {
    val out = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      if (anchored && i == 0) {
        out(0) = cx; out(1) = cy
      } else {
        out(2 * i) = cx + ampX * (d.u(uOffX + i) * 2.0 - 1.0)
        out(2 * i + 1) = cy + ampY * (d.u(uOffY + i) * 2.0 - 1.0)
      }
      i += 1
    }
    out
  }
}
