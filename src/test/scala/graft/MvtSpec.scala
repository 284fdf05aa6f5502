package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.{Mvt, PmTiles}
import graft.sources.{ImageFixture, ImageTable}

/** Independent Mapbox Vector Tile decoder — a from-scratch protobuf walk
  * (varint, tag/wire, packed fields) written against the public MVT v2.1
  * spec, sharing NO code with the encoder. Validates the engine's tile
  * payloads the way a map client would read them. */
object MvtDecode {

  final class Reader(val b: Array[Byte], var pos: Int, val end: Int) {
    def this(b: Array[Byte]) = this(b, 0, b.length)
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var v = 0L; var shift = 0
      while ((b(pos) & 0x80) != 0) {
        v |= (b(pos) & 0x7FL) << shift; shift += 7; pos += 1
      }
      v |= (b(pos) & 0x7FL) << shift; pos += 1
      v
    }
    def fixed64(): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v |= (b(pos + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 8; v
    }
    def lenDelim(): Reader = {
      val len = varint().toInt
      val r = new Reader(b, pos, pos + len)
      pos += len; r
    }
    def str(): String = {
      val r = lenDelim()
      new String(b, r.pos, r.end - r.pos, java.nio.charset.StandardCharsets.UTF_8)
    }
    def key(): (Int, Int) = { val k = varint(); ((k >>> 3).toInt, (k & 7).toInt) }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 => pos += 8
      case 2 => lenDelim(); ()
      case 5 => pos += 4
    }
  }

  def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  final case class Feat(id: Long, tags: Seq[Int], gtype: Int, geom: Seq[Long])
  final case class Layer(version: Int, name: String, extent: Int,
      keys: Seq[String], values: Seq[Any], features: Seq[Feat]) {
    /** tag index pairs → attribute map. */
    def attrs(f: Feat): Map[String, Any] =
      f.tags.grouped(2).map { case Seq(k, v) => keys(k) -> values(v) }.toMap
  }

  def decodeValue(r: Reader): Any = {
    var out: Any = null
    while (r.hasNext) r.key() match {
      case (1, 2) => out = r.str()
      case (3, 1) => out = java.lang.Double.longBitsToDouble(r.fixed64())
      case (4, 0) => out = r.varint()
      case (5, 0) => out = r.varint()
      case (6, 0) => out = unzigzag(r.varint())
      case (7, 0) => out = r.varint() == 1L
      case (2, 5) => out = java.lang.Float.intBitsToFloat((r.varint() & 0xFFFFFFFFL).toInt)
      case (_, w) => r.skip(w)
    }
    out
  }

  def decodeFeature(r: Reader): Feat = {
    var id = 0L; var gtype = 0
    val tags = Seq.newBuilder[Int]; val geom = Seq.newBuilder[Long]
    while (r.hasNext) r.key() match {
      case (1, 0) => id = r.varint()
      case (2, 2) => val p = r.lenDelim(); while (p.hasNext) tags += p.varint().toInt
      case (3, 0) => gtype = r.varint().toInt
      case (4, 2) => val p = r.lenDelim(); while (p.hasNext) geom += p.varint()
      case (_, w) => r.skip(w)
    }
    Feat(id, tags.result(), gtype, geom.result())
  }

  def decodeLayer(r: Reader): Layer = {
    var version = 0; var name = ""; var extent = 4096
    val keys = Seq.newBuilder[String]; val values = Seq.newBuilder[Any]
    val feats = Seq.newBuilder[Feat]
    while (r.hasNext) r.key() match {
      case (15, 0) => version = r.varint().toInt
      case (1, 2) => name = r.str()
      case (2, 2) => feats += decodeFeature(r.lenDelim())
      case (3, 2) => keys += r.str()
      case (4, 2) => values += decodeValue(r.lenDelim())
      case (5, 0) => extent = r.varint().toInt
      case (_, w) => r.skip(w)
    }
    Layer(version, name, extent, keys.result(), values.result(), feats.result())
  }

  def decodeTile(bytes: Array[Byte]): Seq[Layer] = {
    val r = new Reader(bytes)
    val layers = Seq.newBuilder[Layer]
    while (r.hasNext) r.key() match {
      case (3, 2) => layers += decodeLayer(r.lenDelim())
      case (_, w) => r.skip(w)
    }
    layers.result()
  }

  /** Command stream → rings of absolute tile-local coords (polygon rings
    * returned UNclosed, as encoded; ClosePath only ends the ring). */
  def decodeGeometry(geom: Seq[Long]): Seq[IndexedSeq[(Long, Long)]] = {
    val rings = Seq.newBuilder[IndexedSeq[(Long, Long)]]
    var ring = IndexedSeq.newBuilder[(Long, Long)]
    var started = false
    var cx = 0L; var cy = 0L
    var i = 0
    while (i < geom.length) {
      val cmd = geom(i); i += 1
      val id = (cmd & 7).toInt; val count = (cmd >>> 3).toInt
      id match {
        case 1 => // MoveTo starts a new ring/part
          if (started) { rings += ring.result(); ring = IndexedSeq.newBuilder }
          started = true
          (0 until count).foreach { _ =>
            cx += unzigzag(geom(i)); cy += unzigzag(geom(i + 1)); i += 2
            ring += ((cx, cy))
          }
        case 2 =>
          (0 until count).foreach { _ =>
            cx += unzigzag(geom(i)); cy += unzigzag(geom(i + 1)); i += 2
            ring += ((cx, cy))
          }
        case 7 => // ClosePath: ring complete, no params
          rings += ring.result(); ring = IndexedSeq.newBuilder; started = false
      }
    }
    if (started) rings += ring.result()
    rings.result()
  }

  def gunzip(b: Array[Byte]): Array[Byte] =
    new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b))
      .readAllBytes()

  /** y-down shoelace ×2 (positive = CW on screen = MVT exterior). */
  def screenArea2(ring: Seq[(Long, Long)]): Long =
    ring.indices.map { i =>
      val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % ring.length)
      x1 * y2 - x2 * y1
    }.sum

  /** Invert the tile-local projection back to lon/lat. */
  def toLonLat(z: Int, tx: Long, ty: Long, extent: Int,
      px: Long, py: Long): (Double, Double) = {
    val n = (1L << z).toDouble
    val lon = (tx + px.toDouble / extent) / n * 360.0 - 180.0
    val m = math.Pi * (1.0 - 2.0 * (ty + py.toDouble / extent) / n)
    (lon, math.toDegrees(math.atan(math.sinh(m))))
  }
}

class MvtSpec extends SparkSpec {
  import MvtDecode._

  test("hand-built tile round-trips through the independent decoder") {
    val fs = Seq(
      Mvt.Feature(Some(1L), 1, Seq(IndexedSeq((10L, 20L), (30L, 15L))),
        Seq("name" -> "alpha", "n" -> 42L)),
      Mvt.Feature(Some(2L), 2, Seq(IndexedSeq((0L, 0L), (5L, 5L), (5L, 10L))),
        Seq("name" -> "beta", "d" -> 1.5)),
      Mvt.Feature(Some(3L), 3, Seq(IndexedSeq((0L, 0L), (0L, 10L), (10L, 10L), (10L, 0L))),
        Seq("flag" -> true)))
    val layers = decodeTile(Mvt.encodeTile("export", 4096, fs))
    assert(layers.size == 1)
    val l = layers.head
    assert(l.version == 2 && l.name == "export" && l.extent == 4096)
    // key dictionary dedups the shared "name" key
    assert(l.keys == Seq("name", "n", "d", "flag"))
    assert(l.features.map(_.id) == Seq(1L, 2L, 3L))
    val Seq(p, ln, pg) = l.features
    assert(p.gtype == 1 && ln.gtype == 2 && pg.gtype == 3)
    assert(decodeGeometry(p.geom) == Seq(IndexedSeq((10L, 20L), (30L, 15L))))
    assert(decodeGeometry(ln.geom) == Seq(IndexedSeq((0L, 0L), (5L, 5L), (5L, 10L))))
    // typed attributes come back typed
    assert(l.attrs(p) == Map("name" -> "alpha", "n" -> 42L))
    assert(l.attrs(ln) == Map("name" -> "beta", "d" -> 1.5))
    assert(l.attrs(pg) == Map("flag" -> true))
    // polygon: one ring, 4 vertices (unclosed on the wire), exterior CW on
    // screen (positive y-down shoelace) regardless of source winding
    val ring = decodeGeometry(pg.geom).head
    assert(ring.length == 4 && ring.toSet ==
      Set((0L, 0L), (0L, 10L), (10L, 10L), (10L, 0L)))
    assert(screenArea2(ring) > 0, "exterior ring must be CW in screen coords")
  }

  test("sub-unit geometry reduces to minimal valid shapes (tippecanoe parity)") {
    // a building-scale quad at z2 quantizes all vertices to one point —
    // zero-area rings / zero-length segments are invalid MVT, so the
    // encoder must emit the tiny-geometry reductions instead
    val fs = Seq(
      Mvt.Feature(Some(1L), 3, Seq(IndexedSeq((7L, 9L), (7L, 9L), (7L, 9L), (7L, 9L))), Nil),
      Mvt.Feature(Some(2L), 2, Seq(IndexedSeq((3L, 4L), (3L, 4L), (3L, 4L))), Nil),
      // collinear (zero-area but distinct) polygon also reduces
      Mvt.Feature(Some(3L), 3, Seq(IndexedSeq((0L, 0L), (2L, 0L), (4L, 0L), (2L, 0L))), Nil))
    val l = decodeTile(Mvt.encodeTile("t", 4096, fs)).head
    val Seq(pg, ln, col) = l.features
    val pgRing = decodeGeometry(pg.geom).head
    assert(pgRing.length == 4 && screenArea2(pgRing) > 0,
      s"collapsed polygon must become a unit square: $pgRing")
    assert(pgRing.contains((7L, 9L)))
    val lnPts = decodeGeometry(ln.geom).head
    assert(lnPts.length == 2 && lnPts.head != lnPts(1),
      s"collapsed line must become a one-unit segment: $lnPts")
    val colRing = decodeGeometry(col.geom).head
    assert(screenArea2(colRing) > 0, "collinear ring must reduce to nonzero area")
  }

  test("value encoding covers the numeric widths via Number routing") {
    def rt(v: Any): Any = {
      val layers = decodeTile(Mvt.encodeTile("t", 4096,
        Seq(Mvt.Feature(Some(1L), 1, Seq(IndexedSeq((0L, 0L))), Seq("v" -> v)))))
      layers.head.attrs(layers.head.features.head)("v")
    }
    assert(rt(7) == 7L)
    assert(rt(7L) == 7L)
    assert(rt(7.toShort) == 7L)
    assert(rt(2.25) == 2.25)
    assert(rt(2.25f) == 2.25)
    assert(rt(false) == false)
    assert(rt("s") == "s")
    assert(rt(new java.math.BigDecimal("3.5")) == 3.5)
  }

  private lazy val feats = {
    val images = ImageFixture.generate(spark, 400, 2)
    ImageTable.derive(images)
      .select(Seq("image_id", "kind", "lon", "lat", "rings", "roles").map(col): _*)
  }

  test("distributed tilePayloads: every tile decodes and inverts to source coordinates") {
    val zooms = (2, 3)
    val payloads = Mvt.tilePayloads(feats, zooms, "export").collect()
    // tile set == the tileAssign grouping (the pipeline's only shuffle)
    val expectTiles = graft.operators.SpatialJoin
      .tileAssign(feats.select(col("lon"), col("lat"), col("image_id")),
        zooms._1, zooms._2)
      .groupBy("z", "tx", "ty").count().collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(payloads.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet ==
      expectTiles.keySet)
    val src = feats.collect().map(r => r.getString(0) -> r).toMap
    payloads.foreach { row =>
      val (z, tx, ty) = (row.getInt(0), row.getLong(1), row.getLong(2))
      val layers = decodeTile(gunzip(row.getAs[Array[Byte]](3)))
      assert(layers.size == 1 && layers.head.name == "export")
      val l = layers.head
      assert(l.features.size.toLong == expectTiles((z, tx, ty)))
      l.features.foreach { f =>
        val attrs = l.attrs(f)
        val r = src(attrs("image_id").asInstanceOf[String])
        val rings = decodeGeometry(f.geom)
        // vertices equal the spec-defined projection of the source coords,
        // recomputed here independently (exact integer compare — inverse-
        // mercator tolerance checks lose precision near the poles)
        def proj(lon: Double, lat: Double): (Long, Long) = {
          val n = (1L << z).toDouble
          val wx = (lon + 180.0) / 360.0 * n
          val latR = math.toRadians(lat)
          val wy = (1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0 * n
          (math.round((wx - tx) * l.extent), math.round((wy - ty) * l.extent))
        }
        val storedRings =
          if (!r.isNullAt(4)) r.getSeq[scala.collection.Seq[Double]](4) else Nil
        val storedRoles = if (!r.isNullAt(5)) r.getSeq[Int](5)
          else Seq.fill(storedRings.length)(0)
        def projRing(fl: scala.collection.Seq[Double]): IndexedSeq[(Long, Long)] =
          (0 until fl.length / 2).map(i => proj(fl(2 * i), fl(2 * i + 1)))
        r.getString(1) match {
          case "point" =>
            assert(f.gtype == 1 &&
              rings == Seq(IndexedSeq(proj(r.getDouble(2), r.getDouble(3)))))
          case "line" =>
            // the wire stream applies consecutive-dup removal + degenerate
            // padding; that encoding is unit-tested on hand geometries above,
            // so the pipeline assertion re-encodes the independently
            // projected source rings and compares command streams
            assert(f.gtype == 2)
            val want = Mvt.geometryStream(Mvt.Feature(None, 2,
              storedRings.map(projRing), Nil))
            assert(f.geom == want, "line command stream from projected source")
          case "polygon" =>
            assert(f.gtype == 3)
            val want = Mvt.geometryStream(Mvt.Feature(None, 3,
              storedRings.map(projRing), Nil,
              Some(storedRoles.map(_ == 0))))
            assert(f.geom == want, "polygon command stream from projected source")
            assert(screenArea2(rings.head) > 0, "first ring exterior CW on screen")
        }
        // and the inverse projection lands within the tile-local lon step
        val (lonBack, _) = toLonLat(z, tx, ty, l.extent,
          rings.head.head._1, rings.head.head._2)
        val srcLons = r.getString(1) match {
          case "point" => Seq(r.getDouble(2))
          case _ => storedRings.flatMap(fl =>
            (0 until fl.length / 2).map(i => fl(2 * i)))
        }
        assert(srcLons.exists(v => math.abs(lonBack - v) < 0.03))
      }
    }
  }

  test("per-tile feature cap: bounded groups, deterministic pseudo-random selection") {
    // everything lands in the single z0 tile — the worst-case group shape a
    // planet-scale low-zoom tile has; the cap must bound it deterministically
    val total = feats.count()
    val capped = Mvt.tilePayloads(feats, (0, 0), "export",
      maxFeaturesPerTile = 50).collect()
    assert(capped.length == 1)
    val l1 = decodeTile(gunzip(capped.head.getAs[Array[Byte]](3))).head
    assert(l1.features.size == 50, s"cap must bind: ${l1.features.size}")
    // deterministic: a second run yields byte-identical payload
    val again = Mvt.tilePayloads(feats, (0, 0), "export",
      maxFeaturesPerTile = 50).collect()
    assert(java.util.Arrays.equals(capped.head.getAs[Array[Byte]](3),
      again.head.getAs[Array[Byte]](3)))
    // under-cap tiles pass through exactly
    val uncapped = Mvt.tilePayloads(feats, (0, 0), "export").collect()
    val l2 = decodeTile(gunzip(uncapped.head.getAs[Array[Byte]](3))).head
    assert(l2.features.size.toLong == total)
    // the kept subset is a subset of the full feature set
    val ids = (l: MvtDecode.Layer) =>
      l.features.map(f => l.attrs(f)("image_id")).toSet
    assert(ids(l1).subsetOf(ids(l2)))
  }

  private def payloadMap(df: DataFrame): Map[(Int, Long, Long), Seq[Byte]] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
      r.getAs[Array[Byte]](3).toSeq).toMap

  test("per-tile cap in one exchange keeps the two-window selection, byte for byte") {
    import org.apache.spark.sql.expressions.Window
    val zooms = (0, 4)
    // the pipeline's packing of `feats`: geometry struct, attribute struct,
    // and the hash that ranks a tile's rows
    val tiled = graft.operators.SpatialJoin.tileAssign(feats.select(col("lon"), col("lat"),
        struct(col("kind"), col("lon"), col("lat"), col("rings"), col("roles")).as("_geom"),
        struct(col("image_id")).as("_attrs")), zooms._1, zooms._2)
      .withColumn("_h", xxhash64(col("_attrs"), col("_geom")))
    val perTile = tiled.groupBy("z", "tx", "ty").count()
    assert(perTile.filter(col("count") > 50).count() > 0, "cap 50 binds somewhere")
    for (cap <- Seq(10000, 50, 3)) {
      // the selection the single exchange replaced: cap rows per salted
      // hash sub-bucket of a tile, then cap rows per tile, both by hash
      val w1 = Window.partitionBy(col("z"), col("tx"), col("ty"), pmod(col("_h"), lit(16)))
        .orderBy(col("_h"))
      val w2 = Window.partitionBy(col("z"), col("tx"), col("ty")).orderBy(col("_h"))
      val kept = tiled
        .withColumn("_rn", row_number().over(w1)).filter(col("_rn") <= cap)
        .withColumn("_rn", row_number().over(w2)).filter(col("_rn") <= cap)
        .select(col("z"), col("_attrs.image_id").as("image_id"))
      // a zoom's tiles are disjoint, so one uncapped run over the rows kept
      // at zoom z encodes each tile of z from exactly its kept rows
      val want = (zooms._1 to zooms._2).map { z =>
        payloadMap(Mvt.tilePayloads(
          feats.join(kept.filter(col("z") === z).select("image_id"), "image_id"),
          (z, z), "export", maxFeaturesPerTile = 0))
      }.reduce(_ ++ _)
      val got = payloadMap(Mvt.tilePayloads(feats, zooms, "export",
        maxFeaturesPerTile = cap))
      assert(got.size == perTile.count(), s"cap $cap: every tile present")
      assert(got == want, s"cap $cap: payload bytes differ from the two-window selection")
    }
  }

  test("per-tile cap: each map task ships at most cap rows of a tile") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def physical(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
      case q: QueryStageExec => physical(q.plan)
      case o => o +: o.children.flatMap(physical)
    }
    val cap = 3
    val df = Mvt.tilePayloads(feats, (0, 0), "export", maxFeaturesPerTile = cap)
    assert(df.collect().length == 1)
    val exchanges = physical(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 1)
    // every feature is in the one z0 tile; each map task ships at most `cap`
    val shipped = exchanges.head.metrics("shuffleRecordsWritten").value
    assert(shipped > 0 && shipped <= cap * feats.rdd.getNumPartitions,
      s"$shipped rows shipped from ${feats.rdd.getNumPartitions} map tasks")
  }

  test("PMTiles MVT archive: tile_type 1, directory-addressed payloads decode") {
    val dir = Files.createTempDirectory("pmt_mvt").toString
    val path = s"$dir/export.pmtiles"
    val (nTiles, totalBytes) = PmTiles.writeMvt(feats, path, (2, 3), "export")
    val tileAssigned = graft.operators.SpatialJoin
      .tileAssign(feats.select(col("lon"), col("lat"), col("image_id")), 2, 3)
    assert(nTiles == tileAssigned.select("z", "tx", "ty").distinct().count())
    val bytes = Files.readAllBytes(Paths.get(path))
    assert(bytes.length.toLong == totalBytes)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(new String(bytes, 0, 7, "US-ASCII") == "PMTiles" && bytes(7) == 3,
      "v3 magic")
    assert(bytes(96) == 1, "clustered flag")
    assert(bytes(99) == 1, "header tile_type must be 1 (MVT)")
    assert(bytes(100) == 2 && bytes(101) == 3, "min/max zoom")
    val rootLen = bb.getLong(16).toInt
    val dataOff = bb.getLong(56)
    // decode the varint-delta root directory (independent walk)
    val root = new Reader(gunzip(
      java.util.Arrays.copyOfRange(bytes, 127, 127 + rootLen)))
    val n = root.varint().toInt
    assert(n.toLong == nTiles)
    val ids = (0 until n).map(_ => root.varint()).scanLeft(0L)(_ + _).tail
    assert(ids == ids.sorted, "clustered archive: ascending tile ids")
    val runs = (0 until n).map(_ => root.varint())
    assert(runs.forall(_ >= 1L), "root entries address tiles, not leaves")
    val lens = (0 until n).map(_ => root.varint().toInt)
    var prevEnd = 0L
    val offs = lens.map { len =>
      val v = root.varint() // 0 = previous entry's end, else offset + 1
      val o = if (v == 0) prevEnd else v - 1
      prevEnd = o + len
      o
    }
    assert(offs.head == 0L, "first tile payload at data offset 0")
    // every payload gunzips to one decodable MVT layer; together the tiles
    // hold every tile-assigned feature
    val features = lens.indices.map { i =>
      val off = (dataOff + offs(i)).toInt
      val layers = decodeTile(gunzip(
        java.util.Arrays.copyOfRange(bytes, off, off + lens(i))))
      assert(layers.size == 1 && layers.head.version == 2)
      layers.head.features.size.toLong * runs(i)
    }.sum
    assert(features == tileAssigned.count())
  }
}
