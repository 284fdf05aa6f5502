package graft.sinks

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** From-scratch Mapbox Vector Tile (MVT) encoder — the payload format the
  * reference's tile path actually ships (`tippecanoe -zg --projection=
  * EPSG:4326 -o out.pmtiles`, src/app.py:690-698, emits MVT-in-PMTiles).
  *
  * Wire format per the public Mapbox Vector Tile specification v2.1
  * (mapbox/vector-tile-spec): a protobuf `Tile` message of `Layer`s, each
  * with a key/value dictionary and `Feature`s whose geometry is a
  * MoveTo/LineTo/ClosePath command stream over zigzag-encoded integer
  * deltas in tile-local coordinates. Encoded by hand (varint + tag bytes)
  * — no protobuf library in the container, and the message shape is small
  * enough that the explicit encoder doubles as documentation.
  *
  * Scale shape: [[tilePayloads]] is the distributed pipeline — the per-tile
  * group is the only shuffle, and tile assembly + protobuf encode + gzip
  * run in the executors, in the task that streams each tile's group.
  * [[writeArchives]] commits each reduce partition's payloads as one
  * resumable commit-loop part that ends in two index runs: its tiles
  * sorted by PMTiles `tile_id` and by MBTiles `(z, tx, ty)`, each entry
  * `(keys, offset, length, sha-256)`. The archive writers
  * ([[PmTiles]]/[[MbTiles]]) k-way-merge one run across the parts
  * ([[TileParts]]) and copy the payloads in that order: one write job
  * (two under AQE, whose shuffle stage runs first), payloads encoded once,
  * and both archives of one export built from the same parts.
  */
object Mvt {

  val DefaultExtent = 4096

  // ---- protobuf primitives -------------------------------------------------

  final class Pbf {
    val out = new ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def varintField(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def bytesField(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong); out.write(b)
    }
    def strField(field: Int, s: String): Unit =
      bytesField(field, s.getBytes(StandardCharsets.UTF_8))
    def doubleField(field: Int, d: Double): Unit = {
      tag(field, 1)
      val bits = java.lang.Double.doubleToLongBits(d)
      var i = 0
      while (i < 8) { out.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
    }
    def packedField(field: Int, vs: Seq[Long]): Unit = {
      val p = new Pbf
      vs.foreach(p.varint)
      bytesField(field, p.bytes)
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  /** CommandInteger: id in the low 3 bits, repeat count above. */
  def command(id: Int, count: Int): Long = ((id & 0x7) | (count << 3)).toLong

  // ---- typed attribute values (Value message) ------------------------------

  /** Canonical deterministic string form of an attribute value — the JVM
    * toString of Array[Byte] is an identity hash (garbage that also differs
    * across runs), so anything that orders or dedups values goes through
    * this instead. */
  def canonicalString(v: Any): String = v match {
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case other => String.valueOf(other)
  }

  /** Value oneof: string=1, double=3, int=4, bool=7 — the four the engine's
    * attribute model produces (FlatGeobuf/Gpkg parity via Number). */
  def encodeValue(v: Any): Array[Byte] = {
    val p = new Pbf
    v match {
      case b: Boolean => p.varintField(7, if (b) 1L else 0L)
      case n: java.lang.Long => p.varintField(4, n.longValue())
      case n: java.lang.Integer => p.varintField(4, n.longValue())
      case n: java.lang.Short => p.varintField(4, n.longValue())
      case n: java.lang.Byte => p.varintField(4, n.longValue())
      case n: java.lang.Double => p.doubleField(3, n.doubleValue())
      case n: java.lang.Float => p.doubleField(3, n.doubleValue())
      case n: java.math.BigDecimal => p.doubleField(3, n.doubleValue())
      // MVT Value has no binary/list variants — encode the canonical string
      case b: Array[Byte] => p.strField(1, canonicalString(b))
      case s: scala.collection.Seq[_] => p.strField(1, canonicalString(s))
      case other => p.strField(1, String.valueOf(other))
    }
    p.bytes
  }

  // ---- geometry ------------------------------------------------------------

  /** One feature in tile-local integer coordinates. `rings`: one ring for
    * points (the points) / lines (the vertices) / polygon rings (UNclosed —
    * ClosePath closes them on the wire). */
  final case class Feature(
      id: Option[Long], gtype: Int, rings: Seq[IndexedSeq[(Long, Long)]],
      attrs: Seq[(String, Any)],
      /** per-ring exterior flags for polygons (multipolygon support);
        * None = the first ring is the only exterior */
      exterior: Option[Seq[Boolean]] = None)

  /** Signed area ×2 in screen coordinates (y down). MVT v2 requires exterior
    * rings CW on screen = positive shoelace sum under y-down. */
  def screenArea2(ring: Seq[(Long, Long)]): Long =
    ring.indices.map { i =>
      val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % ring.length)
      x1 * y2 - x2 * y1
    }.sum

  private def dedupConsecutive(pts: IndexedSeq[(Long, Long)]): IndexedSeq[(Long, Long)] =
    pts.foldLeft(IndexedSeq.empty[(Long, Long)]) { (acc, p) =>
      if (acc.nonEmpty && acc.last == p) acc else acc :+ p
    }

  /** The MoveTo/LineTo/ClosePath command stream; the cursor starts at (0,0)
    * per feature and persists across rings.
    *
    * Sub-unit geometry: quantization at low zooms collapses building-scale
    * shapes onto repeated vertices — zero-length LineTo segments and
    * zero-area rings are invalid MVT (winding can't classify a zero-area
    * exterior ring). Like tippecanoe's tiny-geometry reduction, a collapsed
    * line becomes a one-unit segment and a collapsed polygon a one-unit
    * square at the quantized anchor: the feature (and its attributes)
    * survives in every tile it belongs to, as a minimal valid shape. */
  def geometryStream(f: Feature): Seq[Long] = {
    val cmds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cx = 0L; var cy = 0L
    def push(pt: (Long, Long)): Unit = {
      cmds += zigzag(pt._1 - cx); cmds += zigzag(pt._2 - cy)
      cx = pt._1; cy = pt._2
    }
    f.gtype match {
      case 1 =>
        cmds += command(1, f.rings.head.length)
        f.rings.head.foreach(push)
      case 2 =>
        f.rings.foreach { line0 =>
          val d = dedupConsecutive(line0)
          val line =
            if (d.length >= 2) d
            else IndexedSeq(d.head, (d.head._1 + 1, d.head._2))
          cmds += command(1, 1); push(line.head)
          cmds += command(2, line.length - 1); line.tail.foreach(push)
        }
      case 3 =>
        f.rings.zipWithIndex.foreach { case (raw, i) =>
          val d = dedupConsecutive(raw)
          val isExterior = f.exterior.map(_(i)).getOrElse(i == 0)
          val ring0 =
            if (d.length >= 3 && screenArea2(d) != 0) d
            else if (isExterior) {
              val (x, y) = d.head // unit square, CW in screen coords
              IndexedSeq((x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1))
            } else IndexedSeq.empty // a collapsed HOLE simply vanishes
          // exterior rings CW on screen (positive y-down shoelace),
          // interior rings CCW — rewind when the source disagrees
          val wantPositive = isExterior
          if (ring0.nonEmpty) {
          val ring =
            if ((screenArea2(ring0) > 0) == wantPositive) ring0 else ring0.reverse
          cmds += command(1, 1); push(ring.head)
          cmds += command(2, ring.length - 1); ring.tail.foreach(push)
          cmds += command(7, 1)
          }
        }
    }
    cmds.toSeq
  }

  // ---- layer / tile assembly ----------------------------------------------

  /** Encode one layer (version 2, one key/value dictionary shared by all
    * features). Features are emitted in the given order. */
  def encodeLayer(name: String, extent: Int, features: Seq[Feature]): Array[Byte] = {
    val keys = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // dictionary keyed on the ENCODED value (value equality — Array[Byte]
    // attribute values would otherwise compare by reference and never dedup)
    val values = scala.collection.mutable.LinkedHashMap.empty[Seq[Byte], Int]
    val featBytes = features.map { f =>
      val p = new Pbf
      // id is optional in MVT v2.1 and must be unique within the layer when
      // present — omit it rather than emitting duplicate zeros
      f.id.foreach(p.varintField(1, _))
      val tags = f.attrs.flatMap { case (k, v) =>
        val ki = keys.getOrElseUpdate(k, keys.size)
        val vi = values.getOrElseUpdate(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(encodeValue(v)),
          values.size)
        Seq(ki.toLong, vi.toLong)
      }
      p.packedField(2, tags)
      p.varintField(3, f.gtype.toLong)
      p.packedField(4, geometryStream(f))
      p.bytes
    }
    val layer = new Pbf
    layer.varintField(15, 2L) // version (required, field 15)
    layer.strField(1, name)
    featBytes.foreach(layer.bytesField(2, _))
    keys.keys.foreach(layer.strField(3, _))
    values.keys.foreach(v => layer.bytesField(4, v.toArray))
    layer.varintField(5, extent.toLong)
    layer.bytes
  }

  /** Lexicographic walk over ring coordinates — the geometry tiebreak of
    * [[sortFeatures]] (allocation-free; never stringifies the geometry). */
  private def compareRings(ar: Seq[IndexedSeq[(Long, Long)]],
      br: Seq[IndexedSeq[(Long, Long)]]): Int = {
    var k = 0
    while (k < ar.length && k < br.length) {
      val ra = ar(k); val rb = br(k)
      var j = 0
      while (j < ra.length && j < rb.length) {
        var c = java.lang.Long.compare(ra(j)._1, rb(j)._1)
        if (c != 0) return c
        c = java.lang.Long.compare(ra(j)._2, rb(j)._2)
        if (c != 0) return c
        j += 1
      }
      val c = Integer.compare(ra.length, rb.length)
      if (c != 0) return c
      k += 1
    }
    Integer.compare(ar.length, br.length)
  }

  /** Deterministic feature order for byte-identical re-runs: id, canonical
    * attr values (precomputed ONCE per feature — never per comparison),
    * then the ring-coordinate walk for attr-less frames. */
  def sortFeatures(feats: Seq[Feature]): Seq[Feature] =
    feats
      .map(f => ((f.id.getOrElse(Long.MinValue),
        f.attrs.map(kv => canonicalString(kv._2)).mkString(" ")), f))
      .sorted(new Ordering[((Long, String), Feature)] {
        def compare(a: ((Long, String), Feature), b: ((Long, String), Feature)): Int = {
          var c = java.lang.Long.compare(a._1._1, b._1._1)
          if (c != 0) return c
          c = a._1._2.compareTo(b._1._2)
          if (c != 0) return c
          compareRings(a._2.rings, b._2.rings)
        }
      })
      .map(_._2)

  /** A Tile message with one layer. */
  def encodeTile(layerName: String, extent: Int, features: Seq[Feature]): Array[Byte] = {
    val p = new Pbf
    p.bytesField(3, encodeLayer(layerName, extent, features))
    p.bytes
  }

  // ---- Web-Mercator tile-local projection ----------------------------------

  /** lon/lat → tile-local integer coords for tile (z, tx, ty); same mercator
    * as GeoCols.tileX/YCol. Values may fall outside [0, extent] for vertices
    * beyond the tile edge — the spec's buffer convention, renderers clip. */
  def tileLocal(z: Int, tx: Long, ty: Long, extent: Int,
      lon: Double, lat: Double): (Long, Long) = {
    val n = (1L << z).toDouble
    val wx = (lon + 180.0) / 360.0 * n
    val latR = math.toRadians(lat)
    val wy = (1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0 * n
    (math.round((wx - tx) * extent), math.round((wy - ty) * extent))
  }

  // ---- the distributed tile-payload pipeline -------------------------------

  /** Feature DataFrame (kind, lon, lat, rings, roles + attribute columns) →
    * (z, tx, ty, payload) with one gzip MVT tile per row. The per-tile
    * group is the one shuffle exchange, keyed on (z, tx, ty); tile
    * assembly, protobuf encode and gzip run in the reduce task that
    * streams the group.
    *
    * `maxFeaturesPerTile`: a z2 tile sees ~1/16th of the WHOLE table, so at
    * 10^12 rows an uncapped per-tile group is a single-task scale-killer
    * (and no renderable tile wants 10^10 features). Like tippecanoe's
    * feature-dropping on over-full tiles, each tile keeps a deterministic
    * pseudo-random subset: the `maxFeaturesPerTile` rows with the smallest
    * `xxhash64(_attrs, _geom)`. Each map task sorts its rows by
    * (z, tx, ty, hash) and ships only the first `maxFeaturesPerTile` of
    * each tile, so a task sends at most that many rows per tile however
    * large the tile is; the reduce side streams each tile's group sorted
    * by hash and keeps its first `maxFeaturesPerTile`. Under-cap tiles pass
    * through exactly. ≤ 0 disables the cap. */
  def tilePayloads(df0: DataFrame, zooms: (Int, Int),
      layerName: String, extent: Int = DefaultExtent,
      maxFeaturesPerTile: Int = 10000): DataFrame = {
    val df = FeatureModel.prepare(df0)
    val haveVerts = df.columns.contains("rings") && df.columns.contains("kind")
    val geomStruct =
      if (haveVerts)
        struct(col("kind"), col("lon"), col("lat"), col("rings"),
          if (df.columns.contains("roles")) col("roles")
          else array().cast("array<int>"))
      else struct(lit("point").as("kind"), col("lon"), col("lat"))
    val attrCols = df.columns.filterNot(FeatureModel.geomCols).toSeq
    val packed = df.select(
      col("lon"), col("lat"), geomStruct.as("_geom"),
      struct(attrCols.map(col): _*).as("_attrs"))
    // (z, tx, ty, _geom, _attrs, _h): the tile key first, for capTile
    val tiled = graft.operators.SpatialJoin.tileAssign(packed, zooms._1, zooms._2)
      .select(col("z"), col("tx"), col("ty"), col("_geom"), col("_attrs"),
        xxhash64(col("_attrs"), col("_geom")).as("_h"))
    val rowEnc = Encoders.row(tiled.schema)
    val cap = if (maxFeaturesPerTile <= 0) Int.MaxValue else maxFeaturesPerTile
    val shipped =
      if (maxFeaturesPerTile <= 0) tiled
      else tiled.sortWithinPartitions(col("z"), col("tx"), col("ty"), col("_h"))
        .mapPartitions((it: Iterator[Row]) => capTile(it, cap))(rowEnc)
    val attrSchema = StructType(attrCols.map(c => df.schema(c)))
    val idIdx = attrCols.indexWhere { c =>
      c == "image_id" && (attrSchema(c).dataType == LongType ||
        attrSchema(c).dataType == IntegerType)
    }
    val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
      Encoders.scalaLong)
    val enc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.BINARY)
    shipped.groupBy(col("z"), col("tx"), col("ty"))
      .as[(Int, Long, Long), Row](keyEnc, rowEnc)
      .flatMapSortedGroups(col("_h")) { (key: (Int, Long, Long), rows: Iterator[Row]) =>
        val (z, tx, ty) = key
        val feats = rows.take(cap).map { r =>
          feature(z, tx, ty, extent, r.getStruct(3), r.getStruct(4), attrCols, idIdx)
        }.toSeq
        // feature order: id, canonical attr values (binary attrs would
        // toString to identity hashes), then geometry for attr-less
        // frames, so re-runs produce byte-identical tiles
        Iterator.single(
          (z, tx, ty, Zip.gzip(encodeTile(layerName, extent, sortFeatures(feats)))))
      }(enc).toDF("z", "tx", "ty", "payload")
  }

  // ---- committed tile parts: the archives' one distributed write ----------

  /** Extension of a committed tile part. */
  private val TilePartExt = "tiles"

  /** One tile of a committed part: its archive keys, where its payload sits
    * in the part, and the payload's SHA-256 (PMTiles' duplicate key). */
  final case class TileEntry(tileId: Long, z: Int, tx: Long, ty: Long,
      offset: Long, length: Int, sha: Array[Byte])

  private val EntryBytes = 8 + 4 + 8 + 8 + 8 + 4 + 32

  /** The index runs every part ends with, in this order: PMTiles key order
    * and MBTiles key order. */
  val ByTileId = 0
  val ByZxy = 1

  private def writeEntry(out: java.io.DataOutputStream, e: TileEntry): Unit = {
    out.writeLong(e.tileId); out.writeInt(e.z); out.writeLong(e.tx)
    out.writeLong(e.ty); out.writeLong(e.offset); out.writeInt(e.length)
    out.write(e.sha)
  }

  /** Commit (z, tx, ty, payload) rows — [[tilePayloads]], one row per tile —
    * as resumable lineage parts under `stateDir`. A part is its partition's
    * payloads as they arrive, then the partition's [[TileEntry]] index in
    * [[ByTileId]] order, again in [[ByZxy]] order, then the tile count
    * (8 bytes). Only the index entries are sorted, in the task; payloads
    * are written once. `fingerprint` identifies the run for resume (see
    * [[Lineage.runFingerprint]]); by default the payload frame's own. */
  private def commitTiles(payloads: DataFrame, stateDir: String,
      failAtPartition: Int, fingerprint: Option[String]): Unit = {
    // the columns by name, without a projection: the commit must run on
    // the Dataset instance the fingerprint planned, or under AQE the
    // shuffle stage runs twice
    val Seq(zi, xi, yi, pi) =
      Seq("z", "tx", "ty", "payload").map(payloads.schema.fieldIndex)
    graft.lineage.Lineage.commitPartitions(payloads, stateDir, TilePartExt,
        failAtPartition, fingerprint) { (it, w) =>
      val sha = java.security.MessageDigest.getInstance("SHA-256")
      val entries = scala.collection.mutable.ArrayBuffer.empty[TileEntry]
      var off = 0L
      it.foreach { r =>
        val z = r.getInt(zi); val tx = r.getLong(xi); val ty = r.getLong(yi)
        val p = r.getAs[Array[Byte]](pi)
        w.write(p)
        entries += TileEntry(PmTiles.tileId(z, tx, ty), z, tx, ty, off,
          p.length, sha.digest(p))
        off += p.length
      }
      val out = new java.io.DataOutputStream(w)
      entries.sortBy(_.tileId).foreach(writeEntry(out, _))
      entries.sortBy(e => (e.z, e.tx, e.ty)).foreach(writeEntry(out, _))
      out.writeLong(entries.size.toLong)
      out.flush()
      (entries.size.toLong, None)
    }
  }

  /** Run fingerprint of a tile frame built by [[tilePayloads]] from
    * `features`: the frame's plan holds closures, so the features' plan and
    * the build parameters stand for it. */
  def tilesFingerprint(payloads: DataFrame, features: DataFrame,
      zooms: (Int, Int), layerName: String): String =
    graft.lineage.Lineage.runFingerprint(payloads, features,
      s"mvt $zooms $layerName $DefaultExtent")

  /** The committed tile parts of one export, open for reading: the merged
    * index runs and positioned payload reads. Driver memory is one pending
    * entry and one read buffer per part, whatever the tile count. */
  final class TileParts(parts: Seq[java.nio.file.Path]) extends AutoCloseable {
    import java.nio.ByteBuffer
    import java.nio.channels.FileChannel
    private val chans = parts.map(p =>
      FileChannel.open(p, java.nio.file.StandardOpenOption.READ)).toIndexedSeq
    private val streams = scala.collection.mutable.ArrayBuffer.empty[java.io.InputStream]

    private def readFully(ch: FileChannel, b: ByteBuffer, pos: Long): Unit = {
      var at = pos
      while (b.hasRemaining) {
        val n = ch.read(b, at)
        if (n < 0) throw new java.io.EOFException(s"tile part ends at $at")
        at += n
      }
    }

    private val counts = chans.map { ch =>
      val b = ByteBuffer.allocate(8)
      readFully(ch, b, ch.size - 8)
      b.getLong(0)
    }

    /** Part `i`'s index run `order`, read sequentially. */
    private def run(i: Int, order: Int): Iterator[TileEntry] = {
      val n = counts(i)
      val start = chans(i).size - 8 - (2 - order) * n * EntryBytes
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(parts(i))))
      streams += in
      in.skipNBytes(start)
      Iterator.fill(n.toInt) {
        val tid = in.readLong(); val z = in.readInt(); val tx = in.readLong()
        val ty = in.readLong(); val off = in.readLong(); val len = in.readInt()
        val sha = new Array[Byte](32)
        in.readFully(sha)
        TileEntry(tid, z, tx, ty, off, len, sha)
      }
    }

    /** Every tile of the parts in archive key order `order`, with the index
      * of the part it sits in: a k-way merge of the parts' runs. A tile
      * lives in one part (tiles are grouped by key), so keys never tie. */
    def tiles(order: Int): Iterator[(Int, TileEntry)] = {
      val key: TileEntry => (Long, Long, Long) =
        if (order == ByTileId) e => (e.tileId, 0L, 0L)
        else e => (e.z.toLong, e.tx, e.ty)
      val runs = chans.indices.map(run(_, order))
      val heads = scala.collection.mutable.PriorityQueue.empty[(Int, TileEntry)](
        Ordering.by[(Int, TileEntry), (Long, Long, Long)](h => key(h._2)).reverse)
      runs.zipWithIndex.foreach { case (r, i) => if (r.hasNext) heads.enqueue((i, r.next())) }
      new Iterator[(Int, TileEntry)] {
        def hasNext: Boolean = heads.nonEmpty
        def next(): (Int, TileEntry) = {
          val h = heads.dequeue()
          if (runs(h._1).hasNext) heads.enqueue((h._1, runs(h._1).next()))
          h
        }
      }
    }

    /** The payload of `e`, from part `part`. */
    def payload(part: Int, e: TileEntry): Array[Byte] = {
      val b = ByteBuffer.allocate(e.length)
      readFully(chans(part), b, e.offset)
      b.array()
    }

    def close(): Unit = { streams.foreach(_.close()); chans.foreach(_.close()) }
  }

  /** The tile sinks' write: commit `payloads` ([[commitTiles]]) under
    * `stateDir`, then, on the driver, compact the committed parts'
    * manifests into the lineage record, let `build` make the archive(s)
    * from them, and drop the parts. One commit can feed several archives. */
  def writeArchives[A](payloads: DataFrame, stateDir: String,
      fingerprint: Option[String], failAtPartition: Int = -1)(
      build: TileParts => A): A = {
    commitTiles(payloads, stateDir, failAtPartition, fingerprint)
    graft.lineage.Lineage.assembleParts(payloads.sparkSession, stateDir, TilePartExt) { c =>
      val tp = new TileParts(c.parts)
      try build(tp) finally tp.close()
    }
  }

  /** The first `cap` rows of each tile in a partition sorted by
    * (z, tx, ty, hash): the map-side half of the per-tile cap. */
  private def capTile(it: Iterator[Row], cap: Int): Iterator[Row] = {
    var z = -1; var tx = 0L; var ty = 0L; var n = 0
    it.filter { r =>
      if (r.getInt(0) != z || r.getLong(1) != tx || r.getLong(2) != ty) {
        z = r.getInt(0); tx = r.getLong(1); ty = r.getLong(2); n = 0
      }
      n += 1
      n <= cap
    }
  }

  /** One row's [[Feature]] in tile (z, tx, ty): `g` is the geometry struct
    * (kind, lon, lat[, rings, roles]), `a` the attribute struct. */
  private def feature(z: Int, tx: Long, ty: Long, extent: Int, g: Row, a: Row,
      attrCols: Seq[String], idIdx: Int): Feature = {
    val kind = g.getString(0)
    val lon = g.getDouble(1); val lat = g.getDouble(2)
    def local(x: Double, y: Double): (Long, Long) =
      tileLocal(z, tx, ty, extent, x, y)
    def localRing(fl: scala.collection.Seq[Double]): IndexedSeq[(Long, Long)] =
      (0 until fl.length / 2).map(i => local(fl(2 * i), fl(2 * i + 1)))
    val storedRings =
      (if (g.length > 3 && !g.isNullAt(3)) g.getSeq[scala.collection.Seq[Double]](3)
       else Nil).filter(_.nonEmpty) // empty rings degrade, never crash
    val storedRoles0 =
      if (g.length > 4 && !g.isNullAt(4)) g.getSeq[Int](4) else Nil
    // missing/short roles mean all-outer, matching FeatureModel.fromRings
    val storedRoles =
      if (storedRoles0.length == storedRings.length) storedRoles0
      else Seq.fill(storedRings.length)(0)
    val (gtype, rings, exterior) = kind match {
      case "line" if storedRings.nonEmpty =>
        (2, storedRings.map(localRing), None)
      case "polygon" if storedRings.nonEmpty =>
        (3, storedRings.map(localRing),
          Some(storedRoles.map(_ == 0)))
      case _ => (1, Seq(IndexedSeq(local(lon, lat))), None)
    }
    // null attributes are OMITTED (absent tag), never encoded as ""
    // — the typed vector_layers inventory promises e.g. Number fields,
    // and a string "" value would contradict it
    val attrs = attrCols.indices.flatMap { i =>
      if (a.isNullAt(i)) None else Some(attrCols(i) -> a.get(i))
    }
    val id = if (idIdx >= 0 && !a.isNullAt(idIdx))
      a.get(idIdx) match {
        case l: Long => Some(l); case i: Int => Some(i.toLong); case _ => None }
    else None
    Feature(id, gtype, rings, attrs, exterior)
  }
}
