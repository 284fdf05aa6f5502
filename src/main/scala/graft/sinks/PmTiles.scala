package graft.sinks

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import graft.lineage.Lineage

/** Minimal from-scratch PMTiles v3 archive writer — the reference's actual
  * tile sink output (`tippecanoe ... -o out.pmtiles`, src/app.py:690-698).
  * Format per the public PMTiles v3 specification (protomaps/PMTiles):
  * 127-byte header, gzip varint-delta root directory keyed by Hilbert tile
  * ids (spilling to leaf directories past 16k entries), gzip JSON metadata,
  * concatenated tile payloads with run-length entries AND duplicate
  * coalescing (identical payloads stored once, content-addressed within a
  * bounded window — tile_contents < addressed_tiles, as tippecanoe writes
  * planet archives).
  *
  * Tile payloads are gzip MVT (tile_type 0x01 via [[writeMvt]] —
  * tippecanoe output parity).
  *
  * The heavy work (tile assignment, per-tile feature grouping, encode,
  * gzip) is the distributed plan, and each reduce partition commits its
  * payloads as a resumable part with a tile-id-sorted index run
  * ([[Mvt.writeArchives]]). The driver k-way-merges those runs and copies
  * the payloads in tile-id order — the same single-archive boundary as
  * tippecanoe itself — so the archive stays clustered, and duplicate
  * coalescing happens in that merge. No global sort, no sampling job, no
  * payload streamed through a `toLocalIterator`. The archive is built at
  * `<path>.tmp` and renamed into place, so a failed job never clobbers or
  * half-writes `path`; the committed parts live under `<path>.state` until
  * the archive lands, so a killed write resumes with the missing
  * partitions only.
  */
object PmTiles {

  // ---- Hilbert tile ids (spec: tileId = sum of tiles below z + hilbert d) --

  /** xy → Hilbert d on a 2^z × 2^z grid (standard bit-rotation walk). */
  def hilbertD(z: Int, x0: Long, y0: Long): Long = {
    var rx = 0L; var ry = 0L; var d = 0L
    var x = x0; var y = y0
    var s = 1L << (z - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  def tileId(z: Int, x: Long, y: Long): Long = {
    // cumulative tile count for zooms < z: sum 4^i = (4^z - 1) / 3
    val base = ((1L << (2 * z)) - 1) / 3
    if (z == 0) 0L else base + hilbertD(z, x, y)
  }

  // ---- varint + directory encoding -------------------------------------------

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  final case class Entry(tileId: Long, offset: Long, length: Int, runLength: Int = 1)

  /** Spec layout: n, tileId deltas, runLengths, lengths, offsets (offset 0 =
    * "previous entry's offset + length"). */
  def encodeDirectory(entries: Seq[Entry]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeVarint(out, entries.size)
    var last = 0L
    entries.foreach { e => writeVarint(out, e.tileId - last); last = e.tileId }
    entries.foreach(e => writeVarint(out, e.runLength))
    entries.foreach(e => writeVarint(out, e.length))
    var prevEnd = -1L
    entries.foreach { e =>
      if (e.offset == prevEnd) writeVarint(out, 0L)
      else writeVarint(out, e.offset + 1)
      prevEnd = e.offset + e.length
    }
    out.toByteArray
  }

  /** 127-byte v3 header. */
  private def header(rootOff: Long, rootLen: Long, metaOff: Long, metaLen: Long,
      leafOff: Long, leafLen: Long,
      dataOff: Long, dataLen: Long, nAddressed: Long, nEntries: Long,
      nContents: Long, minZ: Int, maxZ: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(127).order(ByteOrder.LITTLE_ENDIAN)
    b.put("PMTiles".getBytes(StandardCharsets.US_ASCII)).put(3.toByte)
    b.putLong(rootOff).putLong(rootLen)
    b.putLong(metaOff).putLong(metaLen)
    b.putLong(leafOff).putLong(leafLen)
    b.putLong(dataOff).putLong(dataLen)
    b.putLong(nAddressed) // addressed tiles
    b.putLong(nEntries) // tile entries (runLength >= 1)
    b.putLong(nContents) // tile contents = distinct payload blobs
    b.put(1.toByte) // clustered: tile ids written ascending
    b.put(2.toByte).put(2.toByte) // internal compression gzip, tile compression gzip
    b.put(1.toByte) // tile type: MVT
    b.put(minZ.toByte).put(maxZ.toByte)
    // bounds E7: world
    b.putInt(-1800000000).putInt(-850000000).putInt(1800000000).putInt(850000000)
    b.put(minZ.toByte) // center zoom
    b.putInt(0).putInt(0) // center lon/lat E7
    b.array()
  }

  /** The reference-parity sink: feature DataFrame → MVT payloads ([[Mvt]]) →
    * PMTiles archive with tile_type 1, the same content tippecanoe emits
    * (src/app.py:690-698). Returns (tiles written, archive bytes). */
  def writeMvt(features: DataFrame, path: String, zooms: (Int, Int),
      layerName: String, failAtPartition: Int = -1): (Long, Long) = {
    val payloads = Mvt.tilePayloads(features, zooms, layerName)
    Mvt.writeArchives(payloads, s"$path.state",
      Some(Mvt.tilesFingerprint(payloads, features, zooms, layerName)),
      failAtPartition)(archive(_, path))
  }

  /** Entries per leaf directory. The v3 spec caps the root directory (it
    * must be fetchable in one ~16 KB read); archives beyond `LeafSize`
    * tiles spill entries into leaf directories — root entries with
    * runLength 0 point at gzip leaf chunks. Also the driver-memory bound:
    * with leaves the driver holds one chunk + one root entry per 16k
    * tiles, not 16 B × every tile (a planet pyramid has ~10^8 tiles). */
  val LeafSize: Int = 16384

  /** Archive assembly over ready-made (z, tx, ty, gzip MVT payload) rows,
    * one per tile: the rows commit as tile parts, then the driver merges
    * them in Hilbert order; directory entries chunk into leaf directories
    * once the archive outgrows a single root. Returns (tiles written,
    * archive bytes). */
  def writePayloads(perTile: DataFrame, path: String,
      leafSize: Int = LeafSize): (Long, Long) =
    Mvt.writeArchives(perTile, s"$path.state", None)(archive(_, path, leafSize))

  /** Build the archive at `path` from committed tile parts. Returns (tiles
    * written, archive bytes). */
  def archive(tiles: Mvt.TileParts, path: String,
      leafSize: Int = LeafSize): (Long, Long) = {
    val out = Paths.get(path)
    Files.createDirectories(out.getParent)
    // tile payloads stream to a sidecar file; leaf directories to a second
    val dataTmp = Files.createTempFile(out.getParent, "pmtiles-data", ".tmp")
    val leafTmp = Files.createTempFile(out.getParent, "pmtiles-leaf", ".tmp")
    try Lineage.replaceAtomically(out)(
      writeArchive(tiles, _, dataTmp, leafTmp, leafSize))
    finally {
      // a failed assembly must not orphan the sidecars — the data one can
      // be archive-sized
      Files.deleteIfExists(dataTmp)
      Files.deleteIfExists(leafTmp)
      ()
    }
  }

  /** Distinct-payload window for duplicate coalescing: SHA-256 → (offset,
    * length) of the blob already in the data section. Bounded (content-
    * addressed entries are ~56 B each) so driver memory stays O(window) at
    * planet scale — beyond the window a repeated payload is stored again,
    * never corrupted. */
  val DedupWindow: Int = 1 << 19

  private def writeArchive(tiles: Mvt.TileParts, out: java.nio.file.Path,
      dataTmp: java.nio.file.Path, leafTmp: java.nio.file.Path,
      leafSize: Int): (Long, Long) = {
    val dataOut = new java.io.BufferedOutputStream(Files.newOutputStream(dataTmp))
    val leafOut = new java.io.BufferedOutputStream(Files.newOutputStream(leafTmp))
    val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val rootEntries = scala.collection.mutable.ArrayBuffer.empty[Entry]
    // duplicate coalescing: identical payloads share one data blob (the
    // spec's tile_contents < addressed_tiles case; what keeps ocean/empty
    // tiles cheap in planet archives — tippecanoe dedupes the same way).
    // The SHA-256 of each payload comes from its part's index.
    val seen = new java.util.LinkedHashMap[scala.collection.immutable.ArraySeq[Byte], (Long, Int)](
      1024, 0.75f, true) { // access-order = LRU: hot blobs (ocean tiles) stay pinned
      override def removeEldestEntry(
          e: java.util.Map.Entry[scala.collection.immutable.ArraySeq[Byte], (Long, Int)]): Boolean =
        size() > DedupWindow
    }
    var leafMode = false
    var leafLen = 0L
    var nAddressed = 0L
    var nEntries = 0L
    var nContents = 0L
    var dataLen = 0L
    var minZ = 127; var maxZ = 0
    def flushLeaf(): Unit = if (entries.nonEmpty) {
      val enc = Zip.gzip(encodeDirectory(entries.toSeq))
      // runLength 0 marks a leaf pointer; offset is within the leaf section
      rootEntries += Entry(entries.head.tileId, leafLen, enc.length, runLength = 0)
      leafOut.write(enc)
      leafLen += enc.length
      entries.clear()
    }
    try {
      tiles.tiles(Mvt.ByTileId).foreach { case (part, e) =>
        val tid = e.tileId
        val key = scala.collection.immutable.ArraySeq.unsafeWrapArray(e.sha)
        val (off, len) = Option(seen.get(key)) match {
          case Some(prior) => prior // coalesce: no new data bytes
          case None =>
            dataOut.write(tiles.payload(part, e))
            val blob = (dataLen, e.length)
            dataLen += e.length
            nContents += 1
            seen.put(key, blob)
            blob
        }
        // run-length: consecutive tile ids sharing one blob extend the
        // previous entry instead of adding a new one
        if (entries.nonEmpty && {
          val p = entries.last
          p.tileId + p.runLength == tid && p.offset == off && p.length == len
        }) entries(entries.length - 1) =
          entries.last.copy(runLength = entries.last.runLength + 1)
        else {
          entries += Entry(tid, off, len)
          nEntries += 1
        }
        nAddressed += 1
        val z = e.z
        if (z < minZ) minZ = z; if (z > maxZ) maxZ = z
        if (entries.size >= leafSize) { leafMode = true; flushLeaf() }
      }
    } finally {
      if (leafMode) flushLeaf()
      leafOut.close()
      dataOut.close()
    }
    val root = Zip.gzip(encodeDirectory(
      if (leafMode) rootEntries.toSeq else entries.toSeq))
    val meta = Zip.gzip("""{"name":"graft tile export"}""".getBytes(StandardCharsets.UTF_8))
    val rootOff = 127L
    val metaOff = rootOff + root.length
    val leafOff = metaOff + meta.length
    val dataOff = leafOff + (if (leafMode) leafLen else 0L)
    val hdr = header(rootOff, root.length, metaOff, meta.length,
      if (leafMode) leafOff else 0L, if (leafMode) leafLen else 0L,
      dataOff, dataLen, nAddressed, nEntries, nContents,
      if (nAddressed == 0) 0 else minZ, if (nAddressed == 0) 0 else maxZ)
    val os = Files.newOutputStream(out)
    try {
      os.write(hdr); os.write(root); os.write(meta)
      if (leafMode) Files.copy(leafTmp, os)
      Files.copy(dataTmp, os)
    } finally os.close()
    (nAddressed, dataOff + dataLen)
  }
}
