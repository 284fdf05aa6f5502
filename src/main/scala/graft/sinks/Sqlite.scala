package graft.sinks

import java.io.RandomAccessFile
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Minimal from-scratch SQLite 3 database writer — just enough of the
  * published file format (sqlite.org/fileformat2.html) to emit valid
  * single-session databases for the GeoPackage and MBTiles sinks: table
  * b-trees (leaf + interior), the record/serial-type encoding, overflow
  * chains for oversized payloads, and the sqlite_master catalog on page 1.
  *
  * Writing is append-ordered and page-streamed: leaf pages flush to disk as
  * they fill (RandomAccessFile at page offsets), interior levels are built
  * bottom-up from the flushed leaves' (page, maxRowid) fences, and only the
  * catalog + 100-byte header are patched at the end — memory is O(page),
  * not O(file), the same bound as the shapefile/PMTiles writers.
  *
  * No indexes, no freelist, no WAL — a fresh read-only interchange file,
  * which is exactly what the reference ships (ogr2ogr also writes fresh
  * GPKG/MBTiles containers).
  */
/** Serializable record/varint encoders — callable from executors so
  * distributed sinks can serialize SQLite records map-side and hand the
  * driver only pre-encoded bytes for b-tree assembly. */
object Sqlite {

  def varint(v0: Long): Array[Byte] = {
    // negatives and ≥2^56 use SQLite's 9-byte form: 8 continuation bytes of
    // 7 bits each, then a final byte carrying the LOW 8 bits — needed for
    // the spec-mandated srs_id -1 rowid in gpkg_spatial_ref_sys
    if (v0 < 0 || v0 >= (1L << 56)) {
      val out = new Array[Byte](9)
      out(8) = (v0 & 0xff).toByte
      var x = v0 >>> 8
      var i = 7
      while (i >= 0) { out(i) = (0x80 | (x & 0x7f)).toByte; x >>>= 7; i -= 1 }
      return out
    }
    if (v0 <= 0x7f) Array(v0.toByte)
    else {
      // up to 9 bytes, big-endian 7-bit groups, high bit = continuation
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var i = 0
      val groups = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var x = v0
      while (i < 9 && (x != 0 || groups.isEmpty)) {
        groups += (x & 0x7f).toByte
        x >>>= 7
        i += 1
      }
      val g = groups.reverse
      g.init.foreach(b => out += (b | 0x80).toByte)
      out += g.last
      out.toArray
    }
  }

  /** SQLite record encoding (header of serial types + bodies). Supported:
    * null, Long, Int, Double, String, Array[Byte], Boolean. */
  def record(values: Seq[Any]): Array[Byte] = {
    val bodies = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val serials = values.map {
      case null => bodies += Array.emptyByteArray; 0L
      case b: Boolean => bodies += Array.emptyByteArray; if (b) 9L else 8L
      case i: Int => encodeInt(i.toLong, bodies)
      case l: Long => encodeInt(l, bodies)
      case d: Double =>
        bodies += ByteBuffer.allocate(8).putDouble(d).array(); 7L
      case s: String =>
        val b = s.getBytes(StandardCharsets.UTF_8)
        bodies += b; 13L + 2L * b.length
      case a: Array[Byte] => bodies += a; 12L + 2L * a.length
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
    val serialBytes = serials.flatMap(varint).toArray
    val headerLen = {
      // header length varint includes itself — iterate to fixpoint
      var h = 1 + serialBytes.length
      while (varint(h.toLong).length + serialBytes.length != h)
        h = varint(h.toLong).length + serialBytes.length
      h
    }
    varint(headerLen.toLong) ++ serialBytes ++ bodies.flatten
  }

  private def encodeInt(l: Long, bodies: scala.collection.mutable.ArrayBuffer[Array[Byte]]): Long = {
    if (l == 0) { bodies += Array.emptyByteArray; 8L }
    else if (l == 1) { bodies += Array.emptyByteArray; 9L }
    else if (l >= Byte.MinValue && l <= Byte.MaxValue) { bodies += Array(l.toByte); 1L }
    else if (l >= Short.MinValue && l <= Short.MaxValue) {
      bodies += ByteBuffer.allocate(2).putShort(l.toShort).array(); 2L
    } else if (l >= Int.MinValue && l <= Int.MaxValue) {
      bodies += ByteBuffer.allocate(4).putInt(l.toInt).array(); 4L
    } else { bodies += ByteBuffer.allocate(8).putLong(l).array(); 6L }
  }
}

final class Sqlite(path: String, pageSize: Int = 4096) {

  private val raf = new RandomAccessFile(path, "rw")
  raf.setLength(0)
  private var nextPage = 2 // page 1 is the sqlite_master root
  // (type, name, tbl_name, rootpage, sql — null for autoindexes)
  private val master =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Int, String)]

  private val Usable = pageSize // no reserved bytes
  private val MaxLeafLocal = Usable - 35
  private val MinLocal = (Usable - 12) * 32 / 255 - 23

  // ---- low-level helpers -----------------------------------------------------

  private def varint(v0: Long): Array[Byte] = Sqlite.varint(v0)

  private def allocPage(): Int = { val p = nextPage; nextPage += 1; p }

  private def writePage(page: Int, bytes: Array[Byte]): Unit = {
    require(bytes.length == pageSize, s"page must be $pageSize bytes")
    raf.seek((page - 1).toLong * pageSize)
    raf.write(bytes)
  }

  // ---- record (row) encoding -------------------------------------------------

  /** Serialize one row to the SQLite record format. Supported values: null,
    * Long, Int, Double, String, Array[Byte], Boolean. */
  def record(values: Seq[Any]): Array[Byte] = Sqlite.record(values)

  // ---- b-tree construction ---------------------------------------------------

  private final class LeafBuilder {
    val cells = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var used = 8 // leaf header
    def fits(cell: Array[Byte]): Boolean = used + 2 + cell.length <= Usable
    def add(cell: Array[Byte]): Unit = { cells += cell; used += 2 + cell.length }
    def nonEmpty: Boolean = cells.nonEmpty
  }

  private def serializeLeaf(cells: Seq[Array[Byte]], isPage1: Boolean): Array[Byte] = {
    val buf = new Array[Byte](pageSize)
    val headerBase = if (isPage1) 100 else 0
    val bb = ByteBuffer.wrap(buf)
    bb.put(headerBase, 0x0d.toByte)
    bb.putShort(headerBase + 3, cells.size.toShort)
    var content = pageSize
    val ptrBase = headerBase + 8
    cells.zipWithIndex.foreach { case (c, i) =>
      content -= c.length
      System.arraycopy(c, 0, buf, content, c.length)
      bb.putShort(ptrBase + 2 * i, content.toShort)
    }
    bb.putShort(headerBase + 5, (content & 0xffff).toShort)
    buf
  }

  private def serializeInterior(cells: Seq[(Int, Long)], rightmost: Int,
      isPage1: Boolean = false): Array[Byte] = {
    val buf = new Array[Byte](pageSize)
    val headerBase = if (isPage1) 100 else 0
    val bb = ByteBuffer.wrap(buf)
    bb.put(headerBase, 0x05.toByte)
    bb.putShort(headerBase + 3, cells.size.toShort)
    bb.putInt(headerBase + 8, rightmost)
    var content = pageSize
    cells.zipWithIndex.foreach { case ((child, key), i) =>
      val cell = ByteBuffer.allocate(4).putInt(child).array() ++ varint(key)
      content -= cell.length
      System.arraycopy(cell, 0, buf, content, cell.length)
      bb.putShort(headerBase + 12 + 2 * i, content.toShort)
    }
    bb.putShort(headerBase + 5, (content & 0xffff).toShort)
    buf
  }

  /** Index leaf page (type 0x0a): cells are varint(len) + record only — the
    * rowid is the LAST column of the index record itself. */
  private def serializeIndexLeaf(cells: Seq[Array[Byte]]): Array[Byte] = {
    val buf = new Array[Byte](pageSize)
    val bb = ByteBuffer.wrap(buf)
    bb.put(0, 0x0a.toByte)
    bb.putShort(3, cells.size.toShort)
    var content = pageSize
    cells.zipWithIndex.foreach { case (c, i) =>
      content -= c.length
      System.arraycopy(c, 0, buf, content, c.length)
      bb.putShort(8 + 2 * i, content.toShort)
    }
    bb.putShort(5, (content & 0xffff).toShort)
    buf
  }

  /** Split an oversized payload into the local prefix + overflow chain;
    * returns local part ++ 4-byte first-overflow-page pointer. Overflow pages
    * are written immediately. */
  private def spill(payload: Array[Byte]): Array[Byte] = {
    val p = payload.length
    val k = MinLocal + (p - MinLocal) % (Usable - 4)
    val local = if (k <= MaxLeafLocal) k else MinLocal
    val rest = payload.drop(local)
    val chunk = Usable - 4
    val chunks = rest.grouped(chunk).toSeq
    val pages = chunks.map(_ => allocPage())
    chunks.zipWithIndex.foreach { case (c, i) =>
      val buf = new Array[Byte](pageSize)
      val next = if (i + 1 < pages.size) pages(i + 1) else 0
      ByteBuffer.wrap(buf).putInt(0, next)
      System.arraycopy(c, 0, buf, 4, c.length)
      writePage(pages(i), buf)
    }
    payload.take(local) ++ ByteBuffer.allocate(4).putInt(pages.head).array()
  }

  /** Build a table b-tree from (rowid, record) pairs in ascending rowid
    * order; returns the root page number. */
  private def buildTree(rows: Iterator[(Long, Array[Byte])]): Int = {
    var leaves = Vector.empty[(Int, Long)] // (page, maxRowid)
    var leaf = new LeafBuilder
    var lastRowid = 0L
    def flushLeaf(): Unit = if (leaf.nonEmpty) {
      val page = allocPage()
      writePage(page, serializeLeaf(leaf.cells.toSeq, isPage1 = false))
      leaves :+= (page, lastRowid)
      leaf = new LeafBuilder
    }
    rows.foreach { case (rowid, rec) =>
      val cell =
        if (rec.length <= MaxLeafLocal)
          varint(rec.length.toLong) ++ varint(rowid) ++ rec
        else varint(rec.length.toLong) ++ varint(rowid) ++ spill(rec)
      if (!leaf.fits(cell)) flushLeaf()
      leaf.add(cell)
      lastRowid = rowid
    }
    flushLeaf()
    if (leaves.isEmpty) { // empty table: one empty leaf
      val page = allocPage()
      writePage(page, serializeLeaf(Nil, isPage1 = false))
      return page
    }
    // interior levels bottom-up
    var level = leaves
    while (level.size > 1) {
      val fanout = (Usable - 12) / (2 + 13) // ptr slot + worst-case cell
      // never leave a trailing singleton group: a 1-child interior page has
      // zero cells (rightmost pointer only), a construct sqlite3 itself never
      // emits and strict readers may reject — rebalance the last two groups
      val groups0 = level.grouped(fanout).toVector
      val groups =
        if (groups0.size > 1 && groups0.last.size == 1) {
          val split = groups0(groups0.size - 2) ++ groups0.last
          val half = split.size / 2
          groups0.dropRight(2) :+ split.take(half) :+ split.drop(half)
        } else groups0
      var nextLevel = Vector.empty[(Int, Long)]
      groups.foreach { group =>
        val page = allocPage()
        writePage(page,
          serializeInterior(group.init.map { case (p, k) => (p, k) }, group.last._1))
        nextLevel :+= (page, group.last._2)
      }
      level = nextLevel
    }
    level.head._1
  }

  /** Write a table: `rows` must be sorted by ascending rowid. Registers the
    * table in sqlite_master. For columns declared INTEGER PRIMARY KEY the
    * caller must pass null in that column's slot and carry the value as the
    * rowid — real SQLite stores ipk columns ONLY in the rowid. */
  def writeTable(name: String, createSql: String,
      rows: Iterator[(Long, Seq[Any])]): Unit = {
    val root = buildTree(rows.map { case (rid, vs) => (rid, record(vs)) })
    master += (("table", name, name, root, createSql))
    ()
  }

  /** Pre-encoded-record sibling of [[writeTable]] — lets distributed sinks
    * serialize records map-side and hand the driver (rowid, bytes) pairs. */
  def writeTableEncoded(name: String, createSql: String,
      rows: Iterator[(Long, Array[Byte])]): Unit = {
    val root = buildTree(rows)
    master += (("table", name, name, root, createSql))
    ()
  }

  /** Write an index b-tree (e.g. the sqlite_autoindex backing a TEXT or
    * composite PRIMARY KEY / UNIQUE constraint — real SQLite refuses a
    * database that declares one without its index). `keys` must be sorted;
    * each entry is the indexed column values PLUS the rowid as last column.
    * Catalog-sized (single leaf); `sql` null registers it as an autoindex. */
  def writeIndex(name: String, table: String, keys: Seq[Seq[Any]]): Unit = {
    // index pages overflow at a LOWER threshold than table leaves
    // ((usable-12)*64/255 - 23); this writer doesn't build index overflow
    // chains, so refuse loudly rather than embed an oversized record a real
    // client would misparse
    val idxMaxLocal = (Usable - 12) * 64 / 255 - 23
    val cells = keys.map { k =>
      val rec = record(k)
      require(rec.length <= idxMaxLocal,
        s"index $name record too large for the single-leaf writer")
      varint(rec.length.toLong) ++ rec
    }
    require(cells.map(_.length + 2).sum + 8 <= Usable,
      s"index $name exceeds one leaf page (${keys.size} entries)")
    val page = allocPage()
    writePage(page, serializeIndexLeaf(cells))
    master += (("index", name, table, page, null))
    ()
  }

  /** Emit sqlite_master on page 1 plus the 100-byte header; close the file.
    * `applicationId` is the header word at offset 68 (GPKG magic etc.). */
  def finish(applicationId: Int = 0): Unit = {
    // master rows: (type, name, tbl_name, rootpage, sql) — oversized records
    // (a wide layer's CREATE TABLE) spill to overflow chains, and a catalog
    // that outgrows page 1's single leaf becomes a real b-tree whose root
    // interior sits on page 1; silently overwriting the header region with
    // cell content is never possible
    val cells = master.zipWithIndex.map { case ((typ, name, tbl, root, sql), i) =>
      val rec = record(Seq(typ, name, tbl, root.toLong, sql))
      val body = if (rec.length <= MaxLeafLocal) rec else spill(rec)
      varint(rec.length.toLong) ++ varint((i + 1).toLong) ++ body
    }
    val singleLeafUsed = 100 + 8 + cells.map(c => 2 + c.length).sum
    val page1: Array[Byte] =
      if (singleLeafUsed <= pageSize) serializeLeaf(cells.toSeq, isPage1 = true)
      else {
        // pack cells into normal leaves (grouping first, pages after), then
        // interior levels; the root lands on page 1
        var groups = Vector.empty[Vector[(Array[Byte], Long)]]
        var group = Vector.empty[(Array[Byte], Long)]
        var used = 8
        cells.zipWithIndex.foreach { case (c, i) =>
          if (used + 2 + c.length > Usable) {
            groups :+= group; group = Vector.empty; used = 8
          }
          group :+= ((c, i + 1L)); used += 2 + c.length
        }
        if (group.nonEmpty) groups :+= group
        // a single full leaf would make page 1 a ZERO-cell interior root
        // (rightmost pointer only) — a construct sqlite3 never emits and
        // strict readers may reject; split it so the root carries ≥1 cell
        if (groups.size == 1) {
          val half = groups.head.size / 2
          groups = Vector(groups.head.take(half), groups.head.drop(half))
        }
        val leaves = groups.map { g =>
          val p = allocPage()
          writePage(p, serializeLeaf(g.map(_._1), isPage1 = false))
          (p, g.last._2)
        }
        val fanout = (Usable - 12) / (2 + 13)
        val fanout1 = (Usable - 100 - 12) / (2 + 13)
        var level = leaves
        while (level.size > fanout1) {
          val groups0 = level.grouped(fanout).toVector
          val groups1 =
            if (groups0.size > 1 && groups0.last.size == 1) {
              val split = groups0(groups0.size - 2) ++ groups0.last
              val half = split.size / 2
              groups0.dropRight(2) :+ split.take(half) :+ split.drop(half)
            } else groups0
          // a single group here means fanout1 < level.size <= fanout: one
          // interior page would leave page 1 a zero-cell root (the construct
          // leaves are split to avoid) — split so the root carries >= 1 cell
          val groups =
            if (groups1.size == 1) {
              val half = groups1.head.size / 2
              Vector(groups1.head.take(half), groups1.head.drop(half))
            } else groups1
          level = groups.map { g =>
            val p = allocPage()
            writePage(p, serializeInterior(g.init, g.last._1))
            (p, g.last._2)
          }
        }
        serializeInterior(level.init, level.last._1, isPage1 = true)
      }
    // 100-byte header
    val bb = ByteBuffer.wrap(page1)
    val magic = "SQLite format 3".getBytes(StandardCharsets.US_ASCII) :+ 0.toByte
    System.arraycopy(magic, 0, page1, 0, 16)
    bb.putShort(16, pageSize.toShort)
    page1(18) = 1; page1(19) = 1 // legacy file format
    page1(21) = 64; page1(22) = 32; page1(23) = 32
    bb.putInt(24, 1) // change counter
    bb.putInt(28, nextPage - 1) // db size in pages
    bb.putInt(40, 1) // schema cookie
    bb.putInt(44, 4) // schema format
    bb.putInt(56, 1) // UTF-8
    bb.putInt(68, applicationId)
    bb.putInt(92, 1) // version-valid-for
    bb.putInt(96, 3045000) // sqlite version number stamp
    writePage(1, page1)
    raf.setLength((nextPage - 1).toLong * pageSize)
    raf.close()
  }

  /** Release the file without finishing it (a write that failed part-way);
    * a no-op after [[finish]]. */
  def close(): Unit = raf.close()
}
