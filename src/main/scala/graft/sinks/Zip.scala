package graft.sinks

import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

/** Streaming zip packaging — the reference's export-upload step zips each
  * category's format outputs before shipping (zipfly streaming zips,
  * src/app.py:1355-1385). Entries stream through a fixed buffer, so memory
  * is O(buffer) regardless of export size; the S3 upload half of S9 stays
  * out of engine scope (object-store client, not query/data processing).
  *
  * Deterministic: entries walk in sorted relative-path order with a fixed
  * timestamp, so identical exports zip to identical archives (the same
  * property every other sink here has). */
object Zip {

  // setTimeLocal is timezone-independent (setTime(millis) converts through
  // the JVM default zone — same export, different bytes per host)
  private val FixedTime = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)

  /** One gzip member of `b` — the tile-payload and PMTiles-directory
    * compression shared by the MVT, PMTiles and MBTiles sinks. */
  private[sinks] def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  /** Zip `dir`'s file tree into `out` (paths relative to `dir`); skips
    * `_SUCCESS`/`.crc`/lineage bookkeeping like the reference's uploader —
    * the archive ships format outputs, not pipeline-internal accounting.
    * Returns the entry count. */
  def zipDir(dir: String, out: String, level: Int = 6): Long = {
    val root = Paths.get(dir)
    val files: Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.filter(Files.isRegularFile(_))
        .filterNot { p =>
          val n = p.getFileName.toString
          val rel = root.relativize(p).toString
          n == "_SUCCESS" || n.endsWith(".crc") ||
            rel.split('/').contains("lineage") || rel.split('/').contains("parts")
        }
        .sortBy(p => root.relativize(p).toString)
      finally s.close()
    }
    Option(Paths.get(out).getParent).foreach(Files.createDirectories(_))
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(out)))
    zos.setLevel(level)
    val buf = new Array[Byte](64 * 1024)
    try {
      files.foreach { p =>
        val e = new ZipEntry(root.relativize(p).toString)
        e.setTimeLocal(FixedTime)
        zos.putNextEntry(e)
        val in = Files.newInputStream(p)
        try {
          var n = in.read(buf)
          while (n > 0) { zos.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        zos.closeEntry()
      }
    } finally zos.close()
    files.size.toLong
  }
}
