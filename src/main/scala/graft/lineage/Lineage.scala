package graft.lineage

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException,
  OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** Resumable export with per-partition lineage + metrics (BASELINE.json
  * north_rule R4; the reference's nearest analogues are the celery task
  * status table polled at /tasks/status, API/tasks.py:23-82, and the
  * replication watermark, builder.py:733-735).
  *
  * Iceberg-emulated commit protocol (no Iceberg jar on the classpath):
  *  - each task writes its partition's rows to `parts/p<id>.tmp`, then
  *    atomically renames to `p<id>.jsonl` and drops a `p<id>.done` manifest
  *    row (partitionId, rowCount, bytes, status, wallMillis) — write-ahead +
  *    last-wins rename makes the per-partition commit idempotent;
  *  - resume lists committed partition ids and re-runs ONLY the missing ones
  *    (the anti-join of partitions against the lineage table);
  *  - `assemble` is every file sink's driver-side finish: it compacts the
  *    .done rows into the `lineage/` record (one JSON line per partition,
  *    written by the driver, no Spark job), takes the row count and
  *    envelope from them, has the format write header + parts + footer (or
  *    its b-tree / triple) at a temp path, renames it into place and drops
  *    `parts/`. A sink supplies only its row encoder and that writer.
  *
  * On a real cluster `parts/` is object storage and the rename is a
  * PUT-if-absent; the protocol is unchanged.
  */
object Lineage {

  final case class PartMeta(partitionId: Int, rowCount: Long, bytes: Long,
      status: String, wallMillis: Long)

  // Files.list requires close; materialize the listing then release the handle
  private def listDir(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Identity of a run for resume safety: partition count + input file set +
    * canonicalized plan hash. Parts are keyed by partition id, so resuming
    * against a DIFFERENT partitioning (changed maxPartitionBytes, AQE
    * re-plan, a grown staging table) would silently pair old parts with new
    * partition ids — wrong output with "committed" status. The run manifest
    * refuses that: a fingerprint mismatch discards all stale parts and
    * restarts clean. */
  def runFingerprint(df: DataFrame): String = runFingerprint(df, df, "")

  /** [[runFingerprint]] of `df`'s partitioning with the plan and input
    * files of `source`, plus `params`: for a frame whose plan carries
    * closures (the tile sinks' grouping functions hash by identity, so
    * two builds of one frame never match), `source` is the closure-free
    * frame it is built from and `params` what the build adds. */
  def runFingerprint(df: DataFrame, source: DataFrame, params: String): String = {
    // df.rdd finalizes the plan (under AQE this materializes intermediate
    // query stages); callers pass the SAME Dataset instance they export, so
    // the commit loop reuses this lazy rdd and its shuffle outputs — the
    // fingerprint does not cost a second execution
    val n = df.rdd.getNumPartitions
    val h = java.security.MessageDigest.getInstance("MD5")
    h.update(source.queryExecution.analyzed.semanticHash().toString
      .getBytes(StandardCharsets.UTF_8))
    h.update(source.inputFiles.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
    h.update(params.getBytes(StandardCharsets.UTF_8))
    s"$n-${h.digest().map("%02x".format(_)).mkString}"
  }

  /** Create parts/, validate the run manifest, and discard stale parts from
    * a run with a different fingerprint (or from a pre-manifest run — no
    * provenance means no safe resume). Returns the committed ids to skip. */
  private def prepareRun(fingerprint: String, outDir: String): Set[Int] = {
    val d = Paths.get(outDir, "parts")
    Files.createDirectories(d)
    val mf = d.resolve("_run.json")
    val json = s"""{"fingerprint":"$fingerprint"}"""
    val existing =
      if (Files.exists(mf))
        Some(new String(Files.readAllBytes(mf), StandardCharsets.UTF_8))
      else None
    val stale = existing match {
      case Some(e) => e != json
      case None => listDir(d).nonEmpty
    }
    if (stale) listDir(d).foreach(Files.delete)
    Files.write(mf, json.getBytes(StandardCharsets.UTF_8))
    committedParts(outDir)
  }

  def committedParts(outDir: String): Set[Int] = {
    val d = Paths.get(outDir, "parts")
    if (!Files.exists(d)) Set.empty
    else listDir(d)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("p") && n.endsWith(".done"))
      .map(n => n.stripPrefix("p").stripSuffix(".done").toInt)
      .toSet
  }

  /** Test-only fault hook: fire AFTER at least one sibling partition has
    * committed (bounded wait) — a fast failure cancels the stage before any
    * part lands, and the kill-and-resume tests then observe an empty (not
    * partial) commit, a race seen under full-suite load. */
  private def injectFault(outDir: String, pid: Int): Nothing = {
    val deadline = System.currentTimeMillis() + 10000
    while (committedParts(outDir).isEmpty &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    throw new RuntimeException(s"injected fault at partition $pid")
  }

  /** Export `lines` (single string column) to outDir, committing per
    * partition as `parts/p<id>.jsonl`, one line per row; skips partitions
    * already committed by a previous (killed) run. `failAtPartition`
    * injects a fault for the kill-and-resume test. */
  def exportResumable(
      lines: DataFrame,
      outDir: String,
      failAtPartition: Int = -1): Unit = {
    require(lines.schema.fields.length == 1, "expected a single string column")
    exportResumableBytes(lines, outDir,
      r => (r.getString(0) + "\n").getBytes(StandardCharsets.UTF_8),
      ext = "jsonl", failAtPartition = failAtPartition)
  }

  /** [[commitPartitions]] with a per-row encoder: each task encodes its
    * rows with the (serializable) `encode` closure and streams the bytes to
    * its part. `coords` accumulates the partition's envelope in the same
    * pass, so sinks that need a global envelope never re-scan. */
  def exportResumableBytes(
      df: DataFrame,
      outDir: String,
      encode: Row => Array[Byte],
      ext: String = "bin",
      failAtPartition: Int = -1,
      coords: Option[Row => Iterable[(Double, Double)]] = None): Unit =
    commitPartitions(df, outDir, ext, failAtPartition) { (it, w) =>
      var n = 0L
      var minX = Double.MaxValue; var minY = Double.MaxValue
      var maxX = Double.MinValue; var maxY = Double.MinValue
      it.foreach { r =>
        w.write(encode(r)); n += 1
        coords.foreach(_(r).foreach { case (x, y) =>
          if (x < minX) minX = x; if (x > maxX) maxX = x
          if (y < minY) minY = y; if (y > maxY) maxY = y
        })
      }
      (n, if (minX != Double.MaxValue) Some(Array(minX, minY, maxX, maxY)) else None)
    }

  /** The one commit loop: each task streams its partition through the
    * (serializable) `write`, which returns the partition's row count and
    * envelope, into `parts/p<id>.<ext>` under the write-ahead +
    * atomic-rename + manifest protocol above. A sink whose part needs a
    * trailer after its rows (the tile sinks' index runs) writes it here.
    * `fingerprint` defaults to [[runFingerprint]] of `df`. */
  def commitPartitions(
      df: DataFrame,
      outDir: String,
      ext: String,
      failAtPartition: Int = -1,
      fingerprint: Option[String] = None)(
      write: (Iterator[Row], OutputStream) => (Long, Option[Array[Double]])): Unit = {
    val done = prepareRun(fingerprint.getOrElse(runFingerprint(df)), outDir)
    val doneBc = df.sparkSession.sparkContext.broadcast(done)
    df.foreachPartition { (it: Iterator[Row]) =>
      val pid = TaskContext.getPartitionId()
      if (!doneBc.value.contains(pid)) {
        if (pid == failAtPartition) injectFault(outDir, pid)
        val t0 = System.currentTimeMillis()
        // tmp is attempt-keyed: concurrent attempts of one partition
        // (speculation, zombie task) each stream to their own file; the
        // atomic rename stays last-wins
        val attempt = TaskContext.get().taskAttemptId()
        val tmp = Paths.get(outDir, "parts", s"p$pid.a$attempt.tmp")
        val fin = Paths.get(outDir, "parts", s"p$pid.$ext")
        val w = new BufferedOutputStream(Files.newOutputStream(tmp))
        // a failed attempt leaves no tmp behind; committed parts stay
        val (n, env) =
          try try write(it, w) finally w.close()
          catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
        val sz = Files.size(tmp)
        Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        val envField = env.fold("")(e => s""","env":[${e.mkString(",")}]""")
        val meta = s"""{"partitionId":$pid,"rowCount":$n,"bytes":$sz,""" +
          s""""status":"committed","wallMillis":${System.currentTimeMillis() - t0}$envField}"""
        val mTmp = Paths.get(outDir, "parts", s"p$pid.done.tmp")
        Files.write(mTmp, meta.getBytes(StandardCharsets.UTF_8))
        Files.move(mTmp, Paths.get(outDir, "parts", s"p$pid.done"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    }
  }

  /** Committed part payload files with extension `ext`, in partition order. */
  def committedPartFiles(outDir: String, ext: String): Seq[Path] = {
    val d = Paths.get(outDir, "parts")
    if (!Files.exists(d)) Nil
    else listDir(d)
      .filter { p =>
        val n = p.getFileName.toString
        // exclude the _run.json manifest and attempt-keyed tmp files
        n.startsWith("p") && n.endsWith(s".$ext") &&
          n.stripPrefix("p").stripSuffix(s".$ext").forall(_.isDigit)
      }
      .sortBy(_.getFileName.toString.stripPrefix("p").stripSuffix(s".$ext").toInt)
  }

  private val ManifestField = """"(\w+)":(\[[^\]]*\]|"[^"]*"|[^,}]+)""".r

  /** The one parse of the `.done` rows: each manifest's metrics plus the
    * envelope its partition recorded, if any, in partition order. */
  private def manifests(outDir: String): Seq[(PartMeta, Option[Array[Double]])] =
    listDir(Paths.get(outDir, "parts"))
      .filter(_.getFileName.toString.endsWith(".done"))
      .map { p =>
        val f = ManifestField
          .findAllMatchIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
          .map(m => m.group(1) -> m.group(2)).toMap
        (PartMeta(f("partitionId").toInt, f("rowCount").toLong, f("bytes").toLong,
          f("status").stripPrefix("\"").stripSuffix("\""), f("wallMillis").toLong),
          f.get("env").map(_.stripPrefix("[").stripSuffix("]").split(',').map(_.toDouble)))
      }
      .sortBy(_._1.partitionId)

  /** Remove the part payloads + manifests after the final artifact is
    * assembled — a SUCCEEDED export must not leave .done files that would
    * make a later export to the same path silently reuse stale data (and
    * must not keep the dataset duplicated on disk). The compacted `lineage`
    * record survives for accounting. */
  def cleanParts(outDir: String): Unit = {
    val d = Paths.get(outDir, "parts")
    if (Files.exists(d)) {
      listDir(d).foreach(Files.delete)
      Files.delete(d)
    }
  }

  /** Compact per-partition manifests into the lineage record; returns its
    * rows as a local DataFrame (no Spark job). */
  def finish(spark: SparkSession, outDir: String): DataFrame =
    compact(spark, outDir, manifests(outDir).map(_._1))

  /** The lineage record's one file: a JSON line per [[PartMeta]], readable
    * with `spark.read.schema(Encoders.product[PartMeta].schema).json`. */
  private val RecordFile = "manifests.json"

  /** The driver writes the record: a few bytes per partition need no
    * Spark job. `status` is the commit loop's own constant, so it needs no
    * escaping. Written through [[replaceAtomically]]; anything else in
    * `lineage/` (an earlier run's record) is removed after it lands. */
  private def compact(spark: SparkSession, outDir: String,
      metas: Seq[PartMeta]): DataFrame = {
    val dir = Paths.get(outDir, "lineage")
    Files.createDirectories(dir)
    val out = dir.resolve(RecordFile)
    replaceAtomically(out) { tmp =>
      Files.write(tmp, metas.map { m =>
        s"""{"partitionId":${m.partitionId},"rowCount":${m.rowCount},""" +
          s""""bytes":${m.bytes},"status":"${m.status}",""" +
          s""""wallMillis":${m.wallMillis}}\n"""
      }.mkString.getBytes(StandardCharsets.UTF_8))
    }
    listDir(dir).filterNot(_ == out).foreach(Files.delete)
    spark.createDataFrame(metas)
  }

  /** What an export committed: the row count and the merged envelope
    * (min x, min y, max x, max y) from its manifests, and its part payloads
    * in partition order. */
  final case class Committed(rows: Long, envelope: Option[Array[Double]],
      parts: Seq[Path])

  /** The one driver-side finish of every file sink: compact the manifests
    * into the `lineage` record, let the format `write` its final file at a
    * temp path from the committed parts, rename it atomically to `out`,
    * then drop `parts/`. Returns the committed row count; starts no Spark
    * job. */
  def assemble(spark: SparkSession, outDir: String, ext: String, out: Path)(
      write: (Path, Committed) => Unit): Long =
    assembleParts(spark, outDir, ext) { c =>
      replaceAtomically(out)(write(_, c))
      c.rows
    }

  /** [[assemble]] for sinks that build several files from one set of parts
    * (the shapefile's three triples, both tile archives): `write` renames
    * its own outputs into place; `parts/` goes once it returns. */
  def assembleParts[A](spark: SparkSession, outDir: String, ext: String)(
      write: Committed => A): A = {
    val ms = manifests(outDir)
    compact(spark, outDir, ms.map(_._1))
    val envs = ms.flatMap(_._2)
    val committed = Committed(ms.map(_._1.rowCount).sum,
      if (envs.isEmpty) None
      else Some(Array(envs.map(_(0)).min, envs.map(_(1)).min,
        envs.map(_(2)).max, envs.map(_(3)).max)),
      committedPartFiles(outDir, ext))
    val result = write(committed)
    cleanParts(outDir)
    result
  }

  /** The temp-and-rename step of every single-file output: `write` builds
    * the file at `<out>.tmp`, which is renamed atomically over `out` only
    * once it is whole. A failed write removes the temp file and leaves any
    * earlier `out` untouched. */
  def replaceAtomically[A](out: Path)(write: Path => A): A = {
    Option(out.getParent).foreach(Files.createDirectories(_))
    val tmp = Paths.get(s"$out.tmp")
    val result =
      try write(tmp)
      catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    result
  }

  /** [[assemble]] for formats that are `header ++ parts ++ footer`. */
  def assembleConcat(spark: SparkSession, outDir: String, ext: String, out: Path)(
      header: Committed => Array[Byte], footer: Array[Byte]): Long =
    assemble(spark, outDir, ext, out) { (tmp, c) =>
      val w = new BufferedOutputStream(Files.newOutputStream(tmp))
      try {
        w.write(header(c))
        c.parts.foreach { p => Files.copy(p, w); () }
        w.write(footer)
      } finally w.close()
    }

  /** One length-prefixed record (4-byte big-endian length, then the bytes):
    * the framing of parts whose records the driver must split again. */
  def frame(rec: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(4 + rec.length).putInt(rec.length).put(rec).array()

  /** The records of [[frame]]d parts, in order; each part is open only
    * while its records are read. */
  def frames(parts: Seq[Path]): Iterator[Array[Byte]] =
    parts.iterator.flatMap { p =>
      val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(p)))
      new Iterator[Array[Byte]] {
        private var nextLen = readLen()
        private def readLen(): Int =
          try in.readInt() catch { case _: EOFException => in.close(); -1 }
        def hasNext: Boolean = nextLen >= 0
        def next(): Array[Byte] = {
          val b = new Array[Byte](nextLen)
          in.readFully(b)
          nextLen = readLen()
          b
        }
      }
    }

  /** Read back all committed lines (the export's logical output). */
  def readExport(spark: SparkSession, outDir: String): DataFrame =
    spark.read.text(s"$outDir/parts/*.jsonl")
}
