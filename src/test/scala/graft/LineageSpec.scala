package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.lineage.Lineage

/** Kill-and-resume: a failed export must resume from per-partition lineage
  * and produce output identical to a single-shot run (north_rule R4). */
class LineageSpec extends SparkSpec {

  private def lines = spark.range(0, 1000, 1, 8)
    .select(concat(lit("""{"i":"""), col("id"), lit("}")).as("line"))

  test("clean export commits all partitions with metrics") {
    val dir = Files.createTempDirectory("exp").toString
    Lineage.exportResumable(lines, dir)
    var lineage: DataFrame = null
    assert(jobsOf { lineage = Lineage.finish(spark, dir) } == 0,
      "the driver writes the lineage record")
    // the record reads back as the manifests' rows through the PartMeta schema
    val back = spark.read.schema(Encoders.product[Lineage.PartMeta].schema)
      .json(s"$dir/lineage")
    assert(back.collect().toSet == lineage.collect().toSet)
    assert(lineage.count() == 8)
    assert(lineage.filter(col("status") =!= "committed").count() == 0)
    assert(lineage.agg(sum("rowCount")).collect().head.getLong(0) == 1000)
    assert(Lineage.readExport(spark, dir).count() == 1000)
  }

  test("kill mid-export, resume completes identically") {
    val dir = Files.createTempDirectory("exp2").toString
    // first attempt dies at partition 5
    intercept[Exception] {
      Lineage.exportResumable(lines, dir, failAtPartition = 5)
    }
    val committedBefore = Lineage.committedParts(dir)
    assert(committedBefore.nonEmpty && committedBefore.size < 8,
      s"expected partial commit, got $committedBefore")
    // resume: skips committed partitions, completes the rest
    Lineage.exportResumable(lines, dir)
    assert(Lineage.committedParts(dir).size == 8)
    val got = Lineage.readExport(spark, dir)
      .collect().map(_.getString(0)).sorted.toSeq
    val expect = (0 until 1000).map(i => s"""{"i":$i}""").sorted
    assert(got == expect)
    // idempotent: a third run does nothing and output is unchanged
    Lineage.exportResumable(lines, dir)
    assert(Lineage.readExport(spark, dir).count() == 1000)
  }

  test("resume after a partition-count change refuses stale parts and stays exact") {
    // kill a 8-partition run, then resume with a 5-partition plan: the old
    // parts pair partition ids with DIFFERENT row sets — blind reuse would
    // duplicate some rows and drop others with "committed" status. The run
    // manifest must detect the changed fingerprint and restart clean.
    def linesN(n: Int) = spark.range(0, 1000, 1, n)
      .select(concat(lit("""{"i":"""), col("id"), lit("}")).as("line"))
    val dir = Files.createTempDirectory("exp3").toString
    intercept[Exception] {
      Lineage.exportResumable(linesN(8), dir, failAtPartition = 5)
    }
    assert(Lineage.committedParts(dir).nonEmpty)
    Lineage.exportResumable(linesN(5), dir)
    assert(Lineage.committedParts(dir).size == 5,
      "stale 8-partition parts must not survive the 5-partition resume")
    val got = Lineage.readExport(spark, dir)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == (0 until 1000).map(i => s"""{"i":$i}""").sorted)
  }

  test("same-fingerprint resume still reuses committed parts (no needless rework)") {
    val dir = Files.createTempDirectory("exp4").toString
    intercept[Exception] {
      Lineage.exportResumable(lines, dir, failAtPartition = 6)
    }
    val before = Lineage.committedParts(dir)
    assert(before.nonEmpty)
    Lineage.exportResumable(lines, dir)
    // the previously committed parts were reused, not rewritten
    assert(Lineage.committedParts(dir).size == 8)
    assert(before.subsetOf(Lineage.committedParts(dir)))
    assert(Lineage.readExport(spark, dir).count() == 1000)
  }

  test("binary export with changed input files restarts clean (fingerprint covers inputFiles)") {
    import org.apache.spark.sql.SaveMode
    val src = Files.createTempDirectory("expsrc").toString
    spark.range(0, 100, 1, 4).write.mode(SaveMode.Overwrite).parquet(src)
    val dir = Files.createTempDirectory("exp5").toString
    def df = spark.read.parquet(src).orderBy("id")
    val enc = (r: org.apache.spark.sql.Row) => s"${r.getLong(0)}\n".getBytes
    intercept[Exception] {
      Lineage.exportResumableBytes(df.repartition(4), dir, enc, ext = "txt",
        failAtPartition = 2)
    }
    assert(Lineage.committedParts(dir).nonEmpty)
    // the table is REWRITTEN (grown) between kill and resume
    spark.range(0, 120, 1, 4).write.mode(SaveMode.Overwrite).parquet(src)
    Lineage.exportResumableBytes(df.repartition(4), dir, enc, ext = "txt")
    val got = Lineage.committedPartFiles(dir, "txt")
      .flatMap(p => new String(Files.readAllBytes(p)).split("\n"))
      .map(_.toLong).sorted
    assert(got == (0L until 120L), s"stale parts leaked: ${got.size} rows")
  }

  test("assemble: kill at a partition, resume, file byte-identical with manifest count and envelope") {
    import java.nio.file.Paths
    val rows = spark.range(0, 1000, 1, 8)
      .select(col("id"), (col("id") * 0.37 - 120.0).as("x"),
        (col("id") % 97 * 0.5 - 30.0).as("y"))
    val enc = (r: org.apache.spark.sql.Row) =>
      s"${r.getLong(0)},${r.getDouble(1)},${r.getDouble(2)}\n".getBytes("UTF-8")
    val coords = Some((r: org.apache.spark.sql.Row) => Seq((r.getDouble(1), r.getDouble(2))))
    var env: Option[Seq[Double]] = None
    def assembled(dir: String): (Long, Array[Byte]) = {
      val out = Paths.get(dir, "export.txt")
      val n = Lineage.assembleConcat(spark, dir, "txt", out)(
        c => { env = c.envelope.map(_.toSeq); s"rows=${c.rows}\n".getBytes("UTF-8") },
        "end\n".getBytes("UTF-8"))
      assert(!Files.exists(Paths.get(dir, "parts")), "parts/ removed")
      assert(Files.exists(Paths.get(dir, "lineage")), "lineage/ kept")
      (n, Files.readAllBytes(out))
    }
    val clean = Files.createTempDirectory("asm1").toString
    Lineage.exportResumableBytes(rows, clean, enc, ext = "txt", coords = coords)
    val (n1, ref) = assembled(clean)

    val dir = Files.createTempDirectory("asm2").toString
    intercept[Exception] {
      Lineage.exportResumableBytes(rows, dir, enc, ext = "txt",
        failAtPartition = 5, coords = coords)
    }
    val before = Lineage.committedParts(dir)
    assert(before.nonEmpty && before.size < 8, s"expected partial commit, got $before")
    assert(!Files.exists(Paths.get(dir, "export.txt")), "no final file on failure")
    Lineage.exportResumableBytes(rows, dir, enc, ext = "txt", coords = coords)
    val (n2, got) = assembled(dir)

    assert(java.util.Arrays.equals(got, ref), "resumed file differs from a clean run")
    val body = new String(got, "UTF-8")
    assert(body.startsWith("rows=1000\n") && body.endsWith("end\n"))
    assert(n1 == 1000 && n2 == 1000)
    val xy = rows.collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(env.contains(Seq(xy.map(_._1).min, xy.map(_._2).min,
      xy.map(_._1).max, xy.map(_._2).max)))
  }
}
