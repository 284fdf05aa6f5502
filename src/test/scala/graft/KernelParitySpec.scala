package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{GeoCols, Kernels}
import graft.geo.{Fixtures, MultiPolygon}
import graft.operators.{Dedup, Similarity}
import graft.plan.PlanBuilder
import graft.sinks.FeatureModel

/** Every hot-path kernel call must produce EXACTLY the values of the Column
  * tree or UDF it replaced (null-safe equality, bit-exact doubles), and each
  * test pins what the call gives on null input. The trees stay in the codebase
  * (GeoCols.mortonCol/pipCol/featureGeomCols/featureIntersectsRingsUdf,
  * Dedup.minhashCol, Similarity.dotSql's shape) precisely so this spec can
  * hold the kernels to them; the DuckDB oracle gates then prove the same end
  * to end. Test names keep the names of the round-6 expression classes the
  * calls replaced. */
class KernelParitySpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def mismatches(df: DataFrame, a: Column, b: Column): Long =
    df.filter(not(a <=> b)).count()

  /** Rows with a null pid, lon or lat (pids 46/48 are a line and a polygon). */
  private lazy val nullPoints: DataFrame =
    Seq[(Option[Long], Option[Double], Option[Double])](
      (None, Some(10.0), Some(20.0)),
      (Some(48L), None, Some(20.0)),
      (Some(46L), Some(10.0), None),
      (None, None, None)).toDF("pid", "lon", "lat")

  /** `kernel` ≡ `tree` on the derived points, and on [[nullPoints]] null
    * exactly where lon or lat is: the point trees' CASE terms and
    * greatest/least clamps turn a null coordinate into false or cell 0,
    * where the kernel calls propagate null (a filter drops the row either
    * way). */
  private def assertPointParity(tree: Column, kernel: Column, clue: String = ""): Unit = {
    assert(mismatches(GeoCols.derivedPoints(spark, sfDir), tree, kernel) == 0, clue)
    assert(nullPoints.filter(kernel.isNull =!=
      (col("lon").isNull || col("lat").isNull)).count() == 0, clue)
  }

  /** The embeddings plus a null vector and a vector with a null element. */
  private def embeddings: DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val one = emb.filter(col("vec_id") === 0)
    emb.union(one.select(lit(-1L).as("vec_id"),
        lit(null).cast(emb.schema("embedding").dataType).as("embedding")))
      .union(one.select(lit(-2L).as("vec_id"), transform(col("embedding"),
        (x, i) => when(i === 3, lit(null)).otherwise(x)).as("embedding")))
  }

  test("PidRingsExpr ≡ featureGeomCols pid-provider rings tree") {
    val kind = GeoCols.kindPidCol(col("pid"))
    val treeRings = GeoCols.featureGeomCols(kind, col("lon"), col("lat"),
      GeoCols.uPidCol(col("pid")), GeoCols.mPidCol(col("pid")))
      .collectFirst { case ("rings", c) => c }.get
    val kernel = Kernels.pidRings(col("pid"), col("lon"), col("lat"))
    val df = GeoCols.derivedPoints(spark, sfDir).withColumn("kind", kind)
    assert(mismatches(df, treeRings, kernel) == 0)
    // the tree yields rings of null coordinates on null input; the kernel
    // yields null, and derivedFeatures keeps its rings column non-null
    assert(nullPoints.filter(kernel.isNotNull).count() == 0)
    assert(!GeoCols.derivedFeatures(spark, sfDir).schema("rings").nullable)
  }

  test("CellIdExpr ≡ unrolled morton cell tree (res 4 and 7)") {
    for (res <- Seq(4, 7)) {
      val tree = shiftleft(GeoCols.mortonCol(res,
        GeoCols.cellXCol(res, col("lon")), GeoCols.cellYCol(res, col("lat"))),
        5) + lit(res.toLong)
      assertPointParity(tree, Kernels.cellId(res, col("lon"), col("lat")),
        s"res $res")
    }
  }

  test("PointInMultiPolygonExpr ≡ pipCol ray-cast tree") {
    val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
    val tree = geom.polys.map(GeoCols.pipCol(_, col("lon"), col("lat")))
      .reduce(_ || _)
    assertPointParity(tree,
      Kernels.pointInMultiPolygon(geom, col("lon"), col("lat")))
  }

  test("region refine ≡ pipCol per catalog region") {
    // one candidate per catalog position: refine-flagged it is the exact
    // test, unflagged (a full cover cell) it names the region unconditionally
    val catalog = Fixtures.regions.sortBy(_.cid)
    def cids(cands: Column) =
      Kernels.regionCids(catalog, cands, col("lon"), col("lat"))
    val pts = GeoCols.derivedPoints(spark, sfDir)
    catalog.zipWithIndex.foreach { case (r, pos) =>
      val cid = lit(r.cid.toString)
      val tree = when(GeoCols.pipCol(r.poly, col("lon"), col("lat")), cid)
        .otherwise(lit("0"))
      assert(mismatches(pts, tree, cids(array(lit(pos * 2 + 1)))) == 0,
        s"region at position $pos")
      assert(mismatches(pts, cid, cids(array(lit(pos * 2)))) == 0,
        s"full cell at position $pos")
    }
    assert(pts.filter(not(cids(array(lit(1))) === "0")).count() > 0,
      "no point inside the first region")
    // a null coordinate, or a point whose cell has no cover row, is "0"
    assert(nullPoints.filter((col("lon").isNull || col("lat").isNull) &&
      not(cids(array(lit(1), lit(2))) === "0")).count() == 0)
    assert(pts.filter(not(cids(lit(null).cast("array<int>")) === "0"))
      .count() == 0)
  }

  test("feature intersect ≡ featureIntersectsRingsUdf") {
    val geom = MultiPolygon(Seq(Fixtures.requestPolygon))
    val f = GeoCols.derivedFeatures(spark, sfDir)
      .select(col("kind"), col("lon"), col("lat"), col("rings"))
    val some = f.limit(20)
    val df = f
      .union(some.withColumn("lon", lit(null).cast("double")))
      .union(some.withColumn("lat", lit(null).cast("double")))
    val cols = Seq(col("kind"), col("lon"), col("lat"), col("rings"))
    val udfCol = GeoCols.featureIntersectsRingsUdf(geom)(
      cols(0), cols(1), cols(2), cols(3))
    val kernel = Kernels.featureIntersects(geom, cols(0), cols(1), cols(2), cols(3))
    assert(mismatches(df, udfCol, kernel) == 0)
    assert(df.filter(kernel).count() > 0, "no intersecting feature exercised")
  }

  test("GeoJSON geometry kernel ≡ the fromRings + geoJson row UDF") {
    // the row UDF the kernel replaced, whose body moved to FeatureModel
    val rowUdf = udf((kind: String, lon: Double, lat: Double,
        rings: scala.collection.Seq[scala.collection.Seq[Double]],
        roles: scala.collection.Seq[Int]) =>
      FeatureModel.geoJson(FeatureModel.fromRings(kind, lon, lat, rings, roles)))
    val f = GeoCols.derivedFeatures(spark, sfDir)
      .select(col("kind"), col("lon"), col("lat"), col("rings"), col("roles"))
    // toGeoJsonFeature passes empty roles for frames without them: all outer
    val df = f.union(f.limit(200).withColumn("roles", array().cast("array<int>")))
    val cols = Seq("kind", "lon", "lat", "rings", "roles").map(col)
    def kernel(c: Seq[Column]) = Kernels.geoJsonGeom(c(0), c(1), c(2), c(3), c(4))
    assert(mismatches(df, rowUdf(cols: _*), kernel(cols)) == 0)
    // every geometry type, polygons with holes and multi-part shapes occur
    val types = df.select(regexp_extract(kernel(cols), "^\\{\"type\":\"(\\w+)\"", 1))
      .distinct().as[String].collect().toSet
    assert(types == Set("Point", "LineString", "MultiLineString", "Polygon", "MultiPolygon"))
    assert(f.filter(array_contains(col("roles"), 1)).count() > 0, "no hole")
    // a null argument gives null (the row UDF threw on null rings)
    val some = f.limit(20)
    val nulls = Seq("kind" -> "string", "lon" -> "double", "lat" -> "double",
        "rings" -> "array<array<double>>", "roles" -> "array<int>")
      .map { case (c, t) => some.withColumn(c, lit(null).cast(t)) }.reduce(_ union _)
    assert(nulls.filter(kernel(cols).isNotNull).count() == 0)
  }

  test("cell membership ≡ Column.isin over one set of cells") {
    val cells = PlanBuilder.coverCells(MultiPolygon(Seq(Fixtures.requestPolygon)))
      ._2.toSeq.sorted
    val gaps = cells.sliding(2).collect { case Seq(a, b) if b - a > 1 => a + 1 }
      .take(20).toSeq
    assert(gaps.nonEmpty, "no absent id between the cover's cells")
    val probes = Seq(Long.MinValue, cells.head - 1, cells.head, cells.last,
      cells.last + 1, Long.MaxValue) ++ gaps
    val df = GeoCols.derivedPoints(spark, sfDir)
      .select(Kernels.cellId(PlanBuilder.CoverRes, col("lon"), col("lat")).as("cell"))
      .union((probes.map(Option(_)) :+ None).toDF("cell"))
    for (set <- Seq(cells, Seq.empty[Long]))
      assert(mismatches(df, col("cell").isin(set: _*),
        Kernels.cellIn(set, col("cell"))) == 0, s"${set.size} cells")
    assert(df.filter(Kernels.cellIn(cells, col("cell"))).count() > 0,
      "no member cell exercised")
    assert(df.filter(col("cell").isNull &&
      Kernels.cellIn(cells, col("cell")).isNull).count() == 1)
  }

  test("DotProductExpr ≡ unrolled 64-term dot tree") {
    val emb = embeddings
    val tree = (0 until Similarity.Dims).map(i =>
      element_at(col("embedding"), i + 1).cast("double") *
        element_at(col("embedding"), i + 1).cast("double")).reduce(_ + _)
    assert(mismatches(emb, tree,
      Similarity.dotCol(col("embedding"), col("embedding"))) == 0)
    // cross product against a shifted copy (a ≠ b case)
    val pair = emb.withColumn("e2", reverse(col("embedding")))
    val treeAB = (0 until Similarity.Dims).map(i =>
      element_at(col("embedding"), i + 1).cast("double") *
        element_at(col("e2"), i + 1).cast("double")).reduce(_ + _)
    assert(mismatches(pair, treeAB,
      Similarity.dotCol(col("embedding"), col("e2"))) == 0)
  }

  test("SignBucketExpr ≡ unrolled hyperplane-sign tree") {
    val hp = Similarity.hyperplanes(Similarity.Planes)
    val tree = (0 until Similarity.Planes).map { j =>
      val proj = (0 until Similarity.ProjDims).map(i =>
        element_at(col("embedding"), i + 1).cast("double") * lit(hp(j)(i)))
        .reduce(_ + _)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    assert(mismatches(embeddings, tree,
      Similarity.bucketCol(col("embedding"))) == 0)
  }

  test("array<double> vectors are cast to array<float>, never read as float storage") {
    // the declared array<float> input type makes the analyzer cast; float →
    // double → float round-trips exactly, so results must be bit-identical
    val emb = embeddings.withColumn("d", transform(col("embedding"), _.cast("double")))
    assert(mismatches(emb, Similarity.dotCol(col("embedding"), col("embedding")),
      Similarity.dotCol(col("d"), col("d"))) == 0)
    assert(mismatches(emb, Similarity.bucketCol(col("embedding")),
      Similarity.bucketCol(col("d"))) == 0)
  }

  test("kernel minhash signature ≡ per-i array_min transform columns") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sig = Dedup.signatures(docs)
    val withIds = sig.withColumn("shids",
      transform(col("sh"), s => graft.operators.TextOps.tokenIdCol(s)))
    val bad = (0 until Dedup.NumHashes).map { i =>
      mismatches(withIds, col(s"mh$i"), Dedup.minhashCol(col("shids"), i))
    }.sum
    assert(bad == 0)
  }
}
