package graft

import org.apache.spark.sql.functions._
import graft.functions.GeoCols
import graft.geo.{Cell, Fixtures, Geo}
import graft.operators.{Knn, SpatialJoin}

/** Column-expression ↔ Scala-kernel parity, and distributed operators vs
  * plain-Scala oracles on the derived point set. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val points = GeoCols.derivedPoints(spark, sfDir)
    .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq

  test("entry() flagship returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("derived points are in range and deterministic") {
    assert(points.nonEmpty)
    assert(points.forall { case (_, lon, lat) =>
      lon >= -180 && lon < 180 && lat >= -85 && lat < 85 })
    val again = GeoCols.derivedPoints(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(again == points.toSet)
  }

  test("pipCol matches the Scala kernel on all derived points") {
    val poly = Fixtures.requestPolygon
    val sparkIn = GeoCols.derivedPoints(spark, sfDir)
      .filter(GeoCols.pipCol(poly, col("lon"), col("lat")))
      .select("pid").collect().map(_.getLong(0)).toSet
    val oracleIn = points.filter { case (_, lon, lat) =>
      Geo.pointInPolygon(lon, lat, poly) }.map(_._1).toSet
    assert(sparkIn == oracleIn)
  }

  test("cellCol matches Cell.cellAt on all derived points") {
    val got = GeoCols.derivedPoints(spark, sfDir)
      .select(col("pid"), GeoCols.cellCol(7, col("lon"), col("lat")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    points.foreach { case (pid, lon, lat) =>
      assert(got(pid) == Cell.cellAt(7, lon, lat), s"pid=$pid")
    }
  }

  test("haversineMetersCol ≈ kernel haversine") {
    val (qlon, qlat) = (10.0, 20.0)
    val got = GeoCols.derivedPoints(spark, sfDir).limit(200)
      .select(col("pid"), col("lon"), col("lat"),
        GeoCols.haversineMetersCol(col("lon"), col("lat"), lit(qlon), lit(qlat)).as("d"))
      .collect()
    got.foreach { r =>
      val expect = Geo.haversineMeters(r.getDouble(1), r.getDouble(2), qlon, qlat)
      assert(math.abs(r.getDouble(3) - expect) < 1e-6 * math.max(1.0, expect))
    }
  }

  /** Plain-Scala oracle: ascending distinct cids of the regions holding the
    * point, "0" when none. */
  private def oracleCids(regions: Seq[Fixtures.Region], lon: Double, lat: Double): String = {
    val cids = regions.filter(r => Geo.pointInPolygon(lon, lat, r.poly)).map(_.cid)
      .distinct.sorted
    if (cids.isEmpty) "0" else cids.mkString(",")
  }

  /** assignRegions over `regions` vs the plain-Scala PIP oracle, per point. */
  private def assignedMatchesOracle(regions: Seq[Fixtures.Region]): Map[Long, String] = {
    val got = SpatialJoin.assignRegions(spark, GeoCols.derivedPoints(spark, sfDir),
        regions)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == points.size)
    points.foreach { case (pid, lon, lat) =>
      assert(got(pid) == oracleCids(regions, lon, lat), s"pid=$pid ($lon,$lat)")
    }
    got
  }

  test("assignRegions matches plain-Scala PIP oracle (incl. empty→0 default)") {
    val got = assignedMatchesOracle(Fixtures.regions)
    // fixture sanity: multi-membership and no-membership both occur
    assert(got.values.exists(_.contains(",")), "no overlapping regions exercised")
    assert(got.values.exists(_ == "0"), "no empty-default exercised")
  }

  test("assignRegions over an empty catalog gives every point cids = 0") {
    val got = assignedMatchesOracle(Nil)
    assert(got.values.forall(_ == "0"))
  }

  test("assignRegions over sparse and negative cids matches the PIP oracle") {
    val ids = Seq(-3, 5, 900, 2000000)
    val regions = Fixtures.regions.take(ids.size).zip(ids)
      .map { case (r, id) => r.copy(cid = id) }
    val got = assignedMatchesOracle(regions)
    assert(got.values.exists(_ != "0"), "no region membership exercised")
  }

  // one bitmask word holds 64 catalog positions: 63/64/65 regions straddle
  // the first word boundary, 254 regions use four words
  for (n <- Seq(1, 63, 64, 65, 254)) {
    test(s"assignRegions over a $n-region catalog matches the PIP oracle") {
      val got = assignedMatchesOracle(TestCatalogs.regions254.take(n))
      assert(got.values.exists(_.split(",").contains(n.toString)),
        s"the last position (cid $n) is never assigned")
    }
  }

  test("assignRegions over a catalog with a repeated cid lists it once") {
    // of two overlapping regions, the first's polygon again under the
    // second's cid: a point in both matches two positions with one cid
    def inBoth(a: Fixtures.Region, b: Fixtures.Region) = points.exists {
      case (_, lon, lat) =>
        Geo.pointInPolygon(lon, lat, a.poly) && Geo.pointInPolygon(lon, lat, b.poly)
    }
    val Seq(r1, r2) = Fixtures.regions.combinations(2).find(p => inBoth(p(0), p(1))).get
    assignedMatchesOracle(Fixtures.regions :+ r1.copy(cid = r2.cid))
  }

  test("assignRegions reads no cell column the points carry (res-4 cells)") {
    // Knn buckets points at res 4; the kernel computes its own res-7 cell,
    // so a carried `cell` of another resolution cannot void the match
    val withCell = GeoCols.derivedPoints(spark, sfDir)
      .withColumn("cell", GeoCols.cellCol(4, col("lon"), col("lat")))
    val got = SpatialJoin.assignRegions(spark, withCell)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == points.size)
    points.foreach { case (pid, lon, lat) =>
      assert(got(pid) == oracleCids(Fixtures.regions, lon, lat), s"pid=$pid ($lon,$lat)")
    }
    assert(got.values.exists(_ != "0"), "no region membership exercised")
  }

  test("assignRegions keeps one output row per input row (duplicated pids)") {
    // every point twice: no per-pid aggregation folds the pair into one row
    val twice = GeoCols.derivedPoints(spark, sfDir)
    val got = SpatialJoin.assignRegions(spark, twice.union(twice))
      .collect().map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
    assert(got.size == points.size)
    points.foreach { case (pid, lon, lat) =>
      assert(got(pid).map(_._2).toSeq == Seq.fill(2)(oracleCids(Fixtures.regions, lon, lat)),
        s"pid=$pid ($lon,$lat)")
    }
  }

  test("60,000 points in one res-7 cell: no join, no exchange, oracle-exact") {
    // a cell the first region covers only partly, so every point reaches the
    // exact refine
    val cell = Cell.cover(Fixtures.regions.head.poly, 7)._2.min
    val (x, y) = Cell.xyOf(cell)
    val (w, h) = (360.0 / 128, 180.0 / 128)
    val rng = new Fixtures.Lcg(77L)
    val dense = (0L until 60000L).map { pid =>
      (pid, -180.0 + w * (x + 0.001 + 0.998 * rng.nextDouble()),
        -90.0 + h * (y + 0.001 + 0.998 * rng.nextDouble()))
    }
    assert(dense.forall { case (_, lon, lat) => Cell.cellAt(7, lon, lat) == cell })
    val assigned = SpatialJoin.assignRegions(spark, dense.toDF("pid", "lon", "lat"))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(l =>
      l.contains("Join") || l.contains("Exchange") || l.contains("Aggregate")),
      s"expected no join, exchange or aggregate:\n$plan")
    val got = assigned.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == dense.size)
    dense.foreach { case (pid, lon, lat) =>
      assert(got(pid) == oracleCids(Fixtures.regions, lon, lat), s"pid=$pid ($lon,$lat)")
    }
    assert(got.values.toSet.size > 1, "the refine never split the cell")
  }

  test("knn with a 100-query TABLE equals the brute oracle (mixed round retirement)") {
    // queries spread worldwide: different queries satisfy in different
    // expansion rounds, exercising the per-query radius state machine the
    // 4-query gate barely touches
    val rng = new Fixtures.Lcg(909L)
    val qs = (1 to 100).map(q =>
      (q, -179.0 + 358.0 * rng.nextDouble(), -84.0 + 168.0 * rng.nextDouble()))
    val k = 5
    val got = Knn.knn(GeoCols.derivedPoints(spark, sfDir), qs.toDF("qid", "qlon", "qlat"), k)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val expect = qs.flatMap { case (qid, qlon, qlat) =>
      points.map { case (pid, lon, lat) =>
        (qid, pid, Geo.haversineMeters(lon, lat, qlon, qlat)) }
        .sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((_, pid, _), i) => (qid, i + 1, pid) }
    }.toSet
    assert(got == expect)
  }

  test("knn k > |points| converges via the whole-globe bound and returns everything") {
    val few = points.take(7)
    val df = few.toDF("pid", "lon", "lat")
    val out = Knn.knn(df, Seq((1, 0.0, 0.0)).toDF("qid", "qlon", "qlat"), k = 50)
      .collect()
    assert(out.length == 7)
    assert(out.map(_.getLong(2)).toSet == few.map(_._1).toSet)
  }

  test("knn that does not converge names its qids and releases every cache") {
    val df = Seq((1L, 0.0, 0.0)).toDF("pid", "lon", "lat")
    // qid 1 sits next to the point and retires in round 1; qid 2 has no
    // candidate in its radius-1 disk and is left unsatisfied
    val qs = Seq((1, 0.01, 0.01), (2, 120.0, 60.0)).toDF("qid", "qlon", "qlat")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[graft.operators.KnnNotConvergedException] {
      Knn.knn(df, qs, k = 1, maxRounds = 1)
    }
    assert(e.qids == Seq(2L))
    assert(e.radius == 1 && e.rounds == 1)
    assert(e.getMessage.contains("qids 2 "))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "per-round caches must be released before the throw")
  }

  test("knn equals brute-force linear-scan oracle") {
    val k = 8
    val got = Knn.knn(spark, GeoCols.derivedPoints(spark, sfDir),
        Fixtures.knnQueries, k)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val expect = Fixtures.knnQueries.flatMap { case (qid, qlon, qlat) =>
      points.map { case (pid, lon, lat) =>
        (qid, pid, Geo.haversineMeters(lon, lat, qlon, qlat)) }
        .sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((_, pid, _), i) => (qid, i + 1, pid) }
    }.toSet
    assert(got == expect)
  }

  test("tileAssign matches slippy-map formula") {
    val got = SpatialJoin.tileAssign(GeoCols.derivedPoints(spark, sfDir), 3, 3)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    points.foreach { case (pid, lon, lat) =>
      val n = 8 // 2^3
      val xt = math.min(n - 1, math.max(0, math.floor((lon + 180) / 360 * n))).toLong
      val latR = math.toRadians(lat)
      val yt = math.min(n - 1, math.max(0, math.floor(
        (1 - math.log(math.tan(latR) + 1 / math.cos(latR)) / math.Pi) / 2 * n))).toLong
      assert(got(pid) == ((3, xt, yt)), s"pid=$pid")
    }
  }
}
