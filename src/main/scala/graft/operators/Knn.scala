package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.geo.{Cell, Geo}
import graft.functions.GeoCols

/** Exact k-nearest-neighbors via cell-ring candidate expansion + haversine
  * refine (BASELINE.json north_star; SURVEY.md J5 — no literal reference
  * analogue, the closest is the GIST-indexed planning probe builder.py:48-56).
  *
  * Fully distributed: queries are a DataFrame end to end.
  *  1. each unsatisfied query explodes its cell disk (Chebyshev radius r) to
  *     (qid, cell) rows on the executors; the fact side equi-joins that
  *     broadcast on its ONE cell id — a BroadcastHashJoin, the fact table is
  *     never shuffled;
  *  2. per query, top-k by exact haversine (window over the small candidate
  *     set — only candidate rows move, never the fact table);
  *  3. exactness: the kth distance must be ≤ a conservative bound on the
  *     distance to the nearest uncovered region (from the disk's lon/lat
  *     box, computed per query ON the query DataFrame). Unsatisfied queries
  *     double r and repeat; satisfied ones retire with their (persisted,
  *     k-row) result slice.
  *
  * The only driver-side decision per round is "are any queries unsatisfied"
  * (a boolean action on the query-state DataFrame); candidates, distances,
  * and results never leave the executors. At 10^12 rows the candidate join
  * is a broadcast of the small side, the fact table never shuffled;
  * re-scanning the fact
  * table per round beats caching it (you don't cache 100 TB), and in
  * practice round counts are 1-2 because the disk quadruples each round.
  */
object Knn {

  /** Conservative lower bound (meters) on the distance from (lon,lat) to any
    * point OUTSIDE the lon/lat box — 0 if q is outside or at the border. */
  private[operators] def distToBoxEdge(
      lon: Double, lat: Double,
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): Double = {
    if (lon < minLon || lon > maxLon || lat < minLat || lat > maxLat) return 0.0
    val degM = math.Pi * Geo.EarthRadiusM / 180.0 // meters per degree (meridian)
    val dLat = math.min(lat - minLat, maxLat - lat) * degM
    // distance to a meridian at lon offset d: R * asin(sin(d) * cos(lat))
    val dLonDeg = math.min(lon - minLon, maxLon - lon)
    val dLon = Geo.EarthRadiusM * math.asin(
      math.min(1.0, math.sin(math.toRadians(math.min(90.0, dLonDeg))) *
        math.cos(math.toRadians(lat))))
    math.min(dLat, dLon) * 0.999
  }

  /** Box of the cell disk of radius r around (x0,y0) at res. */
  private[operators] def diskBox(res: Int, lon: Double, lat: Double, r: Int): (Double, Double, Double, Double) = {
    val n = 1L << res
    val x = Cell.xOf(res, lon); val y = Cell.yOf(res, lat)
    val w = 360.0 / n; val h = 180.0 / n
    val minLon = if (2L * r + 1 >= n) -180.0 else (x - r) * w - 180.0
    val maxLon = if (2L * r + 1 >= n) 180.0 else (x + r + 1) * w - 180.0
    val minLat = math.max(-90.0, (y - r) * h - 90.0)
    val maxLat = math.min(90.0, (y + r + 1) * h - 90.0)
    (minLon, minLat, maxLon, maxLat)
  }

  /** Exactness bound for a query's current disk; Double.MaxValue once the
    * disk covers the whole globe (nothing left to expand into). */
  private def boundM(res: Int)(lon: Double, lat: Double, r: Int): Double = {
    val (minLon, minLat, maxLon, maxLat) = diskBox(res, lon, lat, r)
    val wholeGlobe = minLon <= -180.0 && maxLon >= 180.0 &&
      minLat <= -90.0 && maxLat >= 90.0
    if (wholeGlobe) Double.MaxValue
    else distToBoxEdge(lon, lat, minLon, minLat, maxLon, maxLat)
  }

  /** One expansion round's top-k for the current query state
    * (qid, qlon, qlat, radius): disk cells exploded per query, broadcast
    * equi-join on `cell`, per-query window top-k. Exposed for plan-quality
    * assertions. */
  private[graft] def roundTopK(fact: DataFrame, qs: DataFrame, k: Int, res: Int): DataFrame = {
    val diskCells = udf((lon: Double, lat: Double, r: Int) =>
      Cell.disk(Cell.cellAt(res, lon, lat), r).toArray)
    val cand = qs.select(col("qid"),
      explode(diskCells(col("qlon"), col("qlat"), col("radius"))).as("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist_m"), col("pid"))
    fact
      .join(broadcast(cand), Seq("cell"))
      .join(broadcast(qs.select(col("qid"), col("qlon"), col("qlat"))), Seq("qid"))
      .withColumn("dist_m", GeoCols.haversineMetersCol(
        col("lon"), col("lat"), col("qlon"), col("qlat")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("pid"),
        round(col("dist_m"), 3).as("dist_m"))
  }

  /** points: (pid, lon, lat); queries: (qid, qlon, qlat) DataFrame.
    * Returns (qid, rank, pid, dist_m) — exact k nearest per query. */
  def knn(
      points: DataFrame,
      queries: DataFrame,
      k: Int,
      res: Int = 4,
      maxRounds: Int = 8): DataFrame = {
    val boundUdf = udf(boundM(res) _)
    val fact = points
      .withColumn("cell", GeoCols.cellCol(res, col("lon"), col("lat")))
    var qs = queries.select(col("qid"), col("qlon"), col("qlat"))
      .withColumn("radius", lit(1)).persist() // |queries| rows
    var retired = Vector.empty[DataFrame]
    var iter = 0
    var remaining = true
    while (remaining && iter < maxRounds) {
      iter += 1
      val qcur = qs
      val topk = roundTopK(fact, qcur, k, res).persist() // ≤ k·|queries| rows
      val stats = topk.groupBy(col("qid"))
        .agg(max(col("dist_m")).as("kd"), count(lit(1)).as("n"))
      val state = qcur.join(stats, Seq("qid"), "left")
        .withColumn("bound", boundUdf(col("qlon"), col("qlat"), col("radius")))
        .withColumn("sat", (col("bound") === lit(Double.MaxValue)) ||
          (coalesce(col("n"), lit(0L)) >= k && col("kd") <= col("bound")))
      // materialize this round's retired slice (≤ k·|queries| rows) and the
      // next round's query state BEFORE freeing the round's intermediates —
      // only result-sized caches outlive the loop, and nothing recomputes
      val slice = topk.join(
        broadcast(state.filter(col("sat")).select(col("qid"))),
        Seq("qid"), "leftsemi").persist()
      slice.count()
      retired :+= slice
      qs = state.filter(!col("sat"))
        .select(col("qid"), col("qlon"), col("qlat"),
          (col("radius") * 2).as("radius")).persist()
      remaining = qs.count() > 0 // the round's one driver-side scalar
      topk.unpersist()
      qcur.unpersist()
      ()
    }
    if (remaining) {
      // qs carries the radius of the round that would come next
      val left = qs.select(col("qid").cast("long"), col("radius")).collect()
      qs.unpersist()
      retired.foreach(_.unpersist())
      throw new KnnNotConvergedException(left.map(_.getLong(0)).sorted.toSeq,
        left.map(_.getInt(1)).max / 2, iter)
    }
    qs.unpersist()
    // materialize the (result-sized) union once while the round slices are
    // still cached, then release every per-round cache — a long-lived session
    // calling knn() repeatedly must not accumulate slice blocks. The returned
    // frame is the ONLY cache that survives; its lifecycle is caller-owned
    // (unpersist after consuming, as the specs do).
    if (retired.size == 1) retired.head // already persisted + materialized
    else {
      val result = retired.reduce(_.unionByName(_)).persist()
      result.count()
      retired.foreach(_.unpersist())
      result
    }
  }

  /** Literal-query convenience wrapper (SparkEntry gate shape). */
  def knn(
      spark: SparkSession,
      points: DataFrame,
      queries: Seq[(Int, Double, Double)],
      k: Int): DataFrame = {
    import spark.implicits._
    knn(points, queries.toDF("qid", "qlon", "qlat"), k)
  }

  /** DuckDB oracle: brute-force haversine + window top-k (identical rounding
    * and tiebreak). */
  def knnOracleSql(queries: Seq[(Int, Double, Double)], k: Int): String = {
    val qvals = queries.map { case (qid, qlon, qlat) => s"($qid, $qlon, $qlat)" }.mkString(", ")
    val hav = GeoCols.haversineMetersSql("p.lon", "p.lat", "q.qlon", "q.qlat")
    s"""WITH pts AS (${GeoCols.pointsSql}),
       |q(qid, qlon, qlat) AS (VALUES $qvals),
       |d AS (SELECT q.qid, p.pid, $hav AS dist_m FROM pts p CROSS JOIN q),
       |r AS (SELECT qid, pid, dist_m,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_m, pid) AS rank
       |      FROM d)
       |SELECT qid, rank, pid, ROUND(dist_m, 3) AS dist_m FROM r WHERE rank <= $k""".stripMargin
  }
}

/** A kNN search that still had unsatisfied queries after `rounds`
  * expansion rounds; `radius` is the last cell-disk radius searched. Every
  * per-round cache is released before it is thrown. */
final class KnnNotConvergedException(val qids: Seq[Long], val radius: Int,
    val rounds: Int) extends RuntimeException(
  s"kNN did not converge in $rounds rounds: qids ${qids.mkString(", ")} " +
    s"still unsatisfied at cell radius $radius")
