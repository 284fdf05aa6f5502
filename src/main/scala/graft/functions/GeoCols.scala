package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{MultiPolygon, Polygon, Pt}

/** Geo primitives as pure Catalyst Column expressions, each paired with a
  * structurally-identical ANSI/DuckDB SQL generator.
  *
  * Design: the reference evaluates spatial predicates inside Postgres
  * (ST_Intersects/ST_Within, builder.py:98-102; ST_MakeEnvelope bbox,
  * builder.py:744-751). We re-express them as *codegen'd column arithmetic* —
  * no UDFs on the hot path, so whole-stage codegen spans the scan → filter →
  * project pipeline. The `...Sql` twins emit the same expression tree as SQL
  * text for the DuckDB oracle; identical structure + IEEE-754 determinism
  * gives bit-identical results in both engines.
  */
object GeoCols {

  // ---- deterministic point derivation -------------------------------------
  // The driver's tables carry no geo columns; like the reference's fixture
  // strategy we derive a deterministic location per row key (SURVEY.md §1.3).
  // Pure integer arithmetic (no string hashing) so DuckDB reproduces it.
  val LonMul = 2654435761L // Knuth multiplicative-hash constants
  val LatMul = 2971215073L

  def pidCol(orderkey: Column, linenumber: Column): Column =
    orderkey * lit(8L) + linenumber.cast("long")

  def lonCol(pid: Column): Column =
    (pid * lit(LonMul) % lit(360000000L)).cast("double") / lit(1000000.0) - lit(180.0)

  def latCol(pid: Column): Column =
    (pid * lit(LatMul) % lit(170000000L)).cast("double") / lit(1000000.0) - lit(85.0)

  /** DuckDB SQL for the derived-point CTE over `lineitem`. DISTINCT because
    * (l_orderkey, l_linenumber) is not unique in the driver tables — the
    * point table must be keyed, like the reference's osm_id PK. */
  def pointsSql: String =
    s"""SELECT DISTINCT l_orderkey*8 + l_linenumber AS pid,
       |  ((l_orderkey*8 + l_linenumber)*$LonMul % 360000000)/1000000.0 - 180.0 AS lon,
       |  ((l_orderkey*8 + l_linenumber)*$LatMul % 170000000)/1000000.0 - 85.0 AS lat
       |FROM lineitem""".stripMargin

  /** Derived point table (pid, lon, lat) from lineitem — the engine-side twin
    * of [[pointsSql]]. */
  def derivedPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"))
    val pid = pidCol(col("l_orderkey"), col("l_linenumber"))
    // distinct on pid only (lon/lat are functions of pid): hash-agg, and the
    // resulting exchange on pid is reused by downstream per-pid aggregations
    li.select(pid.as("pid")).groupBy("pid").agg(lit(1))
      .select(col("pid"), lonCol(col("pid")).as("lon"), latCol(col("pid")).as("lat"))
  }

  // ---- point-in-polygon (ray cast, even-odd) -------------------------------
  // Column twin of graft.geo.Geo.pointInRing; same half-open edge rule.
  // Crossing count parity as a sum of CASE indicators — fully codegen'd.

  def pipRingCol(poly: Array[Pt], lon: Column, lat: Column): Column = {
    val n = poly.length
    val terms = (0 until n).map { i =>
      val j = (i + n - 1) % n
      val (xi, yi) = (poly(i).lon, poly(i).lat)
      val (xj, yj) = (poly(j).lon, poly(j).lat)
      val crosses = (lit(yi) > lat) =!= (lit(yj) > lat)
      val xInt = lit(xj - xi) * (lat - lit(yi)) / lit(yj - yi) + lit(xi)
      when(crosses && lon < xInt, lit(1)).otherwise(lit(0))
    }
    terms.reduce(_ + _) % lit(2) === lit(1)
  }

  def pipCol(poly: Polygon, lon: Column, lat: Column): Column = {
    val inShell = pipRingCol(poly.shell.pts, lon, lat)
    poly.holes.foldLeft(inShell)((acc, h) => acc && !pipRingCol(h.pts, lon, lat))
  }

  def pipRingSql(poly: Array[Pt], lonE: String, latE: String): String = {
    val n = poly.length
    val terms = (0 until n).map { i =>
      val j = (i + n - 1) % n
      val (xi, yi) = (poly(i).lon, poly(i).lat)
      val (xj, yj) = (poly(j).lon, poly(j).lat)
      s"(CASE WHEN (($yi > $latE) <> ($yj > $latE)) AND " +
        s"($lonE < (${xj - xi}) * ($latE - ($yi)) / (${yj - yi}) + ($xi)) THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  def pipSql(poly: Polygon, lonE: String, latE: String): String = {
    val shell = pipRingSql(poly.shell.pts, lonE, latE)
    poly.holes.foldLeft(shell)((acc, h) =>
      s"($acc AND NOT ${pipRingSql(h.pts, lonE, latE)})")
  }

  // ---- cell id (Z-order quadtree, graft.geo.Cell encoding) -----------------

  private def clampIdx(raw: Column, n: Long): Column =
    least(lit(n - 1), greatest(lit(0L), raw))

  def cellXCol(res: Int, lon: Column): Column = {
    val n = 1L << res
    clampIdx(floor((lon + lit(180.0)) / lit(360.0) * lit(n.toDouble)).cast("long"), n)
  }

  def cellYCol(res: Int, lat: Column): Column = {
    val n = 1L << res
    clampIdx(floor((lat + lit(90.0)) / lit(180.0) * lit(n.toDouble)).cast("long"), n)
  }

  /** Morton interleave of two res-bit indices, unrolled (res ≤ 16 practical). */
  def mortonCol(res: Int, x: Column, y: Column): Column =
    (0 until res).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Full cell id: (morton(x,y) << 5) | res — one kernel call
    * ([[Kernels.cellId]] → Cell.cellAt; KernelParitySpec pins parity with
    * the unrolled Column tree, which [[mortonCol]]/[[cellXCol]]/[[cellYCol]]
    * still spell out for reference and for the SQL twins). */
  def cellCol(res: Int, lon: Column, lat: Column): Column =
    Kernels.cellId(res, lon, lat)

  def cellXSql(res: Int, lonE: String): String = {
    val n = 1L << res
    s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR((($lonE) + 180.0) / 360.0 * $n.0) AS BIGINT)))"
  }

  def cellYSql(res: Int, latE: String): String = {
    val n = 1L << res
    s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR((($latE) + 90.0) / 180.0 * $n.0) AS BIGINT)))"
  }

  def mortonSql(res: Int, xE: String, yE: String): String =
    (0 until res).map { i =>
      s"((($xE >> $i) & 1) << ${2 * i}) + ((($yE >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  // ---- Web-Mercator tile (z/x/y) -------------------------------------------
  // The tippecanoe analogue (app.py:690-698): assign each point to its tile
  // per zoom. y uses the standard mercator formula.

  def tileXCol(z: Int, lon: Column): Column = {
    val n = 1L << z
    clampIdx(floor((lon + lit(180.0)) / lit(360.0) * lit(n.toDouble)).cast("long"), n)
  }

  def tileYCol(z: Int, lat: Column): Column = {
    val n = 1L << z
    val latRad = radians(lat)
    val merc = (lit(1.0) - log(tan(latRad) + lit(1.0) / cos(latRad)) / lit(math.Pi)) / lit(2.0)
    clampIdx(floor(merc * lit(n.toDouble)).cast("long"), n)
  }

  def tileXSql(z: Int, lonE: String): String = {
    val n = 1L << z
    s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR((($lonE) + 180.0) / 360.0 * $n.0) AS BIGINT)))"
  }

  def tileYSql(z: Int, latE: String): String = {
    val n = 1L << z
    s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR((1.0 - LN(TAN(RADIANS($latE)) + 1.0/COS(RADIANS($latE))) / PI()) / 2.0 * $n.0) AS BIGINT)))"
  }

  // ---- arbitrary-vertex features (rings / roles model) ----------------------
  // The reference routes real OSM geometry: ways with arbitrary vertex
  // counts, relations assembled into multipolygon areas (backend/raw.lua:
  // 128-180), and geometrytype branches including MULTILINESTRING /
  // MULTIPOLYGON (builder.py:685, :713-714). Features carry two columns:
  //   rings  array<array<double>>  flat xy rings [x0,y0,x1,y1,...], UNclosed
  //   roles  array<int>            0 = outer ring / line part, 1 = hole of
  //                                the preceding outer
  // `kind` routes semantics: point (no rings), line (open polylines,
  // multiple role-0 parts = MultiLineString), polygon (closed rings,
  // multiple role-0 rings = MultiPolygon parts; shells CCW, holes CW).
  // Both derived feature tables take their shapes from the one kernel shape
  // spec (`Kernels.pidRings`/`imageRings`); the SQL below is its oracle twin.

  /** 16 unit-circle directions (cos/sin of k*pi/8 as 4-dp literals — literal
    * parity with the SQL twin instead of cross-engine trig parity), CCW. */
  val DirX: IndexedSeq[Double] = IndexedSeq(
    1.0, 0.9239, 0.7071, 0.3827, 0.0, -0.3827, -0.7071, -0.9239,
    -1.0, -0.9239, -0.7071, -0.3827, 0.0, 0.3827, 0.7071, 0.9239)
  val DirY: IndexedSeq[Double] = IndexedSeq(
    0.0, 0.3827, 0.7071, 0.9239, 1.0, 0.9239, 0.7071, 0.3827,
    0.0, -0.3827, -0.7071, -0.9239, -1.0, -0.9239, -0.7071, -0.3827)

  private def dirXList: String = DirX.mkString("(([", ", ", "])::DOUBLE[])")
  private def dirYList: String = DirY.mkString("(([", ", ", "])::DOUBLE[])")

  // unit-draw / structure-selector constants (primes; pid * UA stays far
  // from Long overflow at every test SF)
  val UA = 67867967L
  val UB = 15485863L

  /** Unit draw in [0,1) for (pid, k) — pure integer arithmetic, the SQL
    * twin of the kernels' pid draws (`Kernels.PidDraws`). */
  def uPidSql(kE: String): String =
    s"((pid * $UA + ($kE) * $UB) % 1000000)/1000000.0"

  /** Structure selector in [0, base) for (pid, salt). */
  def mPidSql(base: Int, salt: Int): String = s"((pid + ${37L * salt}) % $base)"

  /** SQL twin of the kernels' star ring, vertex i from `i`. */
  private def starRingSql(cxE: String, cyE: String, nE: String, dirRev: Boolean,
      rBase: Double, rSpan: Double, uOff: Int): String = {
    val d0 = s"CAST(FLOOR((i * 16) / ($nE)) AS BIGINT)"
    val d = if (dirRev) s"(15 - $d0)" else d0
    val r = s"($rBase + $rSpan * (${uPidSql(s"$uOff + i")}))"
    s"flatten(list_transform(range(0, $nE), i -> [" +
      s"$cxE + $r * $dirXList[$d + 1], " +
      s"$cyE + 0.7 * $r * $dirYList[$d + 1]]))"
  }

  /** SQL twin of the kernels' zigzag line, vertex i from `i`. */
  private def zigzagLineSql(cxE: String, cyE: String, nE: String, anchored: Boolean,
      ampX: Double, ampY: Double, uOffX: Int, uOffY: Int): String = {
    val x = s"$cxE + $ampX * ((${uPidSql(s"$uOffX + i")}) * 2.0 - 1.0)"
    val y = s"$cyE + $ampY * ((${uPidSql(s"$uOffY + i")}) * 2.0 - 1.0)"
    val xe = if (anchored) s"CASE WHEN i = 0 THEN $cxE ELSE $x END" else x
    val ye = if (anchored) s"CASE WHEN i = 0 THEN $cyE ELSE $y END" else y
    s"flatten(list_transform(range(0, $nE), i -> [$xe, $ye]))"
  }

  def kindPidCol(pid: Column): Column =
    when(pid % 10 < 6, lit("point")).when(pid % 10 < 8, lit("line"))
      .otherwise(lit("polygon"))

  val kindPidSql: String =
    "(CASE WHEN pid % 10 < 6 THEN 'point' WHEN pid % 10 < 8 THEN 'line' ELSE 'polygon' END)"

  /** Feature table derived from lineitem keys: (image_id, lon, lat, kind,
    * rings, roles, tags, cell) — the non-point analogue of [[derivedPoints]],
    * with [[featuresSql]] as its DuckDB twin. `tags` carries a deterministic
    * parity attribute so tag filters/projections have an oracle. */
  def derivedFeatures(spark: SparkSession, sfDir: String, cellRes: Int = 7): DataFrame = {
    val p = derivedPoints(spark, sfDir)
    // the kernel shape spec; featuresSql is its oracle twin
    val (rings, roles) =
      Kernels.pidRings(col("pid"), col("kind"), col("lon"), col("lat"))
    p.withColumn("kind", kindPidCol(col("pid")))
      .withColumn("rings", rings)
      .withColumn("roles", roles)
      .withColumn("tags", map(lit("parity"), (col("pid") % 7).cast("string")))
      .withColumn("cell", cellCol(cellRes, col("lon"), col("lat")))
      .withColumnRenamed("pid", "image_id")
  }

  /** DuckDB CTE body for the derived feature table (columns: pid, lon, lat,
    * kind, rings, roles; tag values are emitted directly as expressions by
    * gate SQL, maps are a Spark-side representation detail). Mirrors the
    * shape spec of `Kernels.pidRings`, term for term. */
  def featuresSql: String = {
    val shell = starRingSql("lon", "lat", s"(5 + ${mPidSql(8, 0)})", dirRev = false, 0.15, 0.5, 100)
    val hole = starRingSql("lon", "lat", s"(4 + ${mPidSql(4, 2)})", dirRev = true, 0.03, 0.05, 200)
    val part2 = starRingSql("(lon + 1.3)", "(lat + 0.65)", s"(4 + ${mPidSql(7, 4)})", dirRev = false, 0.1, 0.3, 300)
    val lineMain = zigzagLineSql("lon", "lat", s"(3 + ${mPidSql(7, 5)})", anchored = true, 1.0, 0.5, 400, 500)
    val line2 = zigzagLineSql("(lon + 0.6)", "(lat + 0.3)", s"(2 + ${mPidSql(3, 7)})", anchored = false, 0.8, 0.4, 600, 700)
    val hasHole = s"${mPidSql(3, 1)} = 0"
    val hasPart2 = s"${mPidSql(4, 3)} = 0"
    val hasLine2 = s"${mPidSql(3, 6)} = 0"
    val er = "[]::DOUBLE[][]"
    val ei = "[]::INT[]"
    s"""SELECT pid, lon, lat, $kindPidSql AS kind,
       |  (CASE WHEN pid % 10 >= 8 THEN
       |     list_concat(list_concat([$shell],
       |       CASE WHEN $hasHole THEN [$hole] ELSE $er END),
       |       CASE WHEN $hasPart2 THEN [$part2] ELSE $er END)
       |   WHEN pid % 10 >= 6 THEN
       |     list_concat([$lineMain],
       |       CASE WHEN $hasLine2 THEN [$line2] ELSE $er END)
       |   ELSE $er END) AS rings,
       |  (CASE WHEN pid % 10 >= 8 THEN
       |     list_concat(list_concat([0]::INT[],
       |       CASE WHEN $hasHole THEN [1]::INT[] ELSE $ei END),
       |       CASE WHEN $hasPart2 THEN [0]::INT[] ELSE $ei END)
       |   WHEN pid % 10 >= 6 THEN
       |     list_concat([0]::INT[], CASE WHEN $hasLine2 THEN [0]::INT[] ELSE $ei END)
       |   ELSE $ei END) AS roles
       |FROM pts""".stripMargin
  }

  // ---- segment-crossing SQL primitives (literal request edges) -------------
  // SQL twins of Geo.segmentsCross / segmentCrossesBoundary: strict-sign
  // orientation tests, identical operand order in kernel and SQL.

  /** Segment (a->b, expression endpoints) properly crosses literal segment
    * c->d. */
  def segCrossSql(axE: String, ayE: String, bxE: String, byE: String,
      c: Pt, d: Pt): String = {
    val abc = s"(((${c.lat}) - $ayE) * ($bxE - $axE) - ($byE - $ayE) * ((${c.lon}) - $axE)) > 0.0"
    val abd = s"(((${d.lat}) - $ayE) * ($bxE - $axE) - ($byE - $ayE) * ((${d.lon}) - $axE)) > 0.0"
    val cda = s"(($ayE - (${c.lat})) * (${d.lon - c.lon}) - (${d.lat - c.lat}) * ($axE - (${c.lon}))) > 0.0"
    val cdb = s"(($byE - (${c.lat})) * (${d.lon - c.lon}) - (${d.lat - c.lat}) * ($bxE - (${c.lon}))) > 0.0"
    s"((($abc) <> ($abd)) AND (($cda) <> ($cdb)))"
  }

  private def ringEdges(r: graft.geo.Ring): Seq[(Pt, Pt)] = {
    val pts = r.pts
    pts.indices.map(i => (pts((i + pts.length - 1) % pts.length), pts(i)))
  }

  private def polyEdges(poly: Polygon): Seq[(Pt, Pt)] =
    (poly.shell +: poly.holes.toSeq).flatMap(ringEdges)

  /** Segment (expression endpoints) crosses any boundary edge of the polygon
    * (shell + holes). */
  def segCrossesBoundarySql(poly: Polygon, axE: String, ayE: String,
      bxE: String, byE: String): String =
    polyEdges(poly).map { case (c, d) => segCrossSql(axE, ayE, bxE, byE, c, d) }
      .mkString("(", " OR ", ")")

  // ---- variable-geometry SQL kernels (oracle twins of Geo.*Rings) ----------
  // These generate DuckDB list-lambda SQL over the rings column; the Scala
  // kernels in graft.geo.Geo mirror them operand for operand (same index
  // conventions: j = previous vertex, flat left-fold float sums).

  private def nOf(r: String) = s"(len($r)//2)"
  private def xAt(r: String, i: String) = s"$r[2*($i)+1]"
  private def yAt(r: String, i: String) = s"$r[2*($i)+2]"
  private def cntSql(listE: String) = s"COALESCE(list_sum($listE), 0)"

  /** Left-fold float sum (0.0-seeded) — list_sum's order is an
    * implementation detail; the explicit fold matches the kernels' running
    * accumulators bit for bit. */
  private def foldSumSql(listE: String): String =
    s"COALESCE(list_reduce(list_prepend(0.0, $listE), (a, b) -> a + b), 0.0)"

  /** Per-edge crossing indicators of (qx,qy) against one flat-ring lambda
    * var (implicit closure, j = previous vertex) — twin of
    * Geo.crossingsFlat. */
  private def crossingsFlatSql(qxE: String, qyE: String, r: String): String = {
    val n = nOf(r)
    val j = s"((i + $n - 1) % $n)"
    val xi = xAt(r, "i"); val yi = yAt(r, "i")
    val xj = xAt(r, j); val yj = yAt(r, j)
    s"list_transform(range(0, $n), i -> (CASE WHEN (($yi > $qyE) <> ($yj > $qyE)) AND " +
      s"($qxE < ($xj - $xi) * (($qyE) - $yi) / ($yj - $yi) + $xi) THEN 1 ELSE 0 END))"
  }

  /** Even-odd PIP of (qx,qy) in the variable rings column — twin of
    * Geo.pipEvenOdd. */
  def pipEvenOddVarSql(qxE: String, qyE: String, ringsE: String): String =
    s"((${cntSql(s"list_transform($ringsE, q -> ${cntSql(crossingsFlatSql(qxE, qyE, "q"))})")} % 2) = 1)"

  private def anyVertexInSql(poly: Polygon, r: String): String =
    s"(${cntSql(s"list_transform(range(0, ${nOf(r)}), i -> (CASE WHEN ${pipSql(poly, xAt(r, "i"), yAt(r, "i"))} THEN 1 ELSE 0 END))")} > 0)"

  private def anyEdgeCrossesSql(poly: Polygon, r: String, closed: Boolean): String = {
    val n = nOf(r)
    val last = if (closed) n else s"($n - 1)"
    val j = if (closed) s"((i + 1) % $n)" else "(i + 1)"
    s"(${cntSql(s"list_transform(range(0, $last), i -> (CASE WHEN ${segCrossesBoundarySql(poly, xAt(r, "i"), yAt(r, "i"), xAt(r, j), yAt(r, j))} THEN 1 ELSE 0 END))")} > 0)"
  }

  /** Kind-aware feature x request-geometry intersection over the rings
    * model — twin of Geo.featureIntersectsRings: point -> anchor PIP;
    * line -> part vertex inside OR open segment crossing; polygon -> ring
    * vertex inside OR closed ring edge crossing OR request shell head
    * swallowed by the feature (even-odd over its rings). */
  def featureIntersectsRingsSql(geom: MultiPolygon, kindE: String,
      lonE: String, latE: String, ringsE: String): String = {
    val pointHit = geom.polys.map(p => pipSql(p, lonE, latE)).mkString("(", " OR ", ")")
    val lineHit = geom.polys.map { p =>
      s"(${cntSql(s"list_transform($ringsE, r -> (CASE WHEN (${anyVertexInSql(p, "r")} OR ${anyEdgeCrossesSql(p, "r", closed = false)}) THEN 1 ELSE 0 END))")} > 0)"
    }.mkString("(", " OR ", ")")
    val polyHit = geom.polys.map { p =>
      val vin = s"(${cntSql(s"list_transform($ringsE, r -> (CASE WHEN ${anyVertexInSql(p, "r")} THEN 1 ELSE 0 END))")} > 0)"
      val ecr = s"(${cntSql(s"list_transform($ringsE, r -> (CASE WHEN ${anyEdgeCrossesSql(p, "r", closed = true)} THEN 1 ELSE 0 END))")} > 0)"
      val head = p.shell.pts.head
      s"($vin OR $ecr OR ${pipEvenOddVarSql(head.lon.toString, head.lat.toString, ringsE)})"
    }.mkString("(", " OR ", ")")
    s"(CASE WHEN $kindE = 'point' THEN $pointHit " +
      s"WHEN $kindE = 'line' THEN $lineHit ELSE $polyHit END)"
  }

  /** (clon, clat) centroid SQL over the rings model — twin of
    * Geo.centroidRings (same fold order, same degenerate fallbacks). */
  /** Per-segment term list over all parts in order (shared by the centroid
    * and length twins — one load-bearing string, no drift). */
  private def segListSql(ringsE: String, term: String): String =
    s"flatten(list_transform($ringsE, r -> list_transform(range(0, ${nOf("r")} - 1), i -> ($term))))"

  /** The segment length expression (i, i+1 within lambda var r). */
  private def segLenSql: String = {
    val dx = s"(${xAt("r", "(i + 1)")} - ${xAt("r", "i")})"
    val dy = s"(${yAt("r", "(i + 1)")} - ${yAt("r", "i")})"
    s"SQRT($dx * $dx + $dy * $dy)"
  }

  def centroidRingsSql(kindE: String, lonE: String, latE: String,
      ringsE: String): (String, String) = {
    def segList(term: String): String = segListSql(ringsE, term)
    val lE = segLenSql
    val sl = foldSumSql(segList(lE))
    val sx = foldSumSql(segList(s"(${xAt("r", "i")} + ${xAt("r", "(i + 1)")}) / 2 * $lE"))
    val sy = foldSumSql(segList(s"(${yAt("r", "i")} + ${yAt("r", "(i + 1)")}) / 2 * $lE"))
    val lineX = s"(CASE WHEN $sl = 0.0 THEN $ringsE[1][1] ELSE ($sx / $sl) END)"
    val lineY = s"(CASE WHEN $sl = 0.0 THEN $ringsE[1][2] ELSE ($sy / $sl) END)"
    def ringTermList(term: String): String =
      s"flatten(list_transform($ringsE, r -> list_transform(range(0, ${nOf("r")}), i -> ($term))))"
    val n = nOf("r")
    val j = s"((i + $n - 1) % $n)"
    val cross = s"(${xAt("r", j)} * ${yAt("r", "i")} - ${xAt("r", "i")} * ${yAt("r", j)})"
    val a = foldSumSql(ringTermList(cross))
    val cxS = foldSumSql(ringTermList(s"(${xAt("r", j)} + ${xAt("r", "i")}) * $cross"))
    val cyS = foldSumSql(ringTermList(s"(${yAt("r", j)} + ${yAt("r", "i")}) * $cross"))
    val nv = s"COALESCE(list_sum(list_transform($ringsE, r -> ${nOf("r")})), 0)"
    val avgX = foldSumSql(ringTermList(xAt("r", "i")))
    val avgY = foldSumSql(ringTermList(yAt("r", "i")))
    val polyX = s"(CASE WHEN ABS($a) < 1e-12 THEN ($avgX / $nv) ELSE ($cxS / (3 * $a)) END)"
    val polyY = s"(CASE WHEN ABS($a) < 1e-12 THEN ($avgY / $nv) ELSE ($cyS / (3 * $a)) END)"
    (s"(CASE WHEN $kindE = 'point' THEN $lonE WHEN $kindE = 'line' THEN $lineX ELSE $polyX END)",
      s"(CASE WHEN $kindE = 'point' THEN $latE WHEN $kindE = 'line' THEN $lineY ELSE $polyY END)")
  }

  /** Planar length (deg) of a multi-part polyline — twin of
    * Geo.lengthRings (the ST_Length analogue; same fold order as the
    * centroid's segment sums). */
  def lengthRingsSql(ringsE: String): String =
    foldSumSql(segListSql(ringsE, segLenSql))

  /** Signed planar area (deg^2) over the rings model — twin of
    * Geo.areaRings (CCW shells positive, CW holes negative). */
  def areaRingsSql(ringsE: String): String = {
    val n = nOf("r")
    val j = s"((i + $n - 1) % $n)"
    val cross = s"(${xAt("r", j)} * ${yAt("r", "i")} - ${xAt("r", "i")} * ${yAt("r", j)})"
    s"(${foldSumSql(s"flatten(list_transform($ringsE, r -> list_transform(range(0, $n), i -> $cross)))")} / 2.0)"
  }

  // ---- row-UDF reference: KernelParitySpec holds Kernels.featureIntersects
  // to it (the twins above run as Kernels.centroidRings/areaRings/lengthRings)

  def featureIntersectsRingsUdf(geom: MultiPolygon): (Column, Column, Column, Column) => Column =
    udf((kind: String, lon: Double, lat: Double,
        rings: scala.collection.Seq[scala.collection.Seq[Double]]) =>
      graft.geo.Geo.featureIntersectsRings(geom.polys, kind, lon, lat, rings))
      .apply(_, _, _, _)

  // ---- haversine ------------------------------------------------------------

  def haversineMetersCol(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val r = lit(graft.geo.Geo.EarthRadiusM)
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0) * r * asin(least(lit(1.0), sqrt(a)))
  }

  def haversineMetersSql(lon1: String, lat1: String, lon2: String, lat2: String): String = {
    val r = graft.geo.Geo.EarthRadiusM
    s"(2.0 * $r * ASIN(LEAST(1.0, SQRT(" +
      s"POW(SIN(RADIANS(($lat2) - ($lat1)) / 2), 2) + " +
      s"COS(RADIANS($lat1)) * COS(RADIANS($lat2)) * POW(SIN(RADIANS(($lon2) - ($lon1)) / 2), 2)))))"
  }
}
