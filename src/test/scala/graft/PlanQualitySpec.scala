package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet, Literal, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter,
  LocalTableScanExec, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.functions.Kernels
import graft.geo.{Fixtures, MultiPolygon}
import graft.model.{GeomType, SnapshotRequest}
import graft.plan.PlanBuilder
import graft.operators.SpatialJoin
import graft.sinks.Sinks
import graft.sources.{ImageFixture, ImageTable}

/** Physical-plan assertions: the shapes that matter at 100 TB must be in the
  * plan, not just intended — filter pushdown to the scan, broadcast joins for
  * catalog-sized sides, region assignment as one kernel call with no join
  * or exchange, and whole-stage codegen over the hot path. */
class PlanQualitySpec extends SparkSpec {

  private lazy val tableDir = {
    val dir = Files.createTempDirectory("pq_images").toString
    ImageFixture.write(spark, 2000, dir, partitions = 4)
    dir
  }

  private def extractPlan = {
    val images = ImageFixture.read(spark, tableDir)
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(Fixtures.requestPolygon)),
      geometryTypes = GeomType.all)
    images.filter(PlanBuilder.geometryFilter(
      req.geometry, col("kind"), col("lon"), col("lat"), col("cell"),
      col("rings")))
  }

  /** Every physical node, through AQE's current plan and its query stages. */
  private def physical(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
    case q: QueryStageExec => physical(q.plan)
    case o => o +: o.children.flatMap(physical)
  }

  /** The joins, exchanges (shuffle or broadcast), aggregates and local
    * relations of `df`'s physical plan, by node name. */
  private def joinsExchangesAggs(df: DataFrame): Seq[String] =
    physical(df.queryExecution.executedPlan).collect {
      case n @ (_: BaseJoinExec | _: Exchange | _: BaseAggregateExec |
          _: LocalTableScanExec) => n.nodeName
    }

  /** The region index objects `df`'s plan carries. */
  private def regionIndexes(df: DataFrame): Seq[Kernels.RegionIndex] =
    df.queryExecution.analyzed.expressions.flatMap(_.collect {
      case Literal(i: Kernels.RegionIndex, _) => i
    })

  private def pushedFilters(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")

  test("cell prefilter is pushed into the parquet scan") {
    // a cover this small must stay a pushed `In`: Parquet's dictionary
    // filter prunes row groups with it, and the min/max range alone does not
    val (_, expanded) =
      PlanBuilder.coverCells(MultiPolygon(Seq(Fixtures.requestPolygon)))
    assert(expanded.size <= 1000, s"fixture cover has ${expanded.size} cells")
    val pushed = pushedFilters(extractPlan)
    assert(pushed.contains("In(cell"), s"cell IN cover should reach the scan: $pushed")
  }

  test("country-sized cover: no cell list over 1,000 values, the cell range is pushed") {
    val geom = MultiPolygon(Seq(Bench.benchPolygon))
    val (full, expanded) = PlanBuilder.coverCells(geom)
    assert(full.size > 1000 && expanded.size > 1000)
    val df = ImageFixture.read(spark, tableDir).filter(PlanBuilder.geometryFilter(
      geom, col("kind"), col("lon"), col("lat"), col("cell"), col("rings")))
    df.collect() // AQE: inspect the final executed plan
    def listSizes(exprs: Seq[Expression]): Seq[Int] = exprs.flatMap(_.collect {
      case In(_, list) => list.size
      case InSet(_, hset) => hset.size
    })
    val qe = df.queryExecution
    val optimized = listSizes(qe.optimizedPlan.flatMap(_.expressions))
    val executed = listSizes(physical(qe.executedPlan).flatMap(_.expressions))
    assert((optimized ++ executed).forall(_ <= 1000),
      s"cell lists of ${(optimized ++ executed).filter(_ > 1000)} values:\n" +
        qe.executedPlan.toString.take(3000))
    val pushed = pushedFilters(df)
    assert(pushed.contains("GreaterThanOrEqual(cell") &&
      pushed.contains("LessThanOrEqual(cell"), s"cell range should reach the scan: $pushed")
  }

  test("scan reads only referenced columns (column pruning)") {
    val narrow = extractPlan.select("image_id")
    val plan = narrow.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("bytes"),
      s"projection must prune the payload column: $readSchema")
  }

  test("region assignment is one kernel call: no join, no exchange, no aggregate") {
    val pts = extractPlan.select(col("image_id").as("pid"),
      col("lon"), col("lat"), col("cell"))
    val assigned = SpatialJoin.assignRegions(spark, pts)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(joinsExchangesAggs(assigned).isEmpty,
      s"join, exchange or aggregate in the assignment:\n${plan.take(3000)}")
    assert(regionIndexes(assigned).size == 1, plan.take(3000))
  }

  test("whole-stage codegen spans the extract hot path") {
    // the `*(n)` prefix in the short plan form marks WholeStageCodegen spans
    val plan = extractPlan.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Filter") || plan.contains("WholeStageCodegen"),
      s"extract filter must be codegen'd, not interpreted:\n${plan.take(500)}")
  }

  test("knn candidate join is a broadcast equi-join and results stay distributed") {
    import spark.implicits._
    import graft.operators.Knn
    val fact = graft.functions.GeoCols
      .derivedPoints(spark, "/root/testdata/sf0.001")
      .withColumn("cell", graft.functions.GeoCols.cellCol(4, col("lon"), col("lat")))
    val qs = Fixtures.knnQueries.toDF("qid", "qlon", "qlat").withColumn("radius", lit(1))
    val round = Knn.roundTopK(fact, qs, k = 8, res = 4)
    val rplan = round.queryExecution.executedPlan.toString
    assert(rplan.contains("BroadcastHashJoin"), s"cell join must broadcast:\n${rplan.take(2000)}")
    assert(!rplan.contains("SortMergeJoin"), "fact side must not shuffle for the candidate join")
    assert(!rplan.contains("BroadcastNestedLoopJoin") && !rplan.contains("CartesianProduct"))
    // end to end: the result must NOT be a re-parallelized driver collection —
    // the round-1 implementation collect()ed and rebuilt a LocalRelation; now
    // results are executor-resident cached slices
    val result = Knn.knn(spark, graft.functions.GeoCols
      .derivedPoints(spark, "/root/testdata/sf0.001"), Fixtures.knnQueries, k = 8)
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"retired top-k slices must be executor-cached, not driver-collected:\n${plan.take(1500)}")
  }

  test("centroid kernel is evaluated once per row, not once per coordinate") {
    val images = ImageFixture.read(spark, tableDir)
    val req = SnapshotRequest(
      geometry = MultiPolygon(Seq(Fixtures.requestPolygon)),
      geometryTypes = GeomType.all,
      centroid = true)
    val df = PlanBuilder.build(images, req)
    df.collect() // AQE: inspect the final executed plan
    // exactly ONE centroid kernel call (one Project, once): before the
    // staged projection the centroid call appeared once per extracted
    // coordinate
    val calls = physical(df.queryExecution.executedPlan)
      .flatMap(_.expressions).flatMap(_.collect {
        case s: StaticInvoke if s.functionName == "centroidRingsAt" => s
      })
    assert(calls.size == 1, s"${calls.size} centroid kernel calls:\n" +
      df.queryExecution.executedPlan.toString.take(3000))
  }

  test("knn releases every per-round cache; only the caller-owned result persists") {
    import graft.operators.Knn
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val result = Knn.knn(spark, graft.functions.GeoCols
      .derivedPoints(spark, "/root/testdata/sf0.001"), Fixtures.knnQueries.take(3), k = 4)
    assert(result.count() > 0)
    result.unpersist(blocking = true)
    val after = sc.getPersistentRDDs.size
    assert(after == before,
      s"knn leaked ${after - before} persisted RDDs (round slices must be unpersisted)")
  }

  test("254 regions: one index entry per cell, no join, no exchange") {
    // the reference's countries table holds 254 rows; assert the plan shape
    // that must hold at 10^12 fact rows
    val regions254 = TestCatalogs.regions254
    // the cover stays dim-table-sized, one entry per cell, each candidate
    // list ascending by catalog position
    val coverRows = SpatialJoin.coverRows(regions254, 7)
    assert(coverRows.size < 300000, s"cover blew up: ${coverRows.size} rows")
    assert(coverRows.map(_._1).distinct.size == coverRows.size)
    assert(coverRows.forall { case (_, cands) =>
      cands.nonEmpty && cands.sameElements(cands.sorted.distinct) })
    val pts = extractPlan.select(col("image_id").as("pid"), col("lon"), col("lat"))
    val assigned = SpatialJoin.assignRegions(spark, pts, regions254)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(joinsExchangesAggs(assigned).isEmpty,
      s"join, exchange or aggregate in the assignment:\n${plan.take(3000)}")
  }

  test("region index: under 256 KB serialized, built once per catalog, memo bounded") {
    // the index rides in every task binary of the assignment's stage
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    for ((name, regions) <- Seq("16 regions" -> Fixtures.regions,
        "254 regions" -> TestCatalogs.regions254)) {
      val bytes = ser.serialize(SpatialJoin.regionIndex(regions, 7)).remaining()
      info(s"$name at res 7: ${SpatialJoin.regionIndex(regions, 7)}, $bytes bytes serialized")
      assert(bytes <= 256 * 1024, s"$name: $bytes bytes")
    }
    // two plans over one catalog share one index object
    val pts = extractPlan.select(col("image_id").as("pid"), col("lon"), col("lat"))
    val Seq(a) = regionIndexes(SpatialJoin.assignRegions(spark, pts))
    val Seq(b) = regionIndexes(SpatialJoin.assignRegions(spark, pts))
    assert(a eq b)
    assert(a eq SpatialJoin.regionIndex(Fixtures.regions, 7))
    // an equal catalog hits; MaxIndexes other catalogs evict it
    val first = SpatialJoin.regionIndex(TestCatalogs.regions254.take(1), 7)
    assert(SpatialJoin.regionIndex(TestCatalogs.regions254.take(1), 7) eq first)
    for (k <- 2 to SpatialJoin.MaxIndexes + 1)
      SpatialJoin.regionIndex(TestCatalogs.regions254.take(k), 7)
    assert(!(SpatialJoin.regionIndex(TestCatalogs.regions254.take(1), 7) eq first),
      "the memo kept more than MaxIndexes catalogs")
  }

  test("fused flagship entry(): one exchange, no join-back of the tile explode") {
    // the r3 plan joined tileAssign(p) back to assignRegions(p) on pid —
    // two scans of the extract plus a shuffle join of the ×5-exploded tile
    // side; the fused plan passes lon/lat through the assignment and
    // explodes on its output. The one exchange and aggregate left are the
    // derived point table's own DISTINCT on pid; over a stored images table
    // (Bench.flagship, perfbench) there are none, and the whole plan is one
    // whole-stage-codegen stage: scan → filter → project → generate.
    val dir = "/root/testdata/sf0.001"
    val df = SparkEntry.flagshipEntry(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(joinsExchangesAggs(df) == joinsExchangesAggs(graft.functions.GeoCols
      .derivedPoints(spark, dir)), s"assignment adds a node:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"a join in the plan:\n${plan.take(3000)}")
    assert(df.limit(1).count() == 1)
    val bench = Bench.flagshipPlan(ImageFixture.read(spark, tableDir))
    bench.collect() // AQE: inspect the final executed plan
    val executed = bench.queryExecution.executedPlan
    assert(joinsExchangesAggs(bench).isEmpty,
      s"join, exchange or aggregate in Bench.flagship:\n$executed")
    val nodes = physical(executed)
    assert(nodes.count(_.isInstanceOf[WholeStageCodegenExec]) == 1 &&
      nodes.exists(_.isInstanceOf[GenerateExec]), s"not one codegen stage:\n$executed")
  }

  test("Bench.flagship runs as one Spark job") {
    val bench = Bench.flagshipPlan(ImageFixture.read(spark, tableDir))
    val jobs = jobsOf(bench.write.format("noop").mode("overwrite").save())
    assert(jobs == 1, s"$jobs jobs:\n${bench.queryExecution.executedPlan}")
  }

  test("mvt tile pipeline: no joins or windows, one exchange capped or not") {
    val feats = ImageFixture.read(spark, tableDir).drop("bytes")
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Boolean) = {
      val plan = df.queryExecution.executedPlan.toString
      (plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning")),
        plan.contains("Join") || plan.contains("Window"))
    }
    val (exU, joinU) = shape(graft.sinks.Mvt.tilePayloads(
      feats, (2, 4), "t", maxFeaturesPerTile = 0))
    assert(!joinU && exU == 1,
      s"uncapped tile pipeline must be explode + ONE per-tile shuffle ($exU)")
    // the cap is a map-side sort and a sorted group stream on the same
    // per-tile exchange: no window, no exchange of its own
    val (exC, joinC) = shape(graft.sinks.Mvt.tilePayloads(feats, (2, 4), "t"))
    assert(!joinC && exC == 1,
      s"capped tile pipeline must keep the ONE per-tile shuffle ($exC)")
  }

  test("equi-join with a catalog-sized dim side broadcasts") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plan = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("kernel calls run inside whole-stage codegen; no ScalaUDF on the hot path") {
    // a small lineitem key table is all derivedPoints/derivedFeatures read
    val sfDir = Files.createTempDirectory("pq_lineitem").toString
    spark.range(0, 4000).select(col("id").as("l_orderkey"),
        (col("id") % 7 + 1).cast("int").as("l_linenumber"))
      .write.parquet(s"$sfDir/lineitem.parquet")
    // every physical node, paired with whether a WholeStageCodegen span holds it
    def nodes(p: SparkPlan, inWsc: Boolean): Seq[(SparkPlan, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, inWsc)
      case q: QueryStageExec => nodes(q.plan, inWsc = false)
      case w: WholeStageCodegenExec => nodes(w.child, inWsc = true)
      case i: InputAdapter => i.children.flatMap(nodes(_, inWsc = false))
      case o => (o, inWsc) +: o.children.flatMap(nodes(_, inWsc))
    }
    val extract = graft.functions.GeoCols.derivedFeatures(spark, sfDir)
      .filter(PlanBuilder.geometryFilter(MultiPolygon(Seq(Fixtures.requestPolygon)),
        col("kind"), col("lon"), col("lat"), col("cell"), col("rings")))
    val feats = ImageFixture.read(spark, tableDir).drop("bytes")
    for ((name, df) <- Seq("flagshipEntry" -> SparkEntry.flagshipEntry(spark, sfDir),
        "geometryFilter over derivedFeatures" -> extract,
        "Bench.flagship (payload decode)" ->
          Bench.flagshipPlan(ImageFixture.read(spark, tableDir)),
        "ImageTable.derive (ingest)" ->
          ImageTable.derive(ImageFixture.generate(spark, 200, 2)),
        "KML placemarks" -> feats.select(Sinks.kmlPlacemarkCol(feats)))) {
      df.collect() // AQE: inspect the final executed plan
      val all = nodes(df.queryExecution.executedPlan, inWsc = false)
      val plan = df.queryExecution.executedPlan.toString
      assert(!all.exists(_._1.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))),
        s"$name: ScalaUDF in the plan:\n$plan")
      val kernelNodes = all.filter { case (n, _) =>
        (n.isInstanceOf[FilterExec] || n.isInstanceOf[ProjectExec]) &&
          n.expressions.exists(_.exists(e =>
            e.isInstanceOf[Invoke] || e.isInstanceOf[StaticInvoke]))
      }
      assert(kernelNodes.nonEmpty, s"$name: no kernel call found:\n$plan")
      kernelNodes.foreach { case (n, inWsc) =>
        assert(inWsc, s"$name: ${n.nodeName} runs outside whole-stage codegen:\n$plan")
      }
    }
  }
}
