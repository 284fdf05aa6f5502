package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.geo.Fixtures.Lcg

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * Array[Float] ×64, label).
  *
  * - brute-force cosine top-k: broadcast the (tiny) query set, one pass over
  *   the fact table — the exactness baseline;
  * - sign-LSH near-dup: hyperplane-sign buckets so the candidate self-join
  *   touches only same-bucket pairs; plane count is a data-size parameter
  *   ([[planesFor]]) and hot buckets can be salt-capped
  *   ([[nearDupLshCapped]]) so no in-bucket self-join is ever quadratic in
  *   the full table;
  * - IVF: a coarse quantizer TRAINED on a deterministic sample (Lloyd
  *   k-means, fixed init/iterations, both engines), fact-side assignment as
  *   a narrow codegen'd argmin map, query probes as (qid, bucket) rows that
  *   EQUI-join the inverted lists — BroadcastHashJoin, never a nested loop.
  *
  * Dot products are unrolled per-dimension column sums (left-associated, in
  * double), structurally identical in the DuckDB oracle → bit-identical
  * floats.
  */
object Similarity {

  val Dims = 64

  /** Left-associated dot product of two array<float> columns — one kernel
    * call ([[graft.functions.Kernels.dot]]): the former 64-term unrolled
    * Column tree was bit-identical but dominated janino compile and stage
    * eval; the kernel loop accumulates in the same order (first term seeds
    * the accumulator), so results are unchanged. */
  def dotCol(a: Column, b: Column): Column =
    graft.functions.Kernels.dot(Dims, a, b)

  def dotSql(aE: String, bE: String): String =
    (0 until Dims).map(i =>
      s"$aE[${i + 1}]::DOUBLE * $bE[${i + 1}]::DOUBLE").mkString("(", " + ", ")")

  def cosineSql(aE: String, bE: String): String =
    s"(${dotSql(aE, bE)} / (SQRT(${dotSql(aE, aE)}) * SQRT(${dotSql(bE, bE)})))"

  /** Exact top-k cosine neighbors for query vectors (vec_id < nQueries).
    * Output: (qid, rank, vec_id, cos).
    *
    * Deliberately a BroadcastNestedLoopJoin: brute force means every
    * (query, row) pair is scored — that IS the operator. The scale paths are
    * [[annIvf]] (equi-join on probed lists) and [[nearDupLshCapped]]. */
  def annBrute(emb: DataFrame, nQueries: Int = 4, k: Int = 5): DataFrame = {
    // norms are projected ONCE per side before the join (same arithmetic as
    // the per-pair oracle expression → identical doubles, 3× fewer flops)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(dotCol(col("embedding"), col("embedding"))).as("qn"))
    val cand = emb.select(col("vec_id"), col("embedding"),
      sqrt(dotCol(col("embedding"), col("embedding"))).as("n"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    cand.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos",
        round(dotCol(col("qe"), col("embedding")) / (col("qn") * col("n")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
  }

  def annBruteSql(nQueries: Int = 4, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $nQueries),
       |d AS (SELECT q.qid, e.vec_id,
       |        round(${cosineSql("q.qe", "e.embedding")}, 6) AS cos
       |      FROM embeddings e JOIN q ON e.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |      FROM d)
       |SELECT qid, rank, vec_id, cos FROM r WHERE rank <= $k""".stripMargin

  // ---- LSH bucketing ----------------------------------------------------------

  val Planes = 8
  val ProjDims = 16 // project on leading dims: keeps the oracle SQL compact

  /** Plane count as a function of data size: buckets ≈ n / targetBucketSize,
    * so the expected in-bucket self-join stays O(n · targetBucketSize) and
    * never degrades to quadratic as n grows (the fixed-width trap: 8 planes =
    * 256 buckets forever → ~4B vectors per bucket at 10^12 rows). */
  def planesFor(n: Long, targetBucketSize: Long = 1024L): Int = {
    val want = math.max(1L, n / math.max(1L, targetBucketSize))
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(want) // ceil-ish log2
    math.min(24, math.max(Planes, bits))
  }

  /** Fixed random hyperplanes (literal coefficients, deterministic LCG). */
  def hyperplanes(planes: Int): Seq[Array[Double]] = {
    val rng = new Lcg(11L)
    Seq.fill(planes)(Array.fill(ProjDims)(rng.nextDouble() * 2 - 1))
  }

  /** One kernel call ([[graft.functions.Kernels.signBucket]]) — same
    * per-plane left-associated projection and sign test as the former
    * planes×ProjDims Column tree; a null vector lands in bucket 0, as every
    * term of the tree did. */
  def bucketCol(e: Column, planes: Int = Planes): Column =
    coalesce(graft.functions.Kernels.signBucket(hyperplanes(planes).toArray, e),
      lit(0L))

  def bucketSql(eE: String, planes: Int = Planes): String = {
    val hp = hyperplanes(planes)
    (0 until planes).map { j =>
      val proj = (0 until ProjDims).map(i =>
        s"$eE[${i + 1}]::DOUBLE * ${hp(j)(i)}").mkString(" + ")
      s"(CASE WHEN ($proj) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Near-duplicate pairs: same LSH bucket AND cosine ≥ tau. The self-join is
    * an equi-join on `bucket` (shuffled hash/SMJ at scale — never a nested
    * loop); use [[nearDupLshCapped]] when bucket skew is possible. */
  def nearDupLsh(emb: DataFrame, tau: Double = 0.9, planes: Int = Planes): DataFrame = {
    val b = emb.select(col("vec_id"), col("embedding"),
      bucketCol(col("embedding"), planes).as("bucket"),
      sqrt(dotCol(col("embedding"), col("embedding"))).as("n"))
    val left = b.select(col("bucket"), col("vec_id").as("vid1"),
      col("embedding").as("e1"), col("n").as("n1"))
    val right = b.select(col("bucket"), col("vec_id").as("vid2"),
      col("embedding").as("e2"), col("n").as("n2"))
    left.join(right, Seq("bucket"))
      .filter(col("vid1") < col("vid2"))
      .withColumn("cos",
        round(dotCol(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos") >= tau)
      .select(col("vid1"), col("vid2"), col("cos"))
  }

  def nearDupLshSql(tau: Double = 0.9, planes: Int = Planes): String =
    s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding", planes)} AS bucket
       |           FROM embeddings),
       |p AS (SELECT l.vec_id AS vid1, r.vec_id AS vid2,
       |        round(${cosineSql("l.embedding", "r.embedding")}, 6) AS cos
       |      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
       |SELECT vid1, vid2, cos FROM p WHERE cos >= $tau""".stripMargin

  /** Near-dup with a hot-bucket cap: buckets larger than `cap` are split into
    * ceil(size/cap) salt sub-buckets and pairs are generated within a
    * sub-bucket only. Bounds every join group to ~cap rows — the worst-case
    * skewed bucket (boilerplate/duplicate-heavy data) costs O(size · cap)
    * instead of O(size²). Trades recall on capped buckets (cross-salt pairs
    * are skipped), the standard bounded-candidates LSH compromise; buckets
    * under the cap are exhaustive and identical to [[nearDupLsh]]. */
  def nearDupLshCapped(emb: DataFrame, tau: Double = 0.9,
      planes: Int = Planes, cap: Int = 1024): DataFrame = {
    val b = emb.select(col("vec_id"), col("embedding"),
      bucketCol(col("embedding"), planes).as("bucket"),
      sqrt(dotCol(col("embedding"), col("embedding"))).as("n"))
    // bucket histogram is bounded by 2^planes rows: broadcast while that is
    // dim-table-sized; at high plane counts fall back to a shuffle join on
    // bucket (the same key the self-join shuffles on — exchange reused)
    val sizes = b.groupBy(col("bucket")).agg(count(lit(1)).as("bsz"))
    val sizesSide = if (planes <= 16) broadcast(sizes) else sizes
    val salted = b.join(sizesSide, Seq("bucket"))
      .withColumn("nsub",
        greatest(lit(1L), ceil(col("bsz").cast("double") / lit(cap.toDouble)).cast("long")))
      .withColumn("salt", pmod(xxhash64(col("vec_id")), col("nsub")))
    val left = salted.select(col("bucket"), col("salt"), col("vec_id").as("vid1"),
      col("embedding").as("e1"), col("n").as("n1"))
    val right = salted.select(col("bucket"), col("salt"), col("vec_id").as("vid2"),
      col("embedding").as("e2"), col("n").as("n2"))
    left.join(right, Seq("bucket", "salt"))
      .filter(col("vid1") < col("vid2"))
      .withColumn("cos",
        round(dotCol(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos") >= tau)
      .select(col("vid1"), col("vid2"), col("cos"))
  }

  /** Size-adaptive near-dup: plane count from the actual table size
    * ([[planesFor]]) + the hot-bucket cap — the parameterization a 10^12-row
    * corpus needs picked automatically (one count() to size the index,
    * standard for index builds). */
  def nearDupLshAuto(emb: DataFrame, tau: Double = 0.9, cap: Int = 4096): DataFrame =
    nearDupLshCapped(emb, tau, planesFor(emb.count()), cap)

  // ---- IVF (inverted-file) with a TRAINED coarse quantizer -------------------
  //
  // Lloyd k-means with everything pinned so the DuckDB oracle reproduces it
  // relationally:
  //  - training sample: vec_id % SampleMod == 0 (a fixed-rate deterministic
  //    sample; [[sampleModFor]] grows the modulus with n so the collected
  //    sample stays bounded — quantizers are conventionally trained on
  //    samples);
  //  - init: the K sample vectors with vec_id < K·SampleMod, centroid id
  //    c = vec_id / SampleMod;
  //  - Iters Lloyd rounds; assignment tiebreak = lowest centroid id; new
  //    centroid = per-dimension mean ROUNDED to 6 decimals (absorbs
  //    partial-aggregation float-order noise between engines);
  //  - empty clusters drop out (both engines drop them identically).
  //
  // Engine-side execution: the trained centroids are collected to the driver
  // (K×Dims doubles — tiny) and inlined as literals, so full-table assignment
  // is a narrow whole-stage-codegen'd argmin map with NO join, and query
  // probes are (qid, bucket) rows that EQUI-join the lists.

  val DefaultK = 8
  val SampleMod = 4
  val Iters = 2
  val DefaultNProbe = 2

  /** Inverted-list count as a function of table size, k ≈ √(n/targetListSize)
    * (the standard IVF sizing rule): with nprobe fixed, the probed fraction of
    * the table is nprobe/k, which SHRINKS as n grows — the fixed DefaultK=8
    * would pin it at 25 % forever. At n = 10^12 this gives ~15.6k lists of
    * ~64M rows; each list is a shuffle partition group, never a driver
    * structure, so large k costs only centroid-literal size (k × Dims
    * doubles, capped at 64k lists ≈ 32 MB broadcast — still executor-sized).
    * The gate keeps DefaultK pinned so the relational oracle stays fixed. */
  def kListFor(n: Long, targetListSize: Long = 4096L): Int = {
    val want = math.ceil(math.sqrt(
      math.max(1L, n).toDouble / math.max(1L, targetListSize))).toLong
    math.min(65536L, math.max(DefaultK.toLong, want)).toInt
  }

  /** Training-sample modulus as a function of table size: sampleMod ≈
    * n/targetSample bounds each Lloyd round's scan+aggregate to ~targetSample
    * rows no matter how big the table is (the sample itself never leaves the
    * executors — only the K×Dims mean vectors are collected). The fixed
    * SampleMod=4 would make every training iteration a quarter-table pass. */
  def sampleModFor(n: Long, targetSample: Long = 1L << 18): Int = {
    val want = math.max(1L, n) / math.max(1L, targetSample)
    math.min(Int.MaxValue.toLong, math.max(SampleMod.toLong, want)).toInt
  }

  /** Squared-distance argmin score, centroid as a SQL column expression
    * (oracle side): cc − 2·(e·c) — the e·e term is constant per row and
    * argmin-irrelevant. */
  def centroidScoreSql(eE: String, centE: String): String =
    s"(${dotSql(centE, centE)} - 2.0 * ${dotSql(eE, centE)})"

  /** Kernel argmin over the trained centroids — the hot-path twin of the SQL
    * rn-argmin: identical score arithmetic (cc − 2·(e·c), left-associated
    * double sums — same order as [[centroidScoreSql]]) and identical
    * lowest-id tiebreak, evaluated by one compact JIT'd closure instead of a
    * K×Dims×3-term expression tree (which dominated wall time as
    * codegen/compile cost). */
  private def assignKernel(cents: Seq[(Int, Array[Double])]): Seq[Float] => Int = {
    val ids = cents.map(_._1).toArray
    val cs = cents.map(_._2).toArray
    val ccs = cs.map(c => c.map(x => x * x).sum)
    (e: Seq[Float]) => {
      val ea = e.toArray
      var best = -1; var bestScore = Double.MaxValue
      var j = 0
      while (j < cs.length) {
        val cent = cs(j)
        var dot = 0.0; var i = 0
        while (i < cent.length) { dot += ea(i).toDouble * cent(i); i += 1 }
        val score = ccs(j) - 2.0 * dot
        if (score < bestScore) { bestScore = score; best = ids(j) }
        j += 1
      }
      best
    }
  }

  /** Kernel probe list: the `nprobe` nearest centroid ids by (score, id). */
  private def probeKernel(cents: Seq[(Int, Array[Double])], nprobe: Int): Seq[Float] => Array[Int] = {
    val ids = cents.map(_._1).toArray
    val cs = cents.map(_._2).toArray
    val ccs = cs.map(c => c.map(x => x * x).sum)
    (e: Seq[Float]) => {
      val ea = e.toArray
      val scored = ids.indices.map { j =>
        val cent = cs(j)
        var dot = 0.0; var i = 0
        while (i < cent.length) { dot += ea(i).toDouble * cent(i); i += 1 }
        (ccs(j) - 2.0 * dot, ids(j))
      }
      scored.sortBy(identity).take(nprobe).map(_._2).toArray
    }
  }

  /** Train the coarse quantizer: deterministic sample → fixed init → `Iters`
    * Lloyd rounds as DataFrame aggregations. Returns (centroidId, centroid)
    * sorted by id — K×Dims doubles, legitimately driver-sized. */
  def trainCentroids(emb: DataFrame, k: Int = DefaultK,
      sampleMod: Int = SampleMod, iters: Int = Iters): Seq[(Int, Array[Double])] = {
    // bounded by construction (~targetSample rows) and scanned once per
    // Lloyd round plus once for init — cache it for the training loop and
    // release before returning (r06; the persist is training-local)
    val samp = emb.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding")).persist()
    var cents: Seq[(Int, Array[Double])] = samp
      .filter(col("vec_id") < k.toLong * sampleMod)
      .select((col("vec_id") / sampleMod).cast("int").as("c"), col("embedding"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val meanCols = (0 until Dims).map(i =>
      round(avg(element_at(col("embedding"), i + 1).cast("double")), 6).as(s"m$i"))
    for (_ <- 0 until iters) {
      val assignU = udf(assignKernel(cents))
      cents = samp
        .select(col("embedding"), assignU(col("embedding")).as("c"))
        .groupBy(col("c")).agg(meanCols.head, meanCols.tail: _*)
        .collect().toSeq
        .map(r => (r.getInt(0), (1 to Dims).map(r.getDouble).toArray))
        .sortBy(_._1)
    }
    samp.unpersist()
    cents
  }

  /** (vec_id, embedding, bucket) — inverted-list assignment as a narrow map
    * over the trained centroids (no join, no shuffle). */
  def ivfAssign(emb: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame = {
    val assignU = udf(assignKernel(cents))
    emb.select(col("vec_id"), col("embedding"), assignU(col("embedding")).as("bucket"))
  }

  /** Per-query probe rows (qid, qe, qn, bucket): rank centroids per query,
    * keep the `nprobe` nearest — the query side is tiny, so the explode is
    * cheap and scales with queries, not with the table. */
  def ivfProbes(emb: DataFrame, cents: Seq[(Int, Array[Double])],
      nQueries: Int, nprobe: Int = DefaultNProbe): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        sqrt(dotCol(col("embedding"), col("embedding"))).as("qn"))
    val probeU = udf(probeKernel(cents, nprobe))
    q.select(col("qid"), col("qe"), col("qn"),
      explode(probeU(col("qe"))).as("bucket"))
  }

  /** IVF top-k with trained centroids: probe the `nprobe` nearest lists per
    * query, exact cosine rank within candidates. The probe list is exploded
    * to (qid, bucket) rows so the candidate join is an EQUI-join on bucket
    * (BroadcastHashJoin with tiny query side) — the fact table is touched
    * once and only probed-list rows reach the scorer.
    * Output (qid, rank, vec_id, cos). */
  def annIvf(emb: DataFrame, nQueries: Int = 4, k: Int = 5,
      kList: Int = DefaultK, nprobe: Int = DefaultNProbe,
      sampleMod: Int = SampleMod): DataFrame = {
    val cents = trainCentroids(emb, kList, sampleMod)
    val assigned = ivfAssign(emb, cents)
      .withColumn("n", sqrt(dotCol(col("embedding"), col("embedding"))))
    val probes = ivfProbes(emb, cents, nQueries, nprobe)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos",
        round(dotCol(col("qe"), col("embedding")) / (col("qn") * col("n")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Size-adaptive IVF: list count and training-sample rate derived from the
    * actual table size ([[kListFor]]/[[sampleModFor]]) — one count() to size
    * the index, as [[nearDupLshAuto]] does for planes. Probed fraction
    * nprobe/kListFor(n) shrinks as n grows instead of staying 25 %. */
  def annIvfAuto(emb: DataFrame, nQueries: Int = 4, k: Int = 5,
      nprobe: Int = DefaultNProbe): DataFrame = {
    val n = emb.count()
    annIvf(emb, nQueries, k, kListFor(n), nprobe, sampleModFor(n))
  }

  /** Oracle twin: the same sample → init → Lloyd rounds → assignment →
    * probe-rank → equi-join pipeline, fully relational (the oracle has no
    * driver to collect to; identical doubles because every expression is
    * structurally identical and means are rounded on both sides). */
  def annIvfSql(nQueries: Int = 4, k: Int = 5,
      kList: Int = DefaultK, nprobe: Int = DefaultNProbe): String = {
    val meanList = (0 until Dims).map(i =>
      s"round(avg(embedding[${i + 1}]::DOUBLE), 6)").mkString("[", ", ", "]")
    def lloyd(prev: String, a: String, next: String): String =
      s"""$a AS (SELECT s.vec_id, s.embedding, c.c,
         |  ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |    ORDER BY ${centroidScoreSql("s.embedding", "c.cent")}, c.c) AS rn
         |  FROM samp s CROSS JOIN $prev c),
         |$next AS (SELECT c, $meanList AS cent FROM $a WHERE rn = 1 GROUP BY c)""".stripMargin
    val rounds = (0 until Iters).map(i => lloyd(s"c$i", s"a$i", s"c${i + 1}"))
      .mkString(",\n")
    val cFinal = s"c$Iters"
    s"""WITH samp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $SampleMod = 0),
       |c0 AS (SELECT CAST(vec_id // $SampleMod AS INT) AS c, embedding::DOUBLE[] AS cent
       |       FROM samp WHERE vec_id < ${kList.toLong * SampleMod}),
       |$rounds,
       |af AS (SELECT e.vec_id, e.embedding, c.c AS bucket,
       |  ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${centroidScoreSql("e.embedding", "c.cent")}, c.c) AS rn
       |  FROM embeddings e CROSS JOIN $cFinal c),
       |assigned AS (SELECT vec_id, embedding, bucket FROM af WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $nQueries),
       |pr AS (SELECT q.qid, q.qe, c.c AS bucket,
       |  ROW_NUMBER() OVER (PARTITION BY q.qid
       |    ORDER BY ${centroidScoreSql("q.qe", "c.cent")}, c.c) AS prn
       |  FROM q CROSS JOIN $cFinal c),
       |probes AS (SELECT qid, qe, bucket FROM pr WHERE prn <= $nprobe),
       |d AS (SELECT p.qid, a.vec_id,
       |        round(${cosineSql("p.qe", "a.embedding")}, 6) AS cos
       |      FROM assigned a JOIN probes p ON a.bucket = p.bucket AND a.vec_id <> p.qid),
       |r AS (SELECT qid, vec_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |      FROM d)
       |SELECT qid, rank, vec_id, cos FROM r WHERE rank <= $k""".stripMargin
  }
}
