package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geo.Fixtures.Lcg

/** Near-duplicate detection for the training-data pipeline: MinHash+LSH
  * (shingle → minhash signature → band buckets → candidate join → exact
  * Jaccard verify), SimHash, and n-gram Jaccard.
  *
  * Scale shape (the 100 TB design): signatures are computed map-side with
  * zero shuffle; the only shuffle is the band-bucket self-join, whose key
  * cardinality is ~|docs|·bands and whose skew (hot buckets = boilerplate
  * text) is bounded by banding and handled by AQE skew-join. Exact Jaccard
  * runs only on candidate pairs, never all-pairs.
  *
  * Everything is built-in column expressions (md5/conv/transform/aggregate) —
  * codegen'd, and mirrored 1:1 in DuckDB SQL for the oracle gate.
  */
object Dedup {

  val P = 2147483647L // 2^31-1
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  /** (a_i, b_i) coefficients for the k universal hash functions; a < 2^20 so
    * a·x (x < 2^32) stays far from int64 overflow in both engines. */
  val hashCoef: Seq[(Long, Long)] = {
    val rng = new Lcg(7L)
    Seq.fill(NumHashes)((
      1L + (rng.nextDouble() * ((1L << 20) - 2)).toLong,
      (rng.nextDouble() * (P - 1)).toLong))
  }

  // ---- shingling ------------------------------------------------------------

  /** Distinct word-3-gram shingles over a PRE-BOUND token-array column
    * (token set fallback for docs < 3 tokens).
    *
    * Why the binding matters (r06, guide §1.2/§4.1): higher-order-function
    * lambdas evaluate their body per element, outside whole-stage codegen —
    * with `split(lower(text))` inlined in the lambda, every shingle element
    * re-split the whole document three times (measured: 4.9 s vs ~0.5 s to
    * materialize the sf0.1 signature table). Callers project the token array
    * to a column first, so the lambda reads an attribute. */
  def shinglesOfToks(t: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(1), size(t) - 2), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))))
      .otherwise(array_distinct(t))

  /** (doc_id, sh) with the token array bound as its own projection. */
  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(lower(col("text")), " ").as("_toks"))
      .select(col("doc_id"), shinglesOfToks(col("_toks")).as("sh"))

  val shinglesSql: String = {
    val t = "string_split(lower(text), ' ')"
    s"""(CASE WHEN len($t) >= 3
       | THEN list_distinct(list_transform(range(1, len($t) - 1),
       |        i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2]))
       | ELSE list_distinct($t) END)""".stripMargin.replace("\n", " ")
  }

  // ---- minhash signature ----------------------------------------------------

  /** minhash_i over a PRE-HASHED shingle-id array: the md5 token hash is
    * computed once per shingle, not once per (shingle × hash function) —
    * 16× less md5 work, the dominant signature cost. */
  def minhashCol(shingleIds: Column, i: Int): Column = {
    val (a, b) = hashCoef(i)
    array_min(transform(shingleIds, x => (x * lit(a) + lit(b)) % lit(P)))
  }

  def minhashSql(shingleIdsE: String, i: Int): String = {
    val (a, b) = hashCoef(i)
    s"list_aggregate(list_transform($shingleIdsE, x -> (x * $a + $b) % $P), 'min')"
  }

  /** All [[NumHashes]] minhashes straight from the shingle strings in one
    * JIT'd kernel pass — term-for-term identical to
    * `transform(sh, tokenIdCol)` + [[minhashCol]] per i:
    *  - token id = the first 8 hex chars of md5 parsed base-16, i.e. the
    *    digest's first 4 bytes as an unsigned 32-bit value (same UTF-8
    *    bytes in, same digest, same value out);
    *  - minhash_i = min over (x·a_i + b_i) % P by Long compare (x < 2^32,
    *    a < 2^20 keeps x·a far from overflow);
    *  - null/empty shingle sets (and all-null elements) → null array →
    *    null per-column minhashes, matching array_min's null-on-empty and
    *    null-skipping.
    * One compact call replaces 16 interpreted per-element minhash lambdas
    * PLUS the interpreted per-shingle md5/conv lambda (HOFs are
    * CodegenFallback; the md5 pass alone was ~0.9 s of the sf0.1 signature
    * materialization). */
  private val mhFromShUdf = {
    val coefs = hashCoef.toArray
    udf((sh: scala.collection.Seq[String]) => {
      if (sh == null || sh.isEmpty) null
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val mins = Array.fill(coefs.length)(Long.MaxValue)
        var any = false
        val it = sh.iterator
        while (it.hasNext) {
          val s = it.next()
          if (s != null) {
            any = true
            md.reset()
            val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val x = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
            var i = 0
            while (i < coefs.length) {
              val (a, b) = coefs(i)
              val v = (x * a + b) % P
              if (v < mins(i)) mins(i) = v
              i += 1
            }
          }
        }
        if (!any) null else mins
      }
    })
  }

  /** (doc_id, shingles, mh0..mh15) — one map-side pass. */
  def signatures(docs: DataFrame): DataFrame = {
    val base = shingled(docs)
      .withColumn("_mharr", mhFromShUdf(col("sh")))
    val mhs = (0 until NumHashes).map(i =>
      element_at(col("_mharr"), i + 1).as(s"mh$i"))
    base.select(col("doc_id") +: col("sh") +: mhs: _*)
  }

  /** MinHash-LSH near-dup pairs: band-bucket candidates → exact Jaccard ≥ τ.
    * Output: (did1, did2, jac) with did1 < did2.
    *
    * Cache lifecycle: the (pair-sized) returned frame is the ONLY persisted
    * intermediate that survives the call — signature caches are released
    * before returning. The result's lifecycle is caller-owned: unpersist it
    * after consuming in long-lived sessions.
    *
    * Shuffle hygiene at scale: the band self-join carries ONLY (bucket,
    * doc_id) — candidate pair ids are deduped first, and the (big) shingle
    * arrays are joined back just for the surviving pairs. Shuffling the
    * arrays through the bucket join would multiply the shuffle volume by the
    * signature width for no benefit. */
  def minhashLsh(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val sig = signatures(docs).persist()
    // materialize the cache in one pass BEFORE the self-join builds on it:
    // the join's two branches otherwise race to fill the lazy cache and can
    // compute the signature partitions twice (r06 measurement)
    sig.count()
    val bandKeys = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bkey"))
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val l = buckets.select(col("band"), col("bkey"), col("doc_id").as("did1"))
    val r = buckets.select(col("band"), col("bkey"), col("doc_id").as("did2"))
    val pairs = l.join(r, Seq("band", "bkey"))
      .filter(col("did1") < col("did2"))
      .select(col("did1"), col("did2"))
      .distinct()
    val s1 = sig.select(col("doc_id").as("did1"), col("sh").as("sh1"))
    val s2 = sig.select(col("doc_id").as("did2"), col("sh").as("sh2"))
    val result = pairs.join(s1, Seq("did1")).join(s2, Seq("did2"))
      .select(col("did1"), col("did2"),
        round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))), 4).as("jac"))
      .filter(col("jac") >= tau)
      .persist()
    // materialize the (pair-sized) result, then release the signature cache —
    // the widest intermediate must not outlive the call
    result.count()
    sig.unpersist()
    result
  }

  /** MinHash-LSH with a hot-bucket cap. Bucket CARDINALITY scales with data
    * by construction (bkey hashes the band signature), but bucket SIZE does
    * not: boilerplate/duplicate-heavy corpora concentrate in a few buckets
    * whose in-bucket self-join is quadratic. Buckets above `cap` split into
    * ceil(size/cap) salt sub-buckets; pairs generate within a sub-bucket
    * only — worst case O(size·cap) per bucket instead of O(size²), trading
    * recall only on capped buckets (under-cap buckets are exhaustive and
    * identical to [[minhashLsh]]). The size histogram is keyed exactly like
    * the self-join, so the extra join reuses the same partitioning. */
  def minhashLshCapped(docs: DataFrame, tau: Double = 0.5, cap: Int = 4096): DataFrame = {
    val sig = signatures(docs).persist()
    // materialize the cache in one pass BEFORE the self-join builds on it:
    // the join's two branches otherwise race to fill the lazy cache and can
    // compute the signature partitions twice (r06 measurement)
    sig.count()
    val bandKeys = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("bkey"))
    }
    val buckets = sig
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val sizes = buckets.groupBy(col("band"), col("bkey")).count()
    val salted = buckets.join(sizes, Seq("band", "bkey"))
      .withColumn("nsub",
        greatest(lit(1L), ceil(col("count").cast("double") / lit(cap.toDouble)).cast("long")))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), col("nsub")))
      .select(col("doc_id"), col("band"), col("bkey"), col("salt"))
    val l = salted.select(col("band"), col("bkey"), col("salt"), col("doc_id").as("did1"))
    val r = salted.select(col("band"), col("bkey"), col("salt"), col("doc_id").as("did2"))
    val pairs = l.join(r, Seq("band", "bkey", "salt"))
      .filter(col("did1") < col("did2"))
      .select(col("did1"), col("did2"))
      .distinct()
    val s1 = sig.select(col("doc_id").as("did1"), col("sh").as("sh1"))
    val s2 = sig.select(col("doc_id").as("did2"), col("sh").as("sh2"))
    val result = pairs.join(s1, Seq("did1")).join(s2, Seq("did2"))
      .select(col("did1"), col("did2"),
        round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))), 4).as("jac"))
      .filter(col("jac") >= tau)
      .persist()
    // materialize the (pair-sized) result, then release the signature cache —
    // the widest intermediate must not outlive the call
    result.count()
    sig.unpersist()
    result
  }

  def minhashLshSql(tau: Double = 0.5): String = {
    val mhs = (0 until NumHashes).map(i => s"${minhashSql("shids", i)} AS mh$i").mkString(", ")
    val bands = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc_id, sh, $b AS band, md5($cols) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       |shi AS (SELECT doc_id, sh,
       |        list_transform(sh, s -> ${TextOps.tokenIdSql("s")}) AS shids FROM sh),
       |sig AS (SELECT doc_id, sh, $mhs FROM shi),
       |buckets AS ($bands),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS did1, r.doc_id AS did2,
       |    round(len(list_filter(l.sh, x -> list_contains(r.sh, x)))::DOUBLE
       |          / len(list_distinct(l.sh || r.sh)), 4) AS jac
       |  FROM buckets l JOIN buckets r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
       |SELECT did1, did2, jac FROM cand WHERE jac >= $tau""".stripMargin
  }

  // ---- simhash ----------------------------------------------------------------

  val SimBits = 32

  /** 32-bit SimHash over token frequency (explode → 32 conditional sums →
    * bit assembly; one shuffle keyed by doc_id, partial-agg combined). */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("th", TextOps.tokenIdCol(col("tok")))
    val sums = (0 until SimBits).map(i =>
      sum(shiftright(col("th"), i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"b$i"))
    val agg = tok.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    val bits = (0 until SimBits).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    agg.select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  def simhashSql: String = {
    val sums = (0 until SimBits).map(i =>
      s"SUM(((th >> $i) & 1) * 2 - 1) AS b$i").mkString(", ")
    val bits = (0 until SimBits).map(i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, ${TextOps.tokenIdSql("t.tok")} AS th
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents) t),
       |agg AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id)
       |SELECT doc_id, ($bits) AS simhash FROM agg""".stripMargin
  }

  // ---- n-gram Jaccard (linear scan over adjacent ids) -------------------------

  /** Jaccard similarity of word-3-gram sets between consecutive doc ids —
    * the exact-verify kernel of the LSH pipeline, oracle-checkable end to
    * end without an all-pairs blowup. */
  def jaccardAdjacent(docs: DataFrame): DataFrame = {
    val s = shingled(docs)
    val a = s.select(col("doc_id").as("did1"), col("sh").as("sh1"))
    val b = s.select((col("doc_id") - 1).as("did1"), col("doc_id").as("did2"), col("sh").as("sh2"))
    a.join(b, Seq("did1"))
      .select(col("did1"), col("did2"),
        round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))), 4).as("jac"))
  }

  val jaccardAdjacentSql: String =
    s"""WITH s AS (SELECT doc_id, $shinglesSql AS sh FROM documents)
       |SELECT a.doc_id AS did1, b.doc_id AS did2,
       |  round(len(list_filter(a.sh, x -> list_contains(b.sh, x)))::DOUBLE
       |        / len(list_distinct(a.sh || b.sh)), 4) AS jac
       |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1""".stripMargin
}
