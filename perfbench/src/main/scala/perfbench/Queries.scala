package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** The corpus queries the traced run probes: a fixed cross-section of
  * SparkEntry.queries covering every corpus operator family (dedup, ANN,
  * text, kNN, streaming upsert), two relational shapes and the lightest
  * fixed-cost queries. */
object Queries {
  val Names: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_simhash", "dedup_jaccard", "dedup_exact",
    "ann_ivf", "ann_cosine", "embed_neardup_lsh",
    "token_bpe", "lang_id", "text_quality",
    "geo_knn", "upsert_merge", "q3_join", "w1_window",
    "countries_q", "status_watermark")

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    Names.map(n => n -> SparkEntry.queries(n))

  /** One pass that writes every query's result as parquet, for the DuckDB
    * oracle comparison that runs after the JVM exits. */
  def checkedPass(r: Run, dir: String): Unit = {
    val out = r.dir("corpus_out")
    queries.foreach { case (name, fn) =>
      r.op("check", name) {
        fn(r.spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
      }
    }
    r.extra ++= Seq("corpus_dir" -> dir, "corpus_out" -> out.toString,
      "oracle_sql" -> SparkEntry.oracleSql.filter(q => Names.contains(q._1)))
  }
}
