package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Incremental maintenance, mirroring the reference's replication pipeline:
  *  - R1: minutely batch upsert of changed features (backend/replication,
  *    osm2pgsql apply) → MERGE-style latest-wins upsert;
  *  - R3: freshness watermark (planet_osm_replication_status.importdate,
  *    builder.py:733-735) → max committed timestamp.
  */
object Incremental {

  /** R1 — latest-wins upsert: rows in `updates` replace same-key rows in
    * `base`; ties broken by `version` descending then update-precedence.
    * One shuffle on the key; at scale both sides are bucketed by key so the
    * window runs co-partitioned. */
  def upsert(base: DataFrame, updates: DataFrame, key: String, version: String): DataFrame = {
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(col(key))
      .orderBy(col(version).desc, col("__src").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** R3 — freshness watermark of a lineage/snapshot table. */
  def watermark(snapshot: DataFrame, tsCol: String = "committed_at"): Long =
    snapshot.agg(max(col(tsCol))).collect().head.getLong(0)
}
