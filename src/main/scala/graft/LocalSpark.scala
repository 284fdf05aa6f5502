package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe shared by `Bench`, `Verify` and the test
  * suite: `local[cpus]`, as many shuffle partitions as cores, UTC session
  * time, no UI, WARN logging. Callers add only their own tuning keys. */
object LocalSpark {
  def session(cpus: Int, appName: String, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
