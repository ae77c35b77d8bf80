package graft

import org.apache.spark.sql.SparkSession

/** The one place a local engine session is built. Bench, Verify, the
  * developer tools and the test suite all take their session from here, so
  * `spark.sql.extensions=graft.GraftExtensions` — the only install path for
  * the engine's SQL functions and plan rules — is set once.
  */
object LocalSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
