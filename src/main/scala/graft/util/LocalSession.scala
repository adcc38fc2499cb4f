package graft.util

import org.apache.spark.sql.SparkSession

/** The session `graft.Bench` and `graft.Verify` run in: `local[cpus]`
  * with `cpus` from `SPARK_GRAFT_CPUS` (default 4) and as many shuffle
  * partitions, UTC, nanosecond parquet timestamps read as longs, the
  * graft planner extensions, no UI, WARN logging. */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = Env.orElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
