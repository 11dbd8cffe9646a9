package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory every main and the spec suite start
  * from, so all of them plan exactly like `graft.Bench`: `local[cpus]`
  * with shuffle partitions = cpus, AQE on, UTC session time, parquet
  * nanosecond timestamps read as longs (`EventTime` normalizes them),
  * no UI, and WARN logging.
  */
object Sessions {
  /** Core count for local sessions: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
