package graft

import org.apache.spark.sql.SparkSession

/** The local session Verify, Bench and the probe tool run on:
  * `local[cpus]` with as many shuffle partitions, UTC session time,
  * parquet nanosecond timestamps read as longs, no UI, WARN logging. */
private[graft] object LocalSession {
  /** `SPARK_GRAFT_CPUS` if set, else `default`. */
  def cpus(default: => Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  def apply(cpus: String, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
