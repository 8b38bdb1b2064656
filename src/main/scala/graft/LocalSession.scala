package graft

import org.apache.spark.sql.SparkSession

/** The session the command-line mains run on: `local[cpus]` with one
  * shuffle partition per core, UTC session time, no UI, WARN logging.
  */
object LocalSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
