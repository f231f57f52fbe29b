package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session configuration every main and the test suite
  * share: `cores` task threads and as many shuffle partitions, UTC
  * session time, nanosecond parquet timestamps read as longs (see
  * [[Tables.events]]), no UI. */
object LocalSpark {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
