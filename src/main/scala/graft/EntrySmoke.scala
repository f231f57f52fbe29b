package graft

/** Driver-contract smoke: `SparkEntry.entry` must return rows on
  * sf0.001. Exits non-zero when it doesn't (used by the verify skill —
  * piping into `sbt console` is not reliable in this environment). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
