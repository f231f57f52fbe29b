package graft

/** Dev-only: dumps `.explain("formatted")` for named queries to files —
  * the before/after plan artifacts of optimization rounds
  * (`plans/r15/<name>_{before,after}.txt`). Never invoked by the driver.
  *
  * Usage: sbt "runMain graft.ExplainQuery <out_dir> <suffix> q_a[,q_b...]"
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainQuery <out_dir> <suffix> <names>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      try {
        // build fixtures first so the plan reflects the steady state
        try SparkEntry.prepares.get(name).foreach(_(spark, sfDir))
        catch { case _: Throwable => () }
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"$name$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[explain] wrote $name$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: $e")
      }
    }
    spark.stop()
  }
}
