package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only (optimization rounds): runs named `SparkEntry.queries` rows
  * and dumps the FORMATTED physical plan of every Spark ACTION whose
  * job description matches a filter — the way to capture plans of
  * engine-internal operations (merge staging joins, ingest writes, CDF
  * writes) that never appear in the declared query's own plan. Never
  * invoked by the driver.
  *
  * Usage: ExplainActions <out_file> <desc_substring> <q_a[,q_b]>
  * Env: SPARK_GRAFT_MERGE_BROADCAST_MAX overrides the merge broadcast
  * budget (set 0 to capture the full-outer fallback shape).
  */
object ExplainActions {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainActions <out> <descFilter> <names>")
    val out = Paths.get(args(0))
    val descFilter = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSpark.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_MERGE_BROADCAST_MAX").foreach(v =>
      spark.conf.set(graft.table.Merge.BROADCAST_SOURCE_MAX_BYTES, v))

    val sb = new StringBuilder
    val seen = new java.util.concurrent.atomic.AtomicInteger
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        // the listener bus thread cannot see the submitting thread's
        // job-description local property, so the filter matches the
        // PLAN TEXT (e.g. "__t_present" marks merge staging plans)
        val plan =
          try qe.explainString(org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable =>
            try s"[formatted explain failed: $e]\n" +
              qe.executedPlan.toString
            catch { case e2: Throwable => s"[explain failed: $e2]" }
          }
        if (plan.contains(descFilter)) {
          sb.synchronized {
            sb.append(s"==== action ${seen.incrementAndGet()} ====\n")
            sb.append(plan)
            sb.append("\n")
          }
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    names.foreach { name =>
      try {
        SparkEntry.prepares.get(name).foreach(_(spark, sfDir))
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[explain-actions] $name failed: $e")
      }
    }
    Thread.sleep(500) // drain the listener bus
    Files.write(out, sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[explain-actions] wrote $out (${seen.get()} actions)")
    spark.stop()
  }
}
