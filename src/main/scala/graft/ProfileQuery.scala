package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only profiling harness (optimization rounds): runs named
  * `SparkEntry.queries` rows exactly like [[Bench]] (prepare →
  * quiesce → noop-sink force) and prints a per-Spark-job breakdown —
  * wall time, task count, task-time sum, shuffle bytes, callsite — so
  * the expensive jobs inside a multi-job row (fixture merges, view
  * refreshes, staged writes) are attributable to source lines instead
  * of guessed at. Never invoked by the driver; output is human-read.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileQuery q_view_chain[,q_x]"
  */
object ProfileQuery {
  private final case class JobRec(
      jobId: Int, var desc: String, t0: Long, var wallMs: Double = 0,
      var tasks: Int = 0, var taskMs: Long = 0, var shufR: Long = 0,
      var shufW: Long = 0, var stages: List[String] = Nil)

  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(sys.error("usage: ProfileQuery <q_name[,q_name...]> [passes]"))
    val passes = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-action Catalyst phase times (analysis/optimization/planning)
    // from the QueryPlanningTracker — decomposes the "driver-side gaps"
    // the job listener reports into named planning phases
    val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
    val actions = new java.util.concurrent.atomic.LongAdder
    val execMs = new java.util.concurrent.atomic.LongAdder
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        actions.increment()
        execMs.add(durationNs / 1000000L)
        qe.tracker.phases.foreach { case (phase, summary) =>
          phaseMs.computeIfAbsent(phase, _ => new java.util.concurrent.atomic.LongAdder)
            .add(summary.durationMs)
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    })

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
        order.add(e.jobId)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(r => r.wallMs = (e.time - r.t0))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
          .foreach { r =>
            r.tasks += si.numTasks
            val m = si.taskMetrics
            if (m != null) {
              r.taskMs += m.executorRunTime
              r.shufR += m.shuffleReadMetrics.totalBytesRead
              r.shufW += m.shuffleWriteMetrics.bytesWritten
            }
            r.stages ::= s"${si.stageId}:${si.name.takeWhile(_ != '\n').take(60)}"
          }
      }
    })

    def runOnce(name: String, label: String, print: Boolean): Double = {
      try SparkEntry.prepares.get(name).foreach(_(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"prepare failed: $e") }
      System.gc(); Thread.sleep(120); System.gc(); Thread.sleep(30)
      jobs.clear(); order.clear(); stageToJob.clear()
      phaseMs.clear(); actions.reset(); execMs.reset()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      if (print) {
        println(f"%n=== $name [$label] wall ${wall}%.2fs, ${order.size} jobs ===")
        val recs = order.toArray(Array.empty[Integer])
          .map(i => jobs.get(i.intValue))
        val totalWall = recs.map(_.wallMs).sum
        println(f"  job wall sum ${totalWall / 1000}%.2fs (gaps = driver-side ${wall - totalWall / 1000}%.2fs)")
        // give the listener bus a beat to drain before reading the sums
        Thread.sleep(300)
        val phases = {
          import scala.jdk.CollectionConverters._
          phaseMs.asScala.toSeq.sortBy(-_._2.sum)
            .map { case (p, v) => f"$p=${v.sum / 1000.0}%.2fs" }.mkString(", ")
        }
        println(f"  actions=${actions.sum} actionWall=${execMs.sum / 1000.0}%.2fs  phases: $phases")
        recs.sortBy(-_.wallMs).take(25).foreach { r =>
          println(f"  ${r.wallMs / 1000}%7.3fs tasks=${r.tasks}%4d taskTime=${r.taskMs / 1000.0}%7.2fs shufR=${r.shufR / 1024}%8dK shufW=${r.shufW / 1024}%8dK  ${r.desc.take(110)}")
        }
        // aggregate wall + preceding driver gap by job label: the gap
        // before a job is the driver work that produced it (planning,
        // codegen, commit protocol of the previous action)
        case class Agg(var n: Int = 0, var wall: Double = 0, var gap: Double = 0)
        val byLabel = scala.collection.mutable.LinkedHashMap[String, Agg]()
        var prevEnd = 0L
        recs.sortBy(_.t0).foreach { r =>
          val a = byLabel.getOrElseUpdate(r.desc.take(60), Agg())
          a.n += 1; a.wall += r.wallMs / 1000
          if (prevEnd > 0) a.gap += math.max(0, r.t0 - prevEnd) / 1000.0
          prevEnd = math.max(prevEnd, r.t0 + r.wallMs.toLong)
        }
        println("  --- by label (n, job wall s, preceding driver-gap s) ---")
        byLabel.toSeq.sortBy(t => -(t._2.wall + t._2.gap)).take(20).foreach {
          case (l, a) => println(f"  ${a.n}%3d  wall ${a.wall}%7.2fs  gap ${a.gap}%7.2fs  $l")
        }
      }
      wall
    }

    names.foreach { name =>
      // warmup passes (fixtures, codegen) then one printed pass
      (1 until passes).foreach(i => runOnce(name, s"warm$i", print = false))
      runOnce(name, "profiled", print = true)
    }
    spark.stop()
  }
}
