package perfbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds with sub-millisecond resolution, on the same
  * epoch as Spark's listener event times. */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** One timed call into a layer: the unit of every end-to-end sample. */
final case class SpanRec(id: Long, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Times every public call the workloads make. Untraced, it only keeps the
  * spans (their durations are the end-to-end samples). Traced, it also
  * puts the span id in a Spark local property before the call, so every
  * job the call causes (stream threads inherit the property when the
  * query starts) becomes the span's child, and registers the listeners
  * the per-layer roll-up reads. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._

  val spans: mutable.ArrayBuffer[SpanRec] = mutable.ArrayBuffer.empty
  private var nextId = 0L

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    if (traced) sc.setLocalProperty(SpanProp, id.toString)
    val t0 = Clock.nowMs
    try body
    finally {
      spans += SpanRec(id, name, t0, Clock.nowMs)
      if (traced) sc.setLocalProperty(SpanProp, prev)
    }
  }

  // ---------------------------------------------------------- listeners

  final class JobRec(val span: Long, val label: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val spannedStages = ConcurrentHashMap.newKeySet[Int]()
  val taskMs, gcMs, tasks, inputBytes, outputBytes, shuffleRead, shuffleWrite = new LongAdder
  /** (event time, SQL description, merge join shape) of merge-stage executions. */
  val mergeShapes = new ConcurrentLinkedQueue[(Long, String, String)]()
  /** (first phase start, analysis, optimization, planning ms) of each action. */
  val actions = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  val progress = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  /** Query run id → stream name (bronze / silver / gold), filled by the caller. */
  val streamOf = new ConcurrentHashMap[UUID, String]()

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(SpanProp))).foreach { s =>
          val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          jobs.put(e.jobId, new JobRec(s.toLong, labelOf(desc), e.time))
          e.stageIds.foreach(id => spannedStages.add(id))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (spannedStages.contains(e.stageId) && e.taskMetrics != null) {
          val m = e.taskMetrics
          tasks.increment()
          taskMs.add(m.executorRunTime)
          gcMs.add(m.jvmGCTime)
          inputBytes.add(m.inputMetrics.bytesRead)
          outputBytes.add(m.outputMetrics.bytesWritten)
          shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.description.startsWith("merge:stage") =>
          mergeShapes.add((s.time, s.description, shapeOf(s.physicalPlanDescription)))
        case _ =>
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.computeIfAbsent(e.progress.runId, _ => new ConcurrentLinkedQueue()).add(e.progress)
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        actions.add((start, ms("analysis"), ms("optimization"), ms("planning")))
      }
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    })
  }

  /** Blocks until every listener has seen every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Engine labels (`VersionedTable.labeled`) up to the first space, with
    * `:` spelled `-`; jobs without one are `unlabelled`. */
  def labelOf(desc: Option[String]): String =
    desc.map(_.trim).filter(d => d.startsWith("merge:") || d.startsWith("table:"))
      .map(_.takeWhile(_ != ' ').replace(':', '-')).getOrElse("unlabelled")

  /** Which of the two MERGE join plans a merge-stage execution chose. */
  def shapeOf(plan: String): String =
    if (plan.contains("FullOuter")) "full_outer"
    else if (plan.contains("LeftAnti")) "broadcast"
    else "other"

  private val Paths = raw"\((\d+) paths\)".r

  /** Catalyst phase time of one executed query. */
  def planMs(qe: QueryExecution): Long =
    Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get).map(_.durationMs).sum

  /** Files opened by the scans of an executed plan. */
  def scannedFiles(plan: SparkPlan): Int = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case r: ReusedExchangeExec => leaves(r.child)
      case l if l.children.isEmpty => Seq(l)
      case other => other.children.flatMap(leaves)
    }
    leaves(plan).flatMap(l => Paths.findAllMatchIn(l.toString).map(_.group(1).toInt)).sum
  }

  /** Length of the union of [lo, hi) intervals clipped to [from, to). */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curLo.isNaN || a > curHi) {
        if (!curLo.isNaN) total += curHi - curLo
        curLo = a; curHi = b
      } else curHi = math.max(curHi, b)
    }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }
}
