package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, in the layers of the repository:
  * `pipeline` (landing), `streaming` (the three medallion streams),
  * `table` (MERGE commits, change feed, maintained views), `catalog` (SQL
  * reads), and `spark` (the engine underneath). */
object Layers {
  val Streams: Seq[String] = Seq("bronze", "silver", "gold")
  val Labels: Seq[String] = Seq("merge-prune", "merge-stage", "table-ingest",
    "table-cdf-write", "table-touched-scan", "unlabelled")
  val Reads: Seq[String] = Seq("time_travel", "cdf_read", "point_read")
  val RollupLayers: Seq[String] = Seq("pipeline", "streaming", "table", "catalog")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Seq("pipeline.land_ms" -> "ms", "pipeline.landed_bytes" -> "bytes",
      "streaming.bronze.landing_files" -> "count") ++
      Streams.flatMap(s => Seq(s"streaming.$s.drain_ms" -> "ms", s"streaming.$s.start_ms" -> "ms",
        s"streaming.$s.plan_ms" -> "ms", s"streaming.$s.wal_ms" -> "ms",
        s"streaming.$s.add_batch_ms" -> "ms", s"streaming.$s.batches" -> "count",
        s"streaming.$s.input_rows" -> "count")) ++
      Labels.flatMap(l => Seq(s"table.$l.jobs" -> "count", s"table.$l.job_ms" -> "ms",
        s"table.$l.gap_ms" -> "ms")) ++
      Seq("table.jobs_per_commit" -> "count", "table.driver_gap_ms" -> "ms",
        "table.merge_shape.broadcast" -> "count", "table.merge_shape.full_outer" -> "count",
        "table.rows_rewritten_per_changed_row" -> "ratio",
        "table.data_bytes_written" -> "bytes", "table.change_bytes_written" -> "bytes",
        "table.manifest_bytes_written" -> "bytes", "table.commits" -> "count",
        "table.live_files" -> "count", "table.refresh_agg_ms" -> "ms",
        "table.refresh_join_ms" -> "ms", "table.refresh_cdf_rows" -> "count") ++
      Reads.flatMap(r => Seq(s"catalog.$r.plan_ms" -> "ms", s"catalog.$r.exec_ms" -> "ms",
        s"catalog.$r.files_read" -> "count", s"catalog.$r.files_total" -> "count")) ++
      Seq("spark.plan.analysis_ms" -> "ms", "spark.plan.optimization_ms" -> "ms",
        "spark.plan.planning_ms" -> "ms", "spark.actions" -> "count",
        "spark.exec.task_ms" -> "ms", "spark.exec.gc_ms" -> "ms", "spark.exec.tasks" -> "count",
        "spark.exec.input_bytes" -> "bytes", "spark.exec.output_bytes" -> "bytes",
        "spark.exec.shuffle_read_bytes" -> "bytes", "spark.exec.shuffle_write_bytes" -> "bytes",
        "spark.exec.busy_ratio" -> "ratio") ++
      RollupLayers.map(l => s"rollup.$l.self_ms" -> "ms") ++
      Seq("rollup.driver_gap_ms" -> "ms", "rollup.traced_wall_ms" -> "ms")

  private def layerOf(span: String): String = span.takeWhile(_ != '.')

  /** Spans whose jobs are Silver commits: the Silver stream's
    * `foreachBatch` merge, or a direct `mergeBatchIntoSilver`. */
  private def isCommit(span: String): Boolean =
    span == "streaming.silver" || span == "table.commit"
  private def isWrite(span: String): Boolean =
    isCommit(span) || span == "streaming.gold" || span.startsWith("table.")

  def compute(w: Workload, cores: Int): mutable.LinkedHashMap[String, Double] = {
    val t = w.tracer
    t.drain()
    val out = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { case (n, _) => out(n) = 0.0 }
    val spans = t.spans.toIndexedSeq
    val jobsBySpan = t.jobs.values.asScala.toSeq.filter(_.endMs >= 0).groupBy(_.span)
    def spanOf(ms: Double) = spans.find(s => s.startMs <= ms && ms < s.endMs)

    // pipeline
    out("pipeline.land_ms") = spans.filter(_.name == "pipeline.land").map(_.ms).sum
    out("pipeline.landed_bytes") = w.landedBytes.toDouble
    out("streaming.bronze.landing_files") = w.landingFiles.lastOption.getOrElse(0).toDouble

    // streaming: each query's progress events, by the stream that started it
    val progress: Map[String, Seq[StreamingQueryProgress]] =
      t.progress.asScala.toSeq.flatMap { case (id, ps) =>
        Option(t.streamOf.get(id)).map(_ -> ps.asScala.toSeq)
      }.groupMap(_._1)(_._2).view.mapValues(_.flatten).toMap
    Streams.foreach { s =>
      val ps = progress.getOrElse(s, Seq.empty)
      def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      val drain = spans.filter(_.name == s"streaming.$s").map(_.ms).sum
      out(s"streaming.$s.drain_ms") = drain
      out(s"streaming.$s.start_ms") = drain - d("triggerExecution")
      out(s"streaming.$s.plan_ms") = d("latestOffset") + d("getBatch") + d("queryPlanning")
      out(s"streaming.$s.wal_ms") = d("walCommit") + d("commitOffsets")
      out(s"streaming.$s.add_batch_ms") = d("addBatch")
      out(s"streaming.$s.batches") = ps.count(_.numInputRows > 0).toDouble
      out(s"streaming.$s.input_rows") = ps.map(_.numInputRows).sum.toDouble
    }

    // table: jobs of the write path by engine label; gap = driver time
    // before a job since the span started or the previous job ended
    val writeSpans = spans.filter(s => isWrite(s.name))
    writeSpans.foreach { s =>
      var lastEnd = s.startMs
      jobsBySpan.getOrElse(s.id, Seq.empty).sortBy(_.startMs).foreach { j =>
        out(s"table.${j.label}.jobs") += 1
        out(s"table.${j.label}.job_ms") += (j.endMs - j.startMs)
        out(s"table.${j.label}.gap_ms") += math.max(0.0, j.startMs - lastEnd)
        lastEnd = math.max(lastEnd, j.endMs.toDouble)
      }
    }
    val commits = spans.filter(s => isCommit(s.name))
    val commitJobs = commits.map(s => jobsBySpan.getOrElse(s.id, Seq.empty).size).sum
    out("table.jobs_per_commit") = if (commits.isEmpty) 0.0 else commitJobs.toDouble / commits.size
    out("table.driver_gap_ms") = commits.map { s =>
      s.ms - Tracer.covered(jobsBySpan.getOrElse(s.id, Seq.empty)
        .map(j => (j.startMs.toDouble, j.endMs.toDouble)), s.startMs, s.endMs)
    }.sum
    t.mergeShapes.asScala.foreach { case (time, desc, shape) =>
      if (desc == "merge:stage silver" && spanOf(time.toDouble).isDefined)
        out.get(s"table.merge_shape.$shape").foreach(_ => out(s"table.merge_shape.$shape") += 1)
    }
    writeAmplification(w, out)
    out("table.refresh_agg_ms") = spans.filter(_.name == "table.refresh-agg").map(_.ms).sum
    out("table.refresh_join_ms") = spans.filter(_.name == "table.refresh-join").map(_.ms).sum
    out("table.refresh_cdf_rows") = if (w.name == "serve") w.cdfRowsRefreshed.toDouble else 0.0

    // catalog: each read's own query execution; engine planning: every
    // action whose first Catalyst phase began inside a span
    Reads.foreach { r =>
      val wall = spans.filter(_.name == s"catalog.$r").map(_.ms).sum
      out(s"catalog.$r.plan_ms") = w.readPlanMs(r).toDouble
      out(s"catalog.$r.exec_ms") = wall - w.readPlanMs(r)
      out(s"catalog.$r.files_read") = w.filesRead(r).toDouble
      out(s"catalog.$r.files_total") = w.filesTotal(r).toDouble
    }
    val actions = t.actions.asScala.toSeq.filter(a => spanOf(a._1.toDouble).isDefined)
    out("spark.plan.analysis_ms") = actions.map(_._2).sum.toDouble
    out("spark.plan.optimization_ms") = actions.map(_._3).sum.toDouble
    out("spark.plan.planning_ms") = actions.map(_._4).sum.toDouble
    out("spark.actions") = actions.size.toDouble
    out("spark.exec.task_ms") = t.taskMs.sum.toDouble
    out("spark.exec.gc_ms") = t.gcMs.sum.toDouble
    out("spark.exec.tasks") = t.tasks.sum.toDouble
    out("spark.exec.input_bytes") = t.inputBytes.sum.toDouble
    out("spark.exec.output_bytes") = t.outputBytes.sum.toDouble
    out("spark.exec.shuffle_read_bytes") = t.shuffleRead.sum.toDouble
    out("spark.exec.shuffle_write_bytes") = t.shuffleWrite.sum.toDouble

    // roll-up: each instant of a span goes to the layer of the earliest
    // running job (engine-labelled jobs are the table layer's), else to the
    // span's own layer when the span runs no jobs by design (landing), else
    // to the driver gap
    val wall = spans.map(_.ms).sum
    out("rollup.traced_wall_ms") = wall
    out("spark.exec.busy_ratio") = if (wall > 0) t.taskMs.sum / (wall * cores) else 0.0
    spans.foreach { s =>
      val js = jobsBySpan.getOrElse(s.id, Seq.empty).map { j =>
        val layer = if (j.label == "unlabelled") layerOf(s.name) else "table"
        (j.startMs.toDouble, j.endMs.toDouble, layer)
      }.sortBy(_._1)
      val cuts = (Seq(s.startMs, s.endMs) ++ js.flatMap(j => Seq(j._1, j._2)))
        .filter(x => x >= s.startMs && x <= s.endMs).distinct.sorted
      cuts.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
        val mid = (a + b) / 2
        js.find(j => j._1 <= mid && mid < j._2) match {
          case Some(j) => out(s"rollup.${j._3}.self_ms") += b - a
          case None if s.name == "pipeline.land" => out("rollup.pipeline.self_ms") += b - a
          case None => out("rollup.driver_gap_ms") += b - a
        }
      }
    }
    out
  }

  /** Silver's write amplification over the commits of the timed loop,
    * from its manifests and the files they name. */
  private def writeAmplification(w: Workload, out: mutable.Map[String, Double]): Unit = {
    val silver = w.silver
    val root = silver.root
    val vs = silver.versions.filter(_ >= w.firstTimedVersion)
    var rows, changed = 0L
    vs.foreach { v =>
      val m = silver.manifest(v)
      val added = m.addedFiles.toSet
      val entries = m.dataFiles.filter(f => added(f.path))
      rows += entries.flatMap(_.rows).sum
      out("table.data_bytes_written") += entries.map(f => size(root.resolve(f.path))).sum
      out("table.change_bytes_written") += m.changeFiles
        .map(n => size(Path.of(silver.changesLocation).resolve(n))).sum
      out("table.manifest_bytes_written") +=
        size(root.resolve("_commits").resolve(f"$v%020d.json"))
      changed += w.versions.get(v).map(_._2.rows).getOrElse(0L)
    }
    out("table.rows_rewritten_per_changed_row") =
      if (changed == 0) 0.0 else rows.toDouble / changed
    out("table.commits") = vs.size.toDouble
    out("table.live_files") = silver.latestManifest.dataFiles.size.toDouble
  }

  private def size(p: Path): Double = if (Files.exists(p)) Files.size(p).toDouble else 0.0
}
