package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession


/** Benchmark of the medallion CDC pipeline, one workload per JVM.
  *
  * Usage: `Main --workload trickle|bulk|serve --seed N --seconds S
  * --trace 0|1 --launch-ms EPOCH_MS --out DIR [--cores C]`, run from the
  * root of a checkout. Prints one JSON object as the last line of standard
  * output: the end-to-end metrics untraced, the per-layer metrics traced.
  * A detailed report (samples, merge shapes, gate misses, set-up phases)
  * goes to `DIR/report-<workload>-s<seed>-t<trace>-c<cores>.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val launchMs = need("launch-ms").toDouble
    val outDir = Paths.get(need("out")).toAbsolutePath
    val cores = opts.getOrElse("cores", "4").toInt
    Sizing.of(workload) // reject an unknown workload before any set-up
    val fixtures = Paths.get("src/test/resources/cdc").toAbsolutePath
    require(Files.isRegularFile(fixtures.resolve("seed.json")),
      s"reference fixtures not found under $fixtures")

    val work = outDir.resolve(s"work-$workload-$seed-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftSparkCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("run/wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerTableChanges(spark)

    var result: Map[String, (Double, String)] = Map.empty
    var attempted = 1L
    var failed = 1L
    val cpuAtStart = cpuTimes
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    def phase(what: String): Unit = {
      val at = (Clock.nowMs - launchMs) / 1000
      phases += what -> at
      System.err.println(f"[perfbench] $at%.2f s: $what")
    }
    phase("session ready")
    try {
      val tracer = new Tracer(spark, traced)
      val w = new Workload(spark, tracer, workload, work.resolve("run"), seed)
      w.setUp(fixtures, phase)
      val setupS = (Clock.nowMs - launchMs) / 1000.0
      val bytesBefore = w.storedBytes
      val wall = w.timedLoop(seconds)
      val bytesGrown = w.storedBytes - bytesBefore
      phase("timed loop done")
      w.finalGates()
      phase("final gates done")
      val e2e = endToEnd(w, setupS, bytesGrown)
      val layers = if (traced) Layers.compute(w, cores) else mutable.LinkedHashMap.empty[String, Double]
      result =
        if (traced) Layers.names.map { case (n, u) => n -> (layers(n), u) }.toMap
        else e2e
      attempted = w.attempted
      failed = w.failed
      val cpu = cpuTimes.zip(cpuAtStart).map { case (a, b) => a - b }
      val stealShare = if (cpu.sum > 0) cpu(7) / cpu.sum else 0.0
      writeReport(outDir, workload, seed, traced, cores, wall, w, e2e, layers, phases.toSeq, stealShare)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        failed = math.max(failed, 1L)
    } finally {
      spark.stop()
      deleteTree(work)
    }
    val metrics = result.toSeq.sortBy(_._1).map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
    if (failed != 0) sys.exit(1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def endToEnd(w: Workload, setupS: Double, bytesGrown: Long): Map[String, (Double, String)] = {
    def s(k: String) = w.samples.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq
    val fresh = s("freshness")
    val timings = Seq("freshness" -> "freshness", "commit" -> "commit", "refresh" -> "refresh",
      "time_travel" -> "time_travel", "cdf_read" -> "cdf_read", "point_read" -> "point_read")
      .map { case (metric, k) => s"${metric}_p50_s" -> (median(s(k)) / 1000, "s") }
    (timings ++ Seq(
      "setup_s" -> (setupS, "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"),
      "records_per_s" -> (w.timedRecords / (fresh.sum / 1000), "rec/s"),
      "stored_bytes_ratio" -> (bytesGrown.toDouble / w.timedJsonBytes, "ratio"))).toMap
  }

  /** The machine's cumulative CPU times (`/proc/stat`: user, nice, system,
    * idle, iowait, irq, softirq, steal); the share lost to steal while a
    * run was measured tells a slow host from a slow program. */
  def cpuTimes: Seq[Double] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.split("\\s+").slice(1, 9).map(_.toDouble).toSeq).getOrElse(Seq.fill(8)(0.0))

  /** High-water resident set of this JVM. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def writeReport(
      outDir: Path, workload: String, seed: Long, traced: Boolean, cores: Int,
      wall: Double, w: Workload, e2e: Map[String, (Double, String)],
      layers: collection.Map[String, Double], phases: Seq[(String, Double)],
      stealShare: Double): Unit = {
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => (if (k.startsWith("\"")) k else s""""$k"""") + s": $v" }.mkString("{", ", ", "}")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val samples = w.samples.map { case (k, xs) =>
      k -> obj(Seq("n" -> xs.size.toString, "median_ms" -> num(median(xs.toSeq)),
        "ms" -> xs.map(num).mkString("[", ", ", "]")))
    }
    val shapes = w.tracer.mergeShapes.asScala.toSeq.map(_._2 + " -> ").zip(
      w.tracer.mergeShapes.asScala.toSeq.map(_._3)).map { case (a, b) => str(a + b) }
    val body = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
      "cores" -> cores.toString, "timed_wall_s" -> num(wall),
      "attempted" -> w.attempted.toString, "failed" -> w.failed.toString,
      "gate_misses" -> w.misses.map(str).mkString("[", ", ", "]"),
      "samples" -> obj(samples),
      "end_to_end" -> obj(e2e.toSeq.sortBy(_._1).map { case (k, (v, _)) => k -> num(v) }),
      "per_layer" -> obj(layers.toSeq.map { case (k, v) => k -> num(v) }),
      "merge_shapes" -> shapes.mkString("[", ", ", "]"),
      "landing_files_at_bronze_start" -> w.landingFiles.mkString("[", ", ", "]"),
      "phases_s" -> obj(phases.map { case (k, v) => str(k) -> num(v) }),
      "cpu_steal_share" -> num(stealShare),
      "jvm_gc" -> obj(java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => str(b.getName) -> s"[${b.getCollectionCount}, ${b.getCollectionTime}]"))))
    Files.createDirectories(outDir)
    Files.writeString(
      outDir.resolve(s"report-$workload-s$seed-t${if (traced) 1 else 0}-c$cores.json"), body + "\n")
  }
}
