package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.pipeline.{CdcPipeline, Landing}
import graft.streaming.CdcStreams
import graft.table.{AggView, JoinView, VersionedTable}

/** Sizes of one workload. Files are CDC JSON files (trickle, bulk); serve
  * takes its churn batches as DataFrames. Every file has the reference's
  * shape; Silver is preloaded with 100 keys per record of a file. */
final case class Sizing(filesPerCycle: Int, shape: BatchShape) {
  def preloadKeys: Int = 100 * shape.records
}

object Sizing {
  val trickle = Sizing(1, BatchShape.reference(20))
  val bulk = Sizing(2, BatchShape.reference(2000))
  val serve = Sizing(1, BatchShape.reference(20))

  def of(workload: String): Sizing = workload match {
    case "trickle" => trickle
    case "bulk" => bulk
    case "serve" => serve
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** One workload instance: its tables under `work`, the generator, the
  * reference model, and every end-to-end sample. A closed loop with one
  * caller: each call starts after the previous one returned. */
final class Workload(
    spark: SparkSession,
    val tracer: Tracer,
    val name: String,
    work: Path,
    seed: Long) {

  private val sizing = Sizing.of(name)
  private val gen = new CdcGen(seed)
  private val model = new Model
  private val pick = new java.util.Random(seed * 1000003L + 17L)

  private def dir(p: String): String = work.resolve(p).toString
  private val landing = dir("landing")

  /** Bytes on disk under the workload's tables and checkpoints. */
  def storedBytes: Long = Main.dirBytes(work) - Main.dirBytes(work.resolve("landing"))
  private val bronzeDir = dir("bronze")
  private val silverPath = dir("wh/bench/silver")
  val silver: VersionedTable = CdcPipeline.createSilver(spark, silverPath)
  private val gold = CdcPipeline.createGold(spark, dir("gold"))
  private val streams = name != "serve"
  private var views: Option[(AggView, JoinView, VersionedTable)] = None

  /** Silver version → (country aggregate, that commit's change feed) per the model. */
  val versions: mutable.LinkedHashMap[Long, (Map[String, (Long, Long)], ChangeSummary)] =
    mutable.LinkedHashMap.empty

  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val misses: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** CDC records and their JSON bytes applied by timed cycles. */
  var timedRecords = 0L
  var timedJsonBytes = 0L
  var firstTimedVersion: Long = -1L
  /** Per read kind, in traced runs: Catalyst phase ms, files the scans
    * opened, and files they would open without skipping. */
  val readPlanMs, filesRead, filesTotal: mutable.Map[String, Long] =
    mutable.Map.empty[String, Long].withDefaultValue(0L)
  var landedBytes = 0L
  /** Files in landing at each timed Bronze start: the files its schema
    * inference reads. */
  val landingFiles: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  var cdfRowsRefreshed = 0L

  private var timing = false
  private var cycleNo = 0

  private def sample(metric: String, ms: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += ms

  /** A call into the program: a traced span while timing, plain otherwise. */
  private def op[T](span: String)(body: => T): T =
    if (!timing) body
    else {
      attempted += 1
      try tracer.span(span)(body)
      catch { case e: Throwable => failed += 1; throw e }
    }

  private def lastMs: Double = tracer.spans.last.ms

  /** A correctness gate: untimed, and a miss counts as a failed operation. */
  def gate(what: String, ok: Boolean): Unit = if (!ok) {
    failed += 1
    misses += what
    System.err.println(s"[perfbench] gate missed: $what")
  }

  private def record(batch: Seq[Rec]): Unit = {
    val changes = model.apply(batch)
    versions(silver.latestVersion) = (model.countryAgg, changes)
    if (timing) cdfRowsRefreshed += changes.rows
  }

  // -------------------------------------------------------------- set-up

  /** Untimed: replay the reference fixtures through this workload's own
    * streams and check FIXTURES.md §5 (a miss refuses to time), preload
    * Silver, build the serve views, then run one warm-up cycle so stream
    * checkpoints, caches and the JIT are in place before timing. */
  def setUp(fixtures: Path, phase: String => Unit): Unit = {
    Seq("seed.json", "edge.json").foreach { f =>
      Landing.landFile(fixtures.resolve(f), landing, f)
      drainAll()
    }
    Workload.checkFixtures(spark.read.parquet(bronzeDir).count(), silver, gold)
      .foreach(miss => throw new IllegalStateException(
        s"reference-fixture preflight failed, not timing: $miss"))
    silver.snapshot().collect().foreach { r =>
      val rec = Rec(r.getAs[Long]("id"), r.getAs[String]("country"),
        r.getAs[String]("district"), 0L, r.getAs[Long]("num_visitors"), "INSERT", 0L)
      model.rows(rec.id) = rec
    }
    phase("reference fixtures replayed and checked")

    val preload = gen.inserts(sizing.preloadKeys)
    CdcPipeline.mergeBatchIntoSilver(silver, Rec.toBronzeDf(spark, preload))
    record(preload)
    if (streams) drainStream("gold")(CdcStreams.startGoldAggregate(
      spark, silver, gold, dir("_cp/gold")))
    else {
      val dimSchema = StructType(Seq(
        StructField("d_district", StringType), StructField("region", StringType)))
      val dim = VersionedTable.create(spark, dir("dim"), dimSchema,
        Map(VersionedTable.PROP_CDF -> "true"))
      dim.append(spark.createDataFrame(
        gen.districts.map(d => Row(d, Workload.regionOf(d))).asJava, dimSchema))
      val agg = AggView.build(silver, dir("agg"), Seq("country", "district"),
        sums = Seq("nv" -> "num_visitors"), mins = Seq("nv" -> "num_visitors"),
        maxs = Seq("nv" -> "num_visitors"))
      val join = JoinView.build(silver, dim, dir("joinv"), "id", "district",
        "d_district", Seq("region"))
      views = Some((agg, join, dim))
    }
    phase("silver preloaded")
    cycle()
    phase("warm-up cycle done")
  }

  // -------------------------------------------------------------- cycles

  /** Streams drain inside their span: the query starts and finishes there. */
  private def drainStream(stream: String)(start: => StreamingQuery): Double = {
    op(s"streaming.$stream") {
      val q = start
      if (timing) tracer.streamOf.put(q.runId, stream)
      q.awaitTermination()
    }
    if (timing) lastMs else 0.0
  }

  /** The medallion drain, stage by stage, as `CdcStreams.processAvailable`
    * runs it; returns the Silver and Gold drain times. */
  private def drainAll(): (Double, Double) = {
    if (timing) landingFiles += Option(new java.io.File(landing).list()).map(_.length).getOrElse(0)
    drainStream("bronze")(CdcStreams.startBronzeIngest(
      spark, landing, bronzeDir, dir("_cp/bronze")))
    val commit = drainStream("silver")(CdcStreams.startSilverMerge(
      spark, bronzeDir, silver, dir("_cp/silver")))
    val refresh = drainStream("gold")(CdcStreams.startGoldAggregate(
      spark, silver, gold, dir("_cp/gold")))
    (commit, refresh)
  }

  /** One closed-loop cycle: apply one batch end to end, gate, then read. */
  def cycle(): Unit = {
    cycleNo += 1
    val files = Vector.fill(sizing.filesPerCycle)(gen.batch(sizing.shape))
    val batch = files.flatten
    if (streams) {
      val jsons = files.map(Rec.toJson)
      val t1 = Clock.nowMs
      jsons.zipWithIndex.foreach { case (json, i) =>
        op("pipeline.land")(Landing.land(json, landing, f"cdc-$cycleNo%06d-$i%02d.json"))
        if (timing) landedBytes += json.length
      }
      val (commit, refresh) = drainAll()
      if (timing) {
        sample("freshness", Clock.nowMs - t1)
        sample("commit", commit)
        sample("refresh", refresh)
        timedJsonBytes += jsons.map(_.length.toLong).sum
      }
      record(batch)
      gate(s"gold after cycle $cycleNo", goldRows(gold.snapshot()) == nonZero(model.gold))
    } else {
      val (agg, join, dim) = views.get
      val df = Rec.toBronzeDf(spark, batch)
      val t1 = Clock.nowMs
      op("table.commit")(CdcPipeline.mergeBatchIntoSilver(silver, df))
      val commit = if (timing) lastMs else 0.0
      op("table.refresh-agg")(agg.refresh(silver))
      val refreshAgg = if (timing) lastMs else 0.0
      op("table.refresh-join")(join.refresh(silver, dim))
      if (timing) {
        sample("freshness", Clock.nowMs - t1)
        sample("commit", commit)
        sample("refresh", refreshAgg + lastMs)
        timedJsonBytes += Rec.toJson(batch).length
      }
      record(batch)
      gate(s"agg view after cycle $cycleNo", aggRows(agg.table.snapshot()) == modelAgg)
    }
    if (timing) timedRecords += batch.size
    reads()
  }

  // --------------------------------------------------------------- reads

  /** Four reads of each kind per cycle: the first after a commit is cold,
    * so the median of a run's reads is a warm read. */
  private def reads(): Unit = {
    (1 to Workload.ReadsPerKind).foreach(_ => timeTravel())
    (1 to Workload.ReadsPerKind).foreach(_ => cdfRead())
    (1 to Workload.ReadsPerKind).foreach(_ => pointRead())
  }

  private def read(kind: String)(sql: String): Array[Row] = {
    val (df, rows) = op(s"catalog.$kind") {
      val df = spark.sql(sql)
      (df, df.collect())
    }
    if (timing) {
      sample(kind, lastMs)
      if (tracer.traced) {
        readPlanMs(kind) += Tracer.planMs(df.queryExecution)
        filesRead(kind) += Tracer.scannedFiles(df.queryExecution.executedPlan)
      }
    }
    rows
  }

  private def timeTravel(): Unit = {
    val vs = versions.keys.toIndexedSeq
    val v = vs(vs.size - 1 - pick.nextInt(math.min(vs.size, 8)))
    val rows = read("time_travel")(
      "SELECT country, sum(num_visitors) AS s, count(*) AS n " +
        s"FROM graft.bench.silver VERSION AS OF $v GROUP BY country")
    if (timing && tracer.traced) filesTotal("time_travel") += silver.manifest(v).dataFiles.size
    gate(s"time travel to v$v",
      rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap == versions(v)._1)
  }

  private def cdfRead(): Unit = {
    val vs = versions.keys.toIndexedSeq
    val to = vs.last
    val from = vs(math.max(0, vs.size - 1 - pick.nextInt(math.min(vs.size, 4))))
    val rows = read("cdf_read")(
      "SELECT _change_type, count(*) AS n, sum(num_visitors) AS s " +
        s"FROM table_changes('$silverPath', $from, $to) GROUP BY _change_type")
    if (timing && tracer.traced)
      filesTotal("cdf_read") += vs.map(v => silver.manifest(v).changeFiles.size).sum
    val expected = (from to to).flatMap(versions.get).map(_._2)
      .foldLeft(ChangeSummary(Map.empty))(_ + _)
    gate(s"table_changes $from..$to",
      rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap == expected.byType)
  }

  /** Point reads look up live keys, so each one opens the file holding its
    * row instead of skipping every file for a deleted key. */
  private def pointRead(): Unit = {
    var id = 0L
    do id = CdcGen.FirstId + pick.nextInt((gen.maxId - CdcGen.FirstId + 1).toInt)
    while (!model.rows.contains(id))
    val rows = read("point_read")(
      s"SELECT country, district, num_visitors FROM graft.bench.silver WHERE id = $id")
    if (timing && tracer.traced) filesTotal("point_read") += silver.latestManifest.dataFiles.size
    gate(s"point read of id $id",
      rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
        model.rows.get(id).map(r => (r.country, r.district, r.numVisitors)).toSeq)
  }

  // ---------------------------------------------------------------- loop

  /** Timed closed loop over a window of `seconds`: cycles start until the
    * window has passed, and the cycle in progress then finishes. */
  def timedLoop(seconds: Int): Double = {
    timing = true
    firstTimedVersion = silver.latestVersion + 1
    val start = Clock.nowMs
    val deadline = start + seconds * 1000.0
    while (Clock.nowMs < deadline) cycle()
    timing = false
    (Clock.nowMs - start) / 1000.0
  }

  // --------------------------------------------------------------- gates

  private def nonZero(m: Map[String, Long]): Map[String, Long] = m.filter(_._2 != 0L)

  private def goldRows(df: DataFrame): Map[String, Long] = nonZero(
    df.select("country", "sum_visitors").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)

  private def modelAgg: Map[(String, String), (Long, Long, Long, Long)] =
    model.rows.valuesIterator.toSeq.groupBy(r => (r.country, r.district)).map {
      case (k, rs) =>
        val nv = rs.map(_.numVisitors)
        k -> (rs.size.toLong, nv.sum, nv.min, nv.max)
    }

  private def aggRows(df: DataFrame): Map[(String, String), (Long, Long, Long, Long)] =
    df.select("country", "district", "n_rows", "sum_nv", "min_nv", "max_nv").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap

  private def checksum(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(concat_ws("|",
      cols.map(c => col(c).cast("string")): _*))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** End-of-run gates: Silver ≡ model; Gold ≡ recomputed Gold ≡ model;
    * each view ≡ its recompute ≡ model. */
  def finalGates(): Unit = {
    gate("silver = model", checksum(silver.snapshot(),
      "id", "country", "district", "num_visitors") == model.checksum)
    if (streams) {
      gate("gold = model", goldRows(gold.snapshot()) == nonZero(model.gold))
      gate("recomputed gold = model",
        goldRows(CdcPipeline.recomputedGold(silver)) == nonZero(model.gold))
    }
    views.foreach { case (agg, join, dim) =>
      val recomputed = silver.snapshot().groupBy("country", "district").agg(
        count(lit(1)).as("n_rows"), sum("num_visitors").as("sum_nv"),
        min("num_visitors").as("min_nv"), max("num_visitors").as("max_nv"))
      gate("agg view = model", aggRows(agg.table.snapshot()) == modelAgg)
      gate("agg recompute = model", aggRows(recomputed) == modelAgg)
      val expected = (model.rows.size.toLong, model.rows.valuesIterator.map(r =>
        Rec.crc(r.id, Workload.regionOf(r.district), r.numVisitors)).sum)
      gate("join view = model",
        checksum(join.table.snapshot(), "id", "region", "num_visitors") == expected)
      val d = dim.snapshot()
      gate("join recompute = model", checksum(
        silver.snapshot().join(d, col("district") === d("d_district"), "left"),
        "id", "region", "num_visitors") == expected)
    }
  }
}

object Workload {
  val ReadsPerKind = 4

  /** FIXTURES.md §5 after the seed and edge-case files: what's wrong, if anything. */
  def checkFixtures(bronzeRows: Long, silver: VersionedTable, gold: VersionedTable): Option[String] = {
    val silverRows = silver.snapshot().count()
    val goldRows = gold.snapshot().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map("Australia" -> 10000L, "England" -> 14170L, "Wales" -> 3903L,
      "Northern Ireland" -> 3351L, "Scotland" -> 1934L)
    if (bronzeRows != 24) Some(s"bronze has $bronzeRows rows, expected 24")
    else if (silverRows != 19) Some(s"silver has $silverRows rows, expected 19")
    else if (goldRows != expected) Some(s"gold is $goldRows, expected $expected")
    else None
  }

  def regionOf(district: String): String =
    s"Region_${(district.stripPrefix("District_").toInt - 1) / 5 + 1}"
}
