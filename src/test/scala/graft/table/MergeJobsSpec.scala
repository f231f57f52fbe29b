package graft.table

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The Spark-job structure of one merge commit, and the merge's plan
  * gates: a bucketed CDF merge writes its data and change files in ONE
  * labelled write, re-reads nothing, and runs no job once that write is
  * done (the commit's CAS loop only links files). */
class MergeJobsSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))
  private val upsert = Seq(
    WhenMatchedDelete(Some(col("source.v") === "DEL")),
    WhenMatchedUpdate(),
    WhenNotMatchedInsert())

  /** (description, SQL execution id) of every job `body` runs, and the
    * (description, physical plan) of every SQL execution it starts —
    * scoped by job group, since the suite's session is shared. */
  private def jobsOf(body: => Unit)
      : (Seq[(String, Option[String])], Seq[(String, String)]) = {
    val group = "merge-jobs-pin"
    val jobs = new ConcurrentLinkedQueue[(String, Option[String])]()
    val execs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.add((js.properties.getProperty("spark.job.description"),
            Option(js.properties.getProperty("spark.sql.execution.id"))))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.description.startsWith("merge:") =>
          execs.add((s.description, s.physicalPlanDescription))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "merge under metering")
      try body finally spark.sparkContext.clearJobGroup()
      // let the async listener bus drain before reading the queues
      val deadline = System.nanoTime() + 10e9.toLong
      var last = -1
      while (System.nanoTime() < deadline &&
          { val c = jobs.size + execs.size; val moved = c != last; last = c; moved })
        Thread.sleep(300)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.asScala.toSeq, execs.asScala.toSeq)
  }

  test("a bucketed CDF merge commits from one write job and no job in its CAS loop") {
    val path = Files.createTempDirectory("merge-jobs").resolve("t")
    val t = VersionedTable.create(spark, path.toString, schema,
      Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("id"), 8)))
    Merge.run(t, (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), upsert)
    val batch = Seq((5L, "x5"), (6L, "DEL"), (7L, "x7"), (300L, "n300"))
      .toDF("id", "v")

    var stats: MergeStats = null
    val (jobs, execs) = jobsOf { stats = Merge.run(t, batch, Seq("id"), upsert) }
    assert(stats === MergeStats(Some(2L), 1L, 2L, 1L))

    val labels = jobs.map(_._1)
    // every job is the prune scan or the one write: no `table:ingest`
    // re-read, no `table:cdf-write`, nothing unlabelled after the write
    assert(labels.forall(l => l == "merge:prune" || l == "merge:stage t"),
      s"unexpected jobs: ${labels.distinct}")
    val stageExecs = execs.filter(_._1.startsWith("merge:stage"))
    assert(stageExecs.size === 1, s"merge:stage executions: ${stageExecs.map(_._1)}")
    assert(stageExecs.head._2.contains("InsertIntoHadoopFsRelationCommand"),
      "the merge:stage execution must be the write")
    assert(jobs.filter(_._1 == "merge:stage t").map(_._2).distinct.size === 1,
      "every merge:stage job must belong to the one write")
    assert(stageExecs.head._2.contains("LeftAnti"), "broadcast join shape expected")

    val staging = path.resolve(VersionedTable.STAGING_DIR)
    assert(!Files.exists(staging) ||
      Using.resource(Files.list(staging))(_.iterator.asScala.isEmpty),
      "the commit must leave _staging/ empty")
    // the files the write produced: one per touched bucket, one change file
    val m = t.manifest(2)
    assert(m.changeFiles.size === 1)
    assert(m.addedFiles.size === m.dataFiles.filter(f => m.addedFiles.contains(f.path))
      .flatMap(_.bucket).distinct.size)
    val ch = t.changes(2, Some(2L)).select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(ch === Set((5L, "update_preimage", 2L), (5L, "update_postimage", 2L),
      (7L, "update_preimage", 2L), (7L, "update_postimage", 2L),
      (6L, "delete", 2L), (300L, "insert", 2L)))
  }

  test("the candidate-key broadcast gate admits only keys of a known width") {
    val budget = 100000L
    // 1000 candidate rows keyed by a long: 8 kB of keys
    assert(Merge.keySideFits(Seq(LongType), Some(1000L), budget))
    // keyed by ~200-byte strings they hold ~200 kB, which the 20 B
    // `defaultSize` guess (20 kB) would have admitted
    assert(1000L * StringType.defaultSize <= budget)
    assert(!Merge.keySideFits(Seq(StringType), Some(1000L), budget))
    assert(!Merge.keySideFits(Seq(LongType, StringType), Some(10L), budget))
    // unknown or oversized candidate sets keep the shuffle
    assert(!Merge.keySideFits(Seq(LongType), None, budget))
    assert(!Merge.keySideFits(Seq(LongType), Some(budget), budget))
  }

  test("a string-keyed merge broadcasts its source but shuffles the candidate keys") {
    val path = Files.createTempDirectory("merge-strkey").resolve("t").toString
    val strSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val t = VersionedTable.create(spark, path, strSchema,
      bucketBy = Some(BucketSpec(Seq("k"), 4)))
    def key(i: Long) = f"$i%04d" + "x" * 200
    Merge.run(t, (1L to 1000L).map(i => (key(i), i)).toDF("k", "v"), Seq("k"),
      Seq(WhenMatchedUpdate(), WhenNotMatchedInsert()))
    val budget = 100000L
    // Spark's own size-based broadcast is off, so only the merge's
    // hints decide what broadcasts
    val confs = Map(Merge.BROADCAST_SOURCE_MAX_BYTES -> budget.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (_, execs) = jobsOf {
        Merge.run(t, Seq((key(5L), -5L), (key(2000L), 2000L)).toDF("k", "v"),
          Seq("k"), Seq(WhenMatchedUpdate(), WhenNotMatchedInsert()))
      }
      // ~1000 candidate rows: 20 kB by `defaultSize`, ~200 kB in truth
      val candRows = t.manifest(1).dataFiles.flatMap(_.rows).sum
      assert(candRows * StringType.defaultSize <= budget)
      val plan = execs.filter(_._1.startsWith("merge:stage")).map(_._2).mkString
      assert(plan.contains("BroadcastHashJoin LeftOuter"), "the source still broadcasts")
      assert(plan.contains("LeftAnti") && !plan.contains("BroadcastHashJoin LeftAnti"),
        "the candidate keys must not broadcast")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val got = t.snapshot().as[(String, Long)].collect().toMap
    assert(got.size === 1001 && got(key(5L)) === -5L && got(key(2000L)) === 2000L)
  }
}
