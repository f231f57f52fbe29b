package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Incrementally-maintained join views ([[JoinView]]): the refresh must
  * (a) equal a from-scratch recompute after arbitrary change batches on
  * BOTH sources, (b) touch only the affected key block, (c) converge
  * under re-runs, for both left and inner views. */
class JoinViewSpec extends SparkSpec {
  import spark.implicits._

  private val upsert = Seq(
    WhenMatchedDelete(Some(col("source.__op") === "DELETE")),
    WhenMatchedUpdate(Some(col("source.__op") === "UPSERT")),
    WhenNotMatchedInsert(Some(col("source.__op") =!= "DELETE")))

  private val aSchema = StructType(Seq(
    StructField("id", LongType), StructField("fk", LongType),
    StructField("val", DoubleType)))
  private val bSchema = StructType(Seq(
    StructField("bid", LongType), StructField("battr", StringType)))

  private def freshPair(): (VersionedTable, VersionedTable, String) = {
    val root = graft.Scratch.dir("graft-jv")
    val a = VersionedTable.create(spark, root.resolve("a").toString, aSchema,
      Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("id"), 4)))
    val b = VersionedTable.create(spark, root.resolve("b").toString, bSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    Merge.run(a,
      spark.range(1, 101).select($"id", ($"id" % 10).as("fk"),
        ($"id" * 1.5).as("val"), lit("UPSERT").as("__op")),
      Seq("id"), upsert)
    Merge.run(b,
      spark.range(0, 10).select($"id".as("bid"),
        concat(lit("attr-"), $"id").as("battr"), lit("UPSERT").as("__op")),
      Seq("bid"), upsert)
    (a, b, root.toString)
  }

  private def mutateSources(a: VersionedTable, b: VersionedTable): Unit = {
    // A: rewrite vals of ids 1-5, delete id 6, insert id 200 (fk 3)
    Merge.run(a,
      spark.range(1, 6).select($"id", ($"id" % 10).as("fk"),
          lit(999.0).as("val"), lit("UPSERT").as("__op"))
        .unionByName(Seq((6L, 6L, 0.0, "DELETE"), (200L, 3L, 42.0, "UPSERT"))
          .toDF("id", "fk", "val", "__op")),
      Seq("id"), upsert)
    // B: rewrite battr of bid 3, delete bid 4
    Merge.run(b,
      Seq((3L, "attr-3-v2", "UPSERT"), (4L, null.asInstanceOf[String], "DELETE"))
        .toDF("bid", "battr", "__op"),
      Seq("bid"), upsert)
  }

  private def recompute(
      a: VersionedTable, b: VersionedTable, joinType: String): DataFrame =
    a.snapshot().join(b.snapshot(), col("fk") === col("bid"), joinType)
      .select(col("id"), col("fk"), col("val"), col("battr"))

  private def asSet(df: DataFrame) =
    df.select(col("id"), col("fk"), col("val"), col("battr"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)))).toSet

  test("left view ≡ recompute after changes on both sources") {
    val (a, b, root) = freshPair()
    val v = JoinView.build(a, b, s"$root/v", "id", "fk", "bid",
      Seq("battr"), "left")
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
    mutateSources(a, b)
    assert(v.refresh(a, b).isDefined)
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
    // deleted B key: its referencing rows survive with null battr
    assert(v.table.snapshot().filter($"fk" === 4 && $"battr".isNull)
      .count() === 10L)
  }

  test("inner view drops rows whose B side vanished") {
    val (a, b, root) = freshPair()
    val v = JoinView.build(a, b, s"$root/v", "id", "fk", "bid",
      Seq("battr"), "inner")
    mutateSources(a, b)
    v.refresh(a, b)
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "inner")))
    assert(v.table.snapshot().filter($"fk" === 4).count() === 0L)
  }

  test("refresh touches only the affected key block") {
    val (a, b, root) = freshPair()
    val v = JoinView.build(a, b, s"$root/v", "id", "fk", "bid",
      Seq("battr"), "left")
    mutateSources(a, b)
    val ver = v.refresh(a, b).get
    // affected: ΔA keys {1..6, 200} ∪ fk∈{3,4} rows (20 ids) — the CDF
    // of the refresh commit must stay within that block, nowhere near
    // the 101-row view
    val touched = v.table.changes(ver).select($"id").distinct().count()
    assert(touched <= 27, s"refresh touched $touched keys (expected ≤ 27)")
    val affectedIds = (1L to 6L).toSet + 200L ++
      (1L to 100L).filter(i => i % 10 == 3 || i % 10 == 4)
    val ids = v.table.changes(ver).select($"id").distinct()
      .as[Long].collect().toSet
    assert(ids.subsetOf(affectedIds), s"unexpected keys: ${ids -- affectedIds}")
  }

  test("a one-key refresh reads O(affected), never a full fact scan") {
    // 2000-row fact table over 16 buckets (~125 rows/file): a refresh
    // that scanned A even once would show up as >=2000 input records
    val root = graft.Scratch.dir("graft-jv-pin")
    val a = VersionedTable.create(spark, root.resolve("a").toString, aSchema,
      Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("id"), 16)))
    val b = VersionedTable.create(spark, root.resolve("b").toString, bSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    Merge.run(a,
      spark.range(1, 2001).select($"id", ($"id" % 10).as("fk"),
        ($"id" * 1.5).as("val"), lit("UPSERT").as("__op")),
      Seq("id"), upsert)
    Merge.run(b,
      spark.range(0, 10).select($"id".as("bid"),
        concat(lit("attr-"), $"id").as("battr"), lit("UPSERT").as("__op")),
      Seq("bid"), upsert)
    val v = JoinView.build(a, b, root.resolve("v").toString,
      "id", "fk", "bid", Seq("battr"), "left")
    // one changed A key, no B changes
    Merge.run(a, Seq((500L, 0L, -1.0, "UPSERT")).toDF("id", "fk", "val", "__op"),
      Seq("id"), upsert)

    // input records of the refresh's jobs only (scoped by job group —
    // the suite's session is shared)
    val group = "jv-refresh-pin"
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          js.stageIds.foreach(groupStages.add(_))
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (groupStages.contains(sc.stageInfo.stageId))
          records.add(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "refresh under metering")
      assert(v.refresh(a, b).isDefined)
      spark.sparkContext.clearJobGroup()
      // let the async listener bus drain before reading the counter
      val deadline = System.nanoTime() + 10e9.toLong
      var last = -1L
      while (System.nanoTime() < deadline &&
          { val c = records.sum(); val moved = c != last; last = c; moved })
        Thread.sleep(300)
      val total = records.sum()
      assert(total > 0L, "metering captured no refresh input")
      assert(total < 2000L,
        s"refresh read $total records — at least one full 2000-row A scan")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
    // and the refresh was still correct
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
    assert(v.table.snapshot().filter($"id" === 500L).select("val")
      .as[Double].head() === -1.0)
  }

  test("refresh is idempotent and watermark-aware") {
    val (a, b, root) = freshPair()
    val v = JoinView.build(a, b, s"$root/v", "id", "fk", "bid",
      Seq("battr"), "left")
    mutateSources(a, b)
    assert(v.refresh(a, b).isDefined)
    val state = asSet(v.table.snapshot())
    val verAfter = v.table.latestVersion
    // already current: no-op, no commit
    assert(v.refresh(a, b).isEmpty)
    assert(v.table.latestVersion === verAfter)
    assert(asSet(v.table.snapshot()) === state)
    // one-sided change (B only) still applies
    Merge.run(b, Seq((7L, "attr-7-v2", "UPSERT")).toDF("bid", "battr", "__op"),
      Seq("bid"), upsert)
    assert(v.refresh(a, b).isDefined)
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
  }

  test("a reloaded view keeps its watermarks and refreshes correctly") {
    val (a, b, root) = freshPair()
    JoinView.build(a, b, s"$root/v", "id", "fk", "bid", Seq("battr"), "left")
    mutateSources(a, b)
    // self-describing: load + refresh need no parameters
    val v2 = JoinView.load(spark, s"$root/v")
    assert(v2.refresh().isDefined)
    assert(asSet(v2.table.snapshot()) === asSet(recompute(a, b, "left")))
  }

  test("SQL surface: CREATE/REFRESH MATERIALIZED VIEW") {
    val (a, b, root) = freshPair()
    val created = graft.catalog.GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$root/v' KEYED BY id AS
         |SELECT a.*, b.battr
         |FROM '${a.root}' a LEFT JOIN '${b.root}' b ON a.fk = b.bid""".stripMargin)
    assert(created.nonEmpty)
    val v = JoinView.load(spark, s"$root/v")
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
    mutateSources(a, b)
    val refreshed = graft.catalog.GraftSql.execute(spark,
      s"REFRESH MATERIALIZED VIEW '$root/v'")
    assert(refreshed.nonEmpty)
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
    // already current: refresh reports no new version
    assert(graft.catalog.GraftSql.execute(spark,
      s"REFRESH MATERIALIZED VIEW '$root/v'").isEmpty)
  }

  test("streaming maintenance drains both sources' changes into the view") {
    val (a, b, root) = freshPair()
    val v = JoinView.build(a, b, s"$root/v", "id", "fk", "bid",
      Seq("battr"), "left")
    mutateSources(a, b)
    graft.streaming.CdcStreams
      .startViewMaintenance(spark, v, a, b, s"$root/_cp/view")
      .awaitTermination()
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
    // restart with nothing new: checkpointed file progress means no new
    // micro-batch work, and the view state is unchanged
    val ver = v.table.latestVersion
    graft.streaming.CdcStreams
      .startViewMaintenance(spark, v, a, b, s"$root/_cp/view")
      .awaitTermination()
    assert(v.table.latestVersion === ver)
    // further one-sided change is picked up by the next drain
    Merge.run(b, Seq((8L, "attr-8-v2", "UPSERT")).toDF("bid", "battr", "__op"),
      Seq("bid"), upsert)
    graft.streaming.CdcStreams
      .startViewMaintenance(spark, v, a, b, s"$root/_cp/view")
      .awaitTermination()
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
  }

  test("snapshotForKeys ≡ isin filter with an O(1)-size plan past IN_LIST_MAX") {
    val root = graft.Scratch.dir("graft-jv-keys")
    val a = VersionedTable.create(spark, root.resolve("a").toString, aSchema,
      Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("id"), 16)))
    Merge.run(a,
      spark.range(1, 4001).select($"id", ($"id" % 10).as("fk"),
        ($"id" * 1.5).as("val"), lit("UPSERT").as("__op")),
      Seq("id"), upsert)
    def ids(df: DataFrame) = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def widestIn(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case i: In    => i.list.size
        case i: InSet => i.hset.size
      })
    }.flatten.maxOption.getOrElse(0)

    val keys: Seq[Any] = (1L to 1500L).map(k => (k * 2): Any) // > IN_LIST_MAX
    val viaKeys = a.snapshotForKeys("id", keys)
    val viaIsin = a.snapshot().filter(col("id").isin(keys: _*))
    assert(ids(viaKeys) === ids(viaIsin))
    // the analyzed+optimized plan must NOT carry a k-literal IN — that
    // is the whole point (VERDICT r8 #7): key membership rides a
    // broadcast semi join, so plan size is independent of k
    val widest = widestIn(viaKeys)
    assert(widest <= VersionedTable.IN_LIST_MAX,
      s"plan carries a $widest-element IN — k leaked into the expression tree")

    // at or below the cap the same call is the literal IN read (parquet
    // row-group pushdown): the same rows, the keys in one IN, no join
    val few: Seq[Any] = (1L to 500L).map(k => (k * 3): Any)
    val viaFew = a.snapshotForKeys("id", few)
    assert(ids(viaFew) === ids(a.snapshot().filter(col("id").isin(few: _*))))
    assert(widestIn(viaFew) === few.size)
    assert(viaFew.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty,
      "a bounded key set at or below IN_LIST_MAX must not plan a semi join")
  }

  test("refresh with IN_LIST_MAX < changed keys ≤ KEY_PRUNE_MAX stays exact") {
    val root = graft.Scratch.dir("graft-jv-midcap")
    val a = VersionedTable.create(spark, root.resolve("a").toString, aSchema,
      Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("id"), 8)))
    val b = VersionedTable.create(spark, root.resolve("b").toString, bSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    Merge.run(a,
      spark.range(1, 4001).select($"id", ($"id" % 2000).as("fk"),
        ($"id" * 1.5).as("val"), lit("UPSERT").as("__op")),
      Seq("id"), upsert)
    Merge.run(b,
      spark.range(0, 2000).select($"id".as("bid"),
        concat(lit("attr-"), $"id").as("battr"), lit("UPSERT").as("__op")),
      Seq("bid"), upsert)
    val v = JoinView.build(a, b, root.resolve("v").toString,
      "id", "fk", "bid", Seq("battr"), "left")
    // 1500 changed B keys: above the literal IN cap, below the prune
    // cap — the refresh must route through the semi-join keyed read
    assert(1500 > VersionedTable.IN_LIST_MAX && 1500 < VersionedTable.KEY_PRUNE_MAX)
    Merge.run(b,
      spark.range(0, 1500).select($"id".as("bid"),
        concat(lit("attr2-"), $"id").as("battr"), lit("UPSERT").as("__op")),
      Seq("bid"), upsert)
    assert(v.refresh(a, b).isDefined)
    assert(asSet(v.table.snapshot()) === asSet(recompute(a, b, "left")))
  }
}
