package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Incrementally-maintained aggregate views ([[AggView]]): signed-delta
  * maintenance must equal a from-scratch recompute after inserts,
  * updates, deletes, and whole-group disappearance — and replays must
  * be no-ops (the additive update is not idempotent by itself). */
class AggViewSpec extends SparkSpec {
  import spark.implicits._

  private val upsert = Seq(
    WhenMatchedDelete(Some(col("source.__op") === "DELETE")),
    WhenMatchedUpdate(Some(col("source.__op") === "UPSERT")),
    WhenNotMatchedInsert(Some(col("source.__op") =!= "DELETE")))

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("cents", LongType)))

  private def fresh(): (VersionedTable, String) = {
    val root = graft.Scratch.dir("graft-aggv")
    val t = VersionedTable.create(spark, root.resolve("src").toString, schema,
      Map(VersionedTable.PROP_CDF -> "true"))
    Merge.run(t,
      spark.range(1, 61).select($"id",
        concat(lit("g"), ($"id" % 6).cast("string")).as("grp"),
        ($"id" * 10).as("cents"), lit("UPSERT").as("__op")),
      Seq("id"), upsert)
    (t, root.toString)
  }

  private def recompute(t: VersionedTable): DataFrame =
    t.snapshot().groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))

  private def asSet(df: DataFrame) =
    df.select(col("grp"), col("n_rows").cast("long"), col("sum_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("view ≡ recompute through updates, deletes, and group death") {
    val (t, root) = fresh()
    val v = AggView.build(t, s"$root/v", Seq("grp"),
      Seq("cents" -> "cents"))
    assert(asSet(v.table.snapshot()) === asSet(recompute(t)))
    // batch: value changes, row deletes, a new group, and ALL of g5 dies
    val g5Ids = (1L to 60L).filter(_ % 6 == 5)
    val changes =
      spark.range(1, 11).filter($"id" % 6 =!= 5) // id 5 dies below — one action per key
        .select($"id",
          concat(lit("g"), ($"id" % 6).cast("string")).as("grp"),
          ($"id" * 1000).as("cents"), lit("UPSERT").as("__op"))
        .unionByName(Seq((100L, "g9", 7L, "UPSERT")).toDF("id", "grp", "cents", "__op"))
        .unionByName(g5Ids.map(i => (i, "g5", 0L, "DELETE"))
          .toDF("id", "grp", "cents", "__op"))
    Merge.run(t, changes, Seq("id"), upsert)
    assert(v.refresh(t).isDefined)
    assert(asSet(v.table.snapshot()) === asSet(recompute(t)))
    assert(v.table.snapshot().filter($"grp" === "g5").count() === 0L,
      "an emptied group must leave the view")
    assert(v.table.snapshot().filter($"grp" === "g9").count() === 1L)
  }

  test("a row moving between groups shifts both groups' aggregates") {
    val (t, root) = fresh()
    val v = AggView.build(t, s"$root/v", Seq("grp"), Seq("cents" -> "cents"))
    // id 7 moves g1 -> g2 with a new value: preimage decrements g1,
    // postimage increments g2
    Merge.run(t, Seq((7L, "g2", 12345L, "UPSERT")).toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    v.refresh(t)
    assert(asSet(v.table.snapshot()) === asSet(recompute(t)))
  }

  test("refresh is exactly-once under replay and watermark-aware") {
    val (t, root) = fresh()
    val v = AggView.build(t, s"$root/v", Seq("grp"), Seq("cents" -> "cents"))
    Merge.run(t, Seq((1L, "g1", 99999L, "UPSERT")).toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    assert(v.refresh(t).isDefined)
    val state = asSet(v.table.snapshot())
    val ver = v.table.latestVersion
    // a replayed refresh (crash + rerun) must not double-apply deltas:
    // the watermark makes it a no-op without a commit
    assert(v.refresh(t).isEmpty)
    assert(v.table.latestVersion === ver)
    assert(asSet(v.table.snapshot()) === state)
  }

  test("MIN/MAX ≡ recompute: extreme deletion recomputes, growth combines") {
    val (t, root) = fresh()
    val v = AggView.build(t, s"$root/v", Seq("grp"),
      Seq("cents" -> "cents"),
      mins = Seq("cents" -> "cents"), maxs = Seq("cents" -> "cents"))
    def expected() = t.snapshot().groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"),
        min($"cents").as("min_cents"), max($"cents").as("max_cents"))
    def asMmSet(df: DataFrame) = df
      .select($"grp", $"n_rows".cast("long"), $"sum_cents",
        $"min_cents", $"max_cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(asMmSet(v.table.snapshot()) === asMmSet(expected()))

    // growth only: combine path (no source recompute needed for g0)
    Merge.run(t, Seq((200L, "g0", 5L, "UPSERT"), (201L, "g0", 99999L, "UPSERT"))
      .toDF("id", "grp", "cents", "__op"), Seq("id"), upsert)
    assert(v.refresh(t).isDefined)
    assert(asMmSet(v.table.snapshot()) === asMmSet(expected()))
    assert(v.table.snapshot().filter($"grp" === "g0")
      .select($"min_cents", $"max_cents").as[(Long, Long)].head()
      === ((5L, 99999L)))

    // delete BOTH extremes of g0: only a source recompute can find the
    // new min/max — the batch alone cannot
    Merge.run(t, Seq((200L, "g0", 0L, "DELETE"), (201L, "g0", 0L, "DELETE"))
      .toDF("id", "grp", "cents", "__op"), Seq("id"), upsert)
    assert(v.refresh(t).isDefined)
    assert(asMmSet(v.table.snapshot()) === asMmSet(expected()))

    // update that moves the max DOWN (preimage forces recompute)
    val maxId = t.snapshot().filter($"grp" === "g1")
      .orderBy($"cents".desc).select($"id").as[Long].head()
    Merge.run(t, Seq((maxId, "g1", 1L, "UPSERT")).toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    assert(v.refresh(t).isDefined)
    assert(asMmSet(v.table.snapshot()) === asMmSet(expected()))

    // group death with extremes still deletes the group row
    val g2Ids = t.snapshot().filter($"grp" === "g2").select($"id")
      .as[Long].collect().toSeq
    Merge.run(t, g2Ids.map(i => (i, "g2", 0L, "DELETE"))
      .toDF("id", "grp", "cents", "__op"), Seq("id"), upsert)
    assert(v.refresh(t).isDefined)
    assert(v.table.snapshot().filter($"grp" === "g2").count() === 0L)
    assert(asMmSet(v.table.snapshot()) === asMmSet(expected()))
  }

  test("MIN/MAX recompute of more than IN_LIST_MAX shrunk groups ≡ recompute, plan-bounded") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = graft.Scratch.dir("graft-aggv-wide")
    val t = VersionedTable.create(spark, root.resolve("src").toString, schema,
      Map(VersionedTable.PROP_CDF -> "true"))
    // 1500 single-column groups of two rows each
    Merge.run(t,
      spark.range(0, 3000).select($"id",
        concat(lit("g"), ($"id" % 1500).cast("string")).as("grp"),
        ($"id" * 10).as("cents"), lit("UPSERT").as("__op")),
      Seq("id"), upsert)
    val v = AggView.build(t, root.resolve("v").toString, Seq("grp"),
      Seq("cents" -> "cents"),
      mins = Seq("cents" -> "cents"), maxs = Seq("cents" -> "cents"))
    // delete the max row of 1200 groups: every one of them shrinks
    val shrunk = 1200
    assert(shrunk > VersionedTable.IN_LIST_MAX)
    t.deleteWhere($"id" >= 1500L && $"id" < 1500L + shrunk)

    // the widest IN/INSET of every plan the refresh executes, cached
    // and adaptive sub-plans included
    def widest(p: QueryPlan[_]): Int = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan, a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation)
        case _ => Nil
      }
      (p.expressions.flatMap(_.collect {
        case i: In    => i.list.size
        case i: InSet => i.hset.size
      }) ++ (p.children ++ p.innerChildren ++ nested).collect {
        case q: QueryPlan[_] => widest(q)
      }).maxOption.getOrElse(0)
    }
    val widths = new ConcurrentLinkedQueue[Int]()
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "__plan_marker")) markerSeen = true
        else widths.add(widest(qe.optimizedPlan))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(v.refresh(t).isDefined)
      // listener events arrive in order: once the marker's is in, so
      // are the refresh's
      spark.range(1).select($"id".as("__plan_marker")).collect()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(100)
      assert(markerSeen, "query listener events did not arrive")
    } finally spark.listenerManager.unregister(listener)
    val planWidest = widths.toArray.map(_.asInstanceOf[Int]).maxOption.getOrElse(0)
    assert(planWidest <= VersionedTable.IN_LIST_MAX,
      s"refresh plan carries a $planWidest-element IN — the shrunk-key count " +
        "leaked into the expression tree")

    val expected = t.snapshot().groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"),
        min($"cents").as("min_cents"), max($"cents").as("max_cents"))
    def asMmSet(df: DataFrame) = df
      .select($"grp", $"n_rows".cast("long"), $"sum_cents",
        $"min_cents", $"max_cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(asMmSet(v.table.snapshot()) === asMmSet(expected))
  }

  test("unsupported aggregates fail with a clear boundary error") {
    val (t, root) = fresh()
    val e = intercept[IllegalArgumentException] {
      graft.catalog.GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '$root/v' AS
           |SELECT grp, COUNT(*) AS n_rows, STDDEV(cents) AS cents
           |FROM '${t.root}' GROUP BY grp""".stripMargin)
    }
    assert(e.getMessage.contains("STDDEV") &&
      e.getMessage.contains("MIN(expr)"),
      s"boundary error must name the offender and the supported set: $e")
  }

  test("an agg-alike SUBSTRING item is not silently eaten as SUM") {
    // `checksum(x) AS c` contains "sum(x) AS c"; an unanchored
    // recognizer dropped such items silently instead of raising the
    // boundary error (ADVICE r7)
    val (t, root) = fresh()
    val e = intercept[IllegalArgumentException] {
      graft.catalog.GraftSql.execute(spark,
        s"""CREATE MATERIALIZED VIEW '$root/v' AS
           |SELECT grp, COUNT(*) AS n_rows, CHECKSUM(cents) AS c
           |FROM '${t.root}' GROUP BY grp""".stripMargin)
    }
    assert(e.getMessage.contains("CHECKSUM"),
      s"boundary error must name the offender: $e")
  }

  test("AVG maintains through exact components ≡ recompute") {
    val (t, root) = fresh()
    val v = AggView.build(t, s"$root/v", Seq("grp"),
      Seq("cents" -> "cents"), avgs = Seq("cents" -> "cents"))
    def expected() = t.snapshot().groupBy($"grp")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"),
        (sum($"cents").cast("double") / count($"cents")).as("avg_cents"))
    def asAvgSet(df: DataFrame) = df
      .select($"grp", $"n_rows".cast("long"), $"sum_cents", $"avg_cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(asAvgSet(v.table.snapshot()) === asAvgSet(expected()))
    // updates + deletes + group death, then the incremental avg must
    // still be BIT-identical to a from-scratch divide (exact operands)
    val g5Ids = (1L to 60L).filter(_ % 6 == 5)
    Merge.run(t,
      Seq((1L, "g1", 777L, "UPSERT"), (100L, "g9", 7L, "UPSERT"))
        .toDF("id", "grp", "cents", "__op")
        .unionByName(g5Ids.map(i => (i, "g5", 0L, "DELETE"))
          .toDF("id", "grp", "cents", "__op")),
      Seq("id"), upsert)
    assert(v.refresh(t).isDefined)
    assert(asAvgSet(v.table.snapshot()) === asAvgSet(expected()))
    assert(v.table.snapshot().filter($"grp" === "g5").count() === 0L)
  }

  test("a group created and deleted inside one span inserts no phantom") {
    val (t, root) = fresh()
    val v = AggView.build(t, s"$root/v", Seq("grp"), Seq("cents" -> "cents"))
    // gX never existed in the view; create + delete in one CDF span
    Merge.run(t, Seq((300L, "gX", 1L, "UPSERT")).toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    Merge.run(t, Seq((300L, "gX", 0L, "DELETE")).toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    assert(v.refresh(t).isDefined)
    assert(v.table.snapshot().filter($"grp" === "gX").count() === 0L,
      "net-zero new group must not materialize a phantom n_rows=0 row")
    assert(asSet(v.table.snapshot()) === asSet(recompute(t)))
  }

  test("SQL surface: MIN/MAX columns create and refresh correctly") {
    val (t, root) = fresh()
    assert(graft.catalog.GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$root/v' AS
         |SELECT grp, COUNT(*) AS n_rows, SUM(cents) AS cents,
         |       MIN(cents) AS cents, MAX(cents) AS cents
         |FROM '${t.root}' GROUP BY grp""".stripMargin).nonEmpty)
    Merge.run(t, Seq((1L, "g1", 0L, "DELETE")).toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    assert(graft.catalog.GraftSql.execute(spark,
      s"REFRESH MATERIALIZED VIEW '$root/v'").nonEmpty)
    val expected = t.snapshot().groupBy($"grp")
      .agg(min($"cents").as("min_cents"), max($"cents").as("max_cents"))
    val got = AggView.load(spark, s"$root/v").table.snapshot()
      .select($"grp", $"min_cents", $"max_cents")
    assert(got.exceptAll(expected.select($"grp", $"min_cents", $"max_cents"))
      .isEmpty)
  }

  test("SQL surface: CREATE (GROUP BY form) / REFRESH MATERIALIZED VIEW") {
    val (t, root) = fresh()
    val created = graft.catalog.GraftSql.execute(spark,
      s"""CREATE MATERIALIZED VIEW '$root/v' AS
         |SELECT grp, COUNT(*) AS n_rows, SUM(cents) AS cents
         |FROM '${t.root}' GROUP BY grp""".stripMargin)
    assert(created.nonEmpty)
    assert(asSet(AggView.load(spark, s"$root/v").table.snapshot()) ===
      asSet(recompute(t)))
    Merge.run(t, Seq((3L, "g7", 777L, "UPSERT")).toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    assert(graft.catalog.GraftSql.execute(spark,
      s"REFRESH MATERIALIZED VIEW '$root/v'").nonEmpty)
    assert(asSet(AggView.load(spark, s"$root/v").table.snapshot()) ===
      asSet(recompute(t)))
  }

  test("self-describing: load + parameterless refresh from properties") {
    val (t, root) = fresh()
    AggView.build(t, s"$root/v", Seq("grp"), Seq("cents" -> "cents"))
    Merge.run(t, Seq((2L, "g0", 1L, "UPSERT")).toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    val v2 = AggView.load(spark, s"$root/v")
    assert(v2.refresh().isDefined)
    assert(asSet(v2.table.snapshot()) === asSet(recompute(t)))
  }

  test("chained IVM: agg view over a join view's CDF stays ≡ recompute") {
    // A ⋈ B → V (JoinView) → GROUP BY → G (AggView over V's table):
    // every level's refresh consumes only the level below's change
    // feed. Run TWO change/refresh cycles — including a dimension
    // update and a fact delete that must propagate through both
    // levels — and G must equal the from-scratch join+aggregate.
    val (a, root) = fresh()
    val bSchema = StructType(Seq(
      StructField("grp", StringType), StructField("region", StringType)))
    val b = VersionedTable.create(spark, s"$root/b", bSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    Merge.run(b,
      Seq(("g0", "r0"), ("g1", "r0"), ("g2", "r1"), ("g3", "r1"),
        ("g4", "r2"), ("g5", "r2")).toDF("grp", "region"),
      Seq("grp"), Seq(WhenMatchedUpdate(None), WhenNotMatchedInsert(None)))
    val v = JoinView.build(a, b, s"$root/v", "id", "grp", "grp",
      Seq("region"), "inner")
    val g = AggView.build(v.table, s"$root/g", Seq("region"),
      Seq("cents" -> "cents"))
    def expected: Set[(String, Long, Long)] =
      a.snapshot().join(b.snapshot(), "grp")
        .groupBy($"region")
        .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
        .select($"region", $"n_rows".cast("long"), $"sum_cents")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def chainUp(): Unit = { v.refresh(a, b); g.refresh(v.table); () }

    // cycle 1: fact churn (update + delete) and a dimension move
    Merge.run(a,
      Seq((1L, "g1", 999L, "UPSERT"), (2L, "g2", 0L, "DELETE"))
        .toDF("id", "grp", "cents", "__op"),
      Seq("id"), upsert)
    Merge.run(b, Seq(("g4", "r9")).toDF("grp", "region"),
      Seq("grp"), Seq(WhenMatchedUpdate(None), WhenNotMatchedInsert(None)))
    chainUp()
    assert(asSet(g.table.snapshot().select($"region".as("grp"),
      $"n_rows", $"sum_cents")) ===
      expected.map { case (r, n, s) => (r, n, s) })

    // cycle 2: kill every g5 fact row — the r2 group shrinks through
    // the join level and the agg level in one chained refresh each
    Merge.run(a,
      a.snapshot().filter($"grp" === "g5")
        .select($"id", $"grp", $"cents", lit("DELETE").as("__op")),
      Seq("id"), upsert)
    chainUp()
    assert(asSet(g.table.snapshot().select($"region".as("grp"),
      $"n_rows", $"sum_cents")) ===
      expected.map { case (r, n, s) => (r, n, s) })
  }
}
