package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The `GLOBAL RANK` statement ([[GlobalRankStatement]]) — the SQL
  * route into RankOps.withGlobalOrder (VERDICT r10 #7):
  *   - result equivalence to the single-partition window forms under
  *     ties, negatives, and both directions;
  *   - the 100 TB property the statement exists for: ZERO
  *     partition-less Window nodes in the optimized plan;
  *   - clause grammar: multiple RUNNING SUMs, nested parens, table and
  *     subquery sources, boundary errors.
  */
class GlobalRankSqlSpec extends SparkSpec {

  /** Skewed, tie-heavy, signed fixture: v has heavy ties (mod 7),
    * negatives, and ids give a total tiebreak order. */
  private def fixture(s: SparkSession): Unit = {
    import s.implicits._
    (1L to 500L).map(i => (i, (i % 7) - 3, i % 11))
      .toDF("id", "v", "w")
      .createOrReplaceTempView("grank_t")
  }

  test("GLOBAL RANK matches the window forms exactly (desc, ties, negatives)") {
    withExtendedSession { s =>
      fixture(s)
      val got = s.sql(
        """GLOBAL RANK r ROW_NUMBER rn
          |  RUNNING SUM(v) AS cum_v RUNNING SUM(w + 1) AS cum_w1 COUNT n
          |FROM grank_t ORDER BY v DESC TIEBREAK id""".stripMargin)
      val w = Window.orderBy(col("v").desc, col("id").asc)
      val wr = Window.orderBy(col("v").desc)
      val rows = Window.orderBy(col("v").desc, col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = s.table("grank_t")
        .withColumn("r", rank().over(wr).cast("long"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cum_v", sum(col("v").cast("long")).over(rows))
        .withColumn("cum_w1", sum((col("w") + 1).cast("long")).over(rows))
        .withColumn("n", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      assert(got.columns.sorted.sameElements(want.columns.sorted))
      val g = got.orderBy("id").collect().map(_.toSeq).toSeq
      val e = want.select(got.columns.map(col): _*)
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(g == e)
    }
  }

  test("ascending default and minimal clause set") {
    withExtendedSession { s =>
      fixture(s)
      val got = s.sql("GLOBAL RANK r FROM grank_t ORDER BY v TIEBREAK id")
      val want = s.table("grank_t")
        .withColumn("r", rank().over(Window.orderBy(col("v").asc)).cast("long"))
      assert(got.orderBy("id").collect().map(_.toSeq).toSeq ==
        want.select(got.columns.map(col): _*).orderBy("id")
          .collect().map(_.toSeq).toSeq)
    }
  }

  test("subquery source works and the plan has ZERO partition-less windows") {
    withExtendedSession { s =>
      fixture(s)
      val got = s.sql(
        """GLOBAL RANK r ROW_NUMBER rn RUNNING SUM(sv) AS cum FROM
          |  (SELECT id % 50 AS g, CAST(sum(v) AS BIGINT) AS sv
          |   FROM grank_t GROUP BY id % 50)
          |ORDER BY sv DESC TIEBREAK g""".stripMargin)
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      val bad = got.queryExecution.optimizedPlan.collectWithSubqueries {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"GLOBAL RANK planned ${bad.size} partition-less Window node(s)")
      // and the result is still the exact running sum over 50 groups:
      // the row-order-LAST row's inclusive cum is the grand total (the
      // max-RANK row is ambiguous under sv ties, so use row_number)
      assert(got.count() == 50)
      val last = got.filter(col("rn") === 50)
        .select("cum").collect().head.getLong(0)
      val total = got.agg(sum(col("sv"))).collect().head.getLong(0)
      assert(last == total)
    }
  }

  test("PHYSICAL shape audit of a GLOBAL RANK statement reports zero risks") {
    withExtendedSession { s =>
      fixture(s)
      // the same audit DESCRIBE SHAPE / ShapeGateSpec run, over the
      // fully-prepared PHYSICAL plan (WindowExec level, not just the
      // logical nodes the subquery test pins): the statement must
      // never cost a single-task sort even after optimization
      val rows = PlanShape.ofDf(s, s.sql(
        """GLOBAL RANK r ROW_NUMBER rn RUNNING SUM(v) AS cum
          |FROM grank_t ORDER BY v DESC TIEBREAK id""".stripMargin))
      val risks = rows.filter(_.getString(0) == "risk")
      assert(risks.isEmpty, s"GLOBAL RANK plan has risks: $risks")
      val winds = rows.filter(r =>
        r.getString(0) == "window" && r.getString(1) == "partition-less")
      assert(winds.isEmpty)
    }
  }

  test("GraftSql.execute routes GLOBAL RANK on a PLAIN session (no extensions)") {
    // the Verify/library path: no extensions parser on the session, so
    // execute() must run the grammar-owned plan instead of handing the
    // statement text back to Spark's parser
    import spark.implicits._
    (1L to 20L).map(i => (i, i % 3)).toDF("id", "v")
      .createOrReplaceTempView("grank_plain")
    val rows = GraftSql.execute(spark,
      "GLOBAL RANK r FROM grank_plain ORDER BY v DESC TIEBREAK id")
    assert(rows.length == 20)
    val byId = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    // v=2 ids (2,5,...): rank 1; v=1: rank 8; v=0: rank 15 (ties share)
    assert(byId(2L) == 1L && byId(1L) == 8L && byId(3L) == 15L)
  }

  test("parse is deferred: no resolution (and no job) until first analysis") {
    // ADVICE r11: parse-only paths (EXPLAIN middleware, validation,
    // retries that re-parse) must not run the boundary-sketch job.
    // Observable proof: parsing over a table that DOES NOT EXIST
    // succeeds — nothing was resolved — and only expanding the node
    // fails.
    val plan = new GraftSqlParser(spark.sessionState.sqlParser, Some(spark))
      .parsePlan("GLOBAL RANK r FROM no_such_table_xyz ORDER BY v")
    val node = plan match {
      case g: GlobalRankNode => g
      case other => fail(s"expected GlobalRankNode, got ${other.getClass}")
    }
    assert(!node.resolved)
    intercept[Exception](node.built)
    // and the memoized expansion is shared: two executions of ONE
    // parsed statement build the plan once (lazy val identity)
    import spark.implicits._
    (1L to 10L).map(i => (i, i % 2)).toDF("id", "v")
      .createOrReplaceTempView("grank_defer")
    val p2 = new GraftSqlParser(spark.sessionState.sqlParser, Some(spark))
      .parsePlan("GLOBAL RANK r FROM grank_defer ORDER BY v TIEBREAK id")
      .asInstanceOf[GlobalRankNode]
    assert(p2.built eq p2.built)
  }

  test("source resolves against the OWNING session, not SparkSession.active") {
    // ADVICE r11: GraftSql.execute(ownerSession, ...) with a DIFFERENT
    // active session must still see the owner's temp views
    import spark.implicits._
    (1L to 5L).map(i => (i, i)).toDF("id", "v")
      .createOrReplaceTempView("grank_owner_only")
    val other = spark.newSession() // no temp views
    SparkSession.setActiveSession(other)
    try {
      val rows = GraftSql.execute(spark,
        "GLOBAL RANK r FROM grank_owner_only ORDER BY v TIEBREAK id")
      assert(rows.length == 5)
    } finally SparkSession.setActiveSession(spark)
  }

  test("boundary errors name the missing clause") {
    withExtendedSession { s =>
      fixture(s)
      val e1 = intercept[Exception](s.sql("GLOBAL RANK r FROM grank_t"))
      assert(e1.getMessage.contains("ORDER BY"))
      val e2 = intercept[Exception](
        s.sql("GLOBAL RANK r BOGUS x FROM grank_t ORDER BY v"))
      assert(e2.getMessage.contains("unrecognized GLOBAL RANK clause"))
      val e3 = intercept[Exception](
        s.sql("GLOBAL RANK r RUNNING SUM(v) x FROM grank_t ORDER BY v"))
      assert(e3.getMessage.contains("expected AS"))
    }
  }
}
