package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType,
  StructField, StructType}

import graft.{QueryModule, Tables}
import graft.table.{AggView, BucketSpec, KeyedRefresh, Merge, VersionedTable}

/** Incrementally-maintained FUNNEL and RETENTION views over a
  * CDF-enabled events table (VERDICT r8 #8): the batch formulations
  * ([[EventWindows]] `q_funnel` / `q_retention`) recompute every
  * user's state from the full event history each run; these views
  * refresh in O(Δ users) instead —
  *
  *   1. read the events CDF since the view's recorded watermark —
  *      O(new events), never a source scan;
  *   2. re-derive ONLY the changed users' per-user state
  *      ([[EventWindows.userStages]] / [[EventWindows.userCohortWeeks]])
  *      from the events snapshot scoped to those users
  *      ([[graft.table.KeyScope.read]]: stats-pruned
  *      [[VersionedTable.snapshotForKeys]] up to
  *      [[VersionedTable.KEY_PRUNE_MAX]] users, full semi-join past it —
  *      ingest batches are range-clustered by `user_id`, so a user's
  *      history lives in few files);
  *   3. three-clause [[Merge]] into a compact per-user STATE table
  *      (bucketed by the state key: one CoW rewrite per touched
  *      bucket), watermark riding the commit's `txn` map;
  *   4. the reporting aggregate (3-row funnel histogram / retention
  *      triangle) is an [[AggView]] chained off the state table's OWN
  *      change feed — the signed-delta maintenance the Gold layer
  *      already uses, so the readout costs O(groups), not O(users).
  *
  * Per-user funnel state cannot be folded forward from deltas alone
  * (a late-arriving early `view` can re-qualify older clicks), so the
  * delta-scoped per-user RE-read is the exact-and-scalable shape —
  * the same affected-block recomputation [[graft.table.JoinView]]
  * uses, applied to event analytics. Correctness invariant (spec +
  * oracle rows): after any refresh, state ≡ the batch recompute over
  * the full events snapshot.
  */
final class FunnelView private[streaming] (
    stateTable: VersionedTable, val counts: AggView)
    extends EventStateView(stateTable, EventStateViews.FUNNEL_APP, Seq("user_id"),
      EventStateViews.funnelDerive, Some(counts)) {

  /** The funnel readout `(step, step_name, n_users)`: suffix sums over
    * the maintained ≤3-row stage histogram — O(1), never an O(users)
    * state scan. */
  def funnel(): DataFrame = {
    val s = state.spark
    import s.implicits._
    val steps = Seq((1, "view"), (2, "click"), (3, "purchase"))
      .toDF("step", "step_name")
    val h = counts.table.snapshot().select(col("stage"), col("n_rows"))
    steps.join(h, h("stage") >= steps("step"), "left")
      .groupBy(col("step"), col("step_name"))
      .agg(coalesce(sum(col("n_rows")), lit(0L)).cast("long").as("n_users"))
  }
}

/** The per-user state table of an events view, re-derived per changed
  * user by [[EventStateViews.stateDelta]], plus the [[AggView]] readout
  * chained off the state's own change feed when the view has one. */
sealed abstract class EventStateView private[streaming] (
    val state: VersionedTable,
    app: String,
    stateKeys: Seq[String],
    derive: DataFrame => DataFrame,
    readout: Option[AggView]) {

  /** Applies all events-table changes the view has not seen. Returns
    * the state version committed (None when already current). */
  def refresh(events: VersionedTable): Option[Long] = {
    val out = EventStateViews.stateDelta(events, state, app, stateKeys, derive)
    readout.foreach(_.refresh(state))
    out
  }
}

/** See [[FunnelView]] — same maintenance contract for the cohort
  * retention triangle. State: one row per (user, active week). */
final class RetentionView private[streaming] (
    stateTable: VersionedTable, val counts: AggView)
    extends EventStateView(stateTable, EventStateViews.RETENTION_APP,
      Seq("user_id", "week_us"), EventStateViews.retentionDerive, Some(counts)) {

  /** The retention triangle `(cohort_week_us, week_offset, n_users)`
    * from the maintained aggregate — O(cells). */
  def triangle(): DataFrame =
    counts.table.snapshot().select(col("cohort_week_us"),
      col("week_offset"), col("n_rows").cast("long").as("n_users"))
}

/** See [[FunnelView]] — same maintenance contract for per-user gap
  * SESSIONS. State: one row per (user, session_start). Late or
  * out-of-order events can EXTEND a session backwards (changing its
  * start key), SPLIT or MERGE neighboring sessions — none of which a
  * forward fold can repair — so the per-changed-user re-derive is
  * exactly right here too: the derive is the engine's own
  * [[EventWindows.sessionize]] fold (the SAME code the streaming
  * `flatMapGroupsWithState` operator runs), and stale (user, start)
  * rows delete via the recompute anti-join. */
final class SessionView private[streaming] (stateTable: VersionedTable)
    extends EventStateView(stateTable, EventStateViews.SESSION_APP,
      Seq("user_id", "session_start_us"), EventStateViews.sessionDerive, None) {

  /** All current sessions — O(state), identical shape to the batch
    * `q_sessionize` rows. */
  def sessions(): DataFrame = state.snapshot()
}

/** See [[FunnelView]] — same maintenance contract for the behavior-path
  * statistic. State: one row per (user, trigram path) with its
  * occurrence count. An event insert or delete ANYWHERE in a user's
  * stream rewrites up to three neighboring trigrams — a positional
  * effect no per-path delta can express — so the changed-user
  * re-derive is exactly right: recompute the user's trigram multiset
  * with [[EventWindows.userPathCounts]] (the same derive the batch
  * query aggregates), delete the pairs the recompute no longer
  * produces, and let the chained per-path [[AggView]] (n_rows = users
  * travelling the path, sum_occ = occurrences) track the reporting
  * aggregate off the state table's own CDF at O(Δ). */
final class PathsView private[streaming] (
    stateTable: VersionedTable, val counts: AggView)
    extends EventStateView(stateTable, EventStateViews.PATHS_APP,
      Seq("user_id", "path"), EventWindows.userPathCounts, Some(counts)) {

  /** Top paths `(rnk, path, n_occurrences, n_users)` from the
    * maintained per-path aggregate — O(paths), identical shape to the
    * batch `q_event_paths` rows. */
  def topPaths(): DataFrame =
    EventWindows.rankPaths(counts.table.snapshot()
      .select(col("path"), col("sum_occ").cast("long").as("n_occurrences"),
        col("n_rows").cast("long").as("n_users")))
}

/** See [[FunnelView]] — same maintenance contract for LAST-TOUCH
  * attribution. State: one row per purchase (keyed (user_id,
  * purchase_id)) carrying its attributed channel/touch/gap/cents. A
  * late-arriving touch BETWEEN an old touch and a purchase re-credits
  * the purchase, and deleting the credited touch falls attribution
  * back to an earlier one — positional effects only the per-changed-
  * user window re-derive ([[EventWindows.userAttribution]], the same
  * code the batch query runs) captures exactly. The per-channel
  * revenue readout is an [[AggView]] off the state's own CDF —
  * O(channels), never an O(purchases) scan. */
final class AttributionView private[streaming] (
    stateTable: VersionedTable, val counts: AggView)
    extends EventStateView(stateTable, EventStateViews.ATTR_APP,
      Seq("user_id", "purchase_id"), EventWindows.userAttribution, Some(counts)) {

  /** Per-channel conversion/revenue readout `(channel, n_purchases,
    * cents)` from the maintained aggregate. */
  def byChannel(): DataFrame =
    counts.table.snapshot().select(col("channel"),
      col("n_rows").cast("long").as("n_purchases"),
      col("sum_cents").cast("long").as("cents"))
}

object EventStateViews extends QueryModule {
  val FUNNEL_APP = "funnel-view"
  val RETENTION_APP = "retention-view"
  val SESSION_APP = "session-view"
  val PATHS_APP = "paths-view"
  val ATTR_APP = "attribution-view"
  private val STATE_BUCKETS = 8

  /** Shared refresh step 1-3: the changed users of the events CDF
    * since `app`'s watermark, `derive` recomputed over their events
    * only, and the state rows the recompute no longer produces deleted
    * — [[KeyedRefresh.rederive]] scoped on `user_id`. Returns the
    * committed version (a `refresh-noop` watermark commit when the span
    * nets to zero users, so it is never rescanned), or None when the
    * view is already current. */
  private[streaming] def stateDelta(
      events: VersionedTable,
      state: VersionedTable,
      app: String,
      stateKeys: Seq[String],
      derive: DataFrame => DataFrame): Option[Long] = {
    val latest = events.latestVersion
    val since = state.lastTxn(app).getOrElse(0L) + 1
    if (latest < since) None
    else KeyedRefresh.rederive(state, stateKeys,
      events.changes(since).select(col("user_id")).distinct(), app -> latest,
      scope => derive(scope.read(events)))
  }

  // ---------------------------------------------------------- builders

  /** Creates a view's per-user state table (CDF on, bucketed by its
    * keys: one CoW rewrite per touched bucket) and computes it fully
    * once from the events snapshot, recording `app`'s watermark. */
  private def buildState(
      events: VersionedTable,
      root: String,
      fields: Seq[StructField],
      stateKeys: Seq[String],
      app: String,
      derive: DataFrame => DataFrame): VersionedTable = {
    val state = VersionedTable.create(events.spark, s"$root/state",
      StructType(fields), Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(stateKeys, STATE_BUCKETS)))
    val latest = events.latestVersion
    Merge.run(state, derive(events.snapshot()).withColumn("__op", lit("UPSERT")),
      stateKeys, Merge.upsertDeleteClauses, extraTxn = Map(app -> latest))
    state
  }

  private[streaming] def funnelDerive(ev: DataFrame): DataFrame =
    EventWindows.userStages(ev.select(col("user_id"), col("t"), col("event_type")))

  private[streaming] def retentionDerive(ev: DataFrame): DataFrame =
    EventWindows.userCohortWeeks(ev.select(col("user_id"), col("t")))

  /** The sessionize fold over an engine-table slice: micros → ts, run
    * the one true fold, back to the state row shape. */
  private[streaming] def sessionDerive(ev: DataFrame): DataFrame =
    EventWindows.sessionize(ev.select(col("user_id"),
        timestamp_micros(col("t")).as("ts"), col("value")))
      .toDF()

  /** Creates the state + histogram tables and computes them fully once
    * from the events snapshot, recording the watermark. */
  def buildFunnel(events: VersionedTable, root: String): FunnelView = {
    val state = buildState(events, root,
      Seq(StructField("user_id", LongType), StructField("stage", IntegerType)),
      Seq("user_id"), FUNNEL_APP, funnelDerive)
    new FunnelView(state,
      AggView.build(state, s"$root/counts", Seq("stage"), Seq.empty))
  }

  def buildRetention(events: VersionedTable, root: String): RetentionView = {
    val state = buildState(events, root,
      Seq(StructField("user_id", LongType), StructField("week_us", LongType),
        StructField("cohort_week_us", LongType),
        StructField("week_offset", LongType)),
      Seq("user_id", "week_us"), RETENTION_APP, retentionDerive)
    new RetentionView(state, AggView.build(state, s"$root/counts",
      Seq("cohort_week_us", "week_offset"), Seq.empty))
  }

  def buildPaths(events: VersionedTable, root: String): PathsView = {
    val state = buildState(events, root,
      Seq(StructField("user_id", LongType), StructField("path", StringType),
        StructField("n_occ", LongType)),
      Seq("user_id", "path"), PATHS_APP, EventWindows.userPathCounts)
    new PathsView(state, AggView.build(state, s"$root/counts", Seq("path"),
      Seq(("occ", "n_occ"))))
  }

  def buildAttribution(events: VersionedTable, root: String): AttributionView = {
    val state = buildState(events, root,
      Seq(StructField("user_id", LongType), StructField("purchase_id", LongType),
        StructField("channel", StringType), StructField("touch_id", LongType),
        StructField("gap_us", LongType), StructField("cents", LongType)),
      Seq("user_id", "purchase_id"), ATTR_APP, EventWindows.userAttribution)
    new AttributionView(state, AggView.build(state, s"$root/counts",
      Seq("channel"), Seq("cents" -> "cents")))
  }

  def buildSessions(events: VersionedTable, root: String): SessionView =
    new SessionView(buildState(events, root,
      Seq(StructField("user_id", LongType),
        StructField("session_start_us", LongType),
        StructField("session_end_us", LongType),
        StructField("n_events", LongType),
        StructField("sum_value", DoubleType)),
      Seq("user_id", "session_start_us"), SESSION_APP, sessionDerive))

  // ------------------------------------------------------ query fixtures

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", org.apache.spark.sql.types.StringType),
    StructField("t", LongType)))

  /** The sf events rows in the engine-table shape: epoch-micros `t`
    * (cross-engine-stable), RANGE-clustered by `user_id` at ingest so
    * a user's history lands in few contiguous-stat files — what makes
    * the refresh's per-user re-read file-skippable. */
  private def eventRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("t"))

  private def appendClustered(t: VersionedTable, rows: DataFrame): Unit =
    t.append(rows.repartitionByRange(STATE_BUCKETS, col("user_id"))): Unit

  private val sessionEventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("t", LongType),
    StructField("value", org.apache.spark.sql.types.DoubleType)))

  // ------------------------------------------------- q_sessionize_incr
  /** Incremental-sessionization LIFECYCLE: events land in two append
    * batches (the odd half arrives late and out of order — exactly the
    * churn that extends/merges sessions built from the even half); the
    * view builds at batch 1 and ONE refresh catches up. The oracle is
    * the batch gaps-and-islands formulation over the full events
    * table, so the refreshed state must equal the from-scratch
    * sessionization bit-for-bit (including re-keyed session starts and
    * deleted stale sessions). */
  private def qSessionizeIncr(s: SparkSession, d: String): DataFrame = {
    val root = graft.Scratch.dir("graft-session-incr")
    val ev = VersionedTable.create(s, root.resolve("ev").toString,
      sessionEventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
    val all = Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("t"), col("value"))
    appendClustered(ev, all.filter(col("event_id") % 2 === 0))
    val v = buildSessions(ev, root.resolve("v").toString)
    appendClustered(ev, all.filter(col("event_id") % 2 === 1))
    v.refresh(ev)
    v.sessions()
  }

  // ---------------------------------------------------- q_funnel_incr
  /** Incremental-funnel LIFECYCLE: events land in two append batches;
    * the view builds at the batch-1 watermark and ONE refresh catches
    * up batch 2 — the oracle recomputes the funnel declaratively over
    * the full events table, so the signed-delta path must land
    * bit-identical to the from-scratch batch formulation. */
  private def qFunnelIncr(s: SparkSession, d: String): DataFrame = {
    val root = graft.Scratch.dir("graft-funnel-incr")
    val ev = VersionedTable.create(s, root.resolve("ev").toString,
      eventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
    val all = eventRows(s, d)
    appendClustered(ev, all.filter(col("event_id") % 2 === 0))
    val v = buildFunnel(ev, root.resolve("v").toString)
    appendClustered(ev, all.filter(col("event_id") % 2 === 1))
    v.refresh(ev)
    v.funnel()
  }

  // ------------------------------------------------- q_retention_incr
  private def qRetentionIncr(s: SparkSession, d: String): DataFrame = {
    val root = graft.Scratch.dir("graft-retention-incr")
    val ev = VersionedTable.create(s, root.resolve("ev").toString,
      eventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
    val all = eventRows(s, d)
    appendClustered(ev, all.filter(col("event_id") % 2 === 0))
    val v = buildRetention(ev, root.resolve("v").toString)
    appendClustered(ev, all.filter(col("event_id") % 2 === 1))
    v.refresh(ev)
    v.triangle()
  }

  // -------------------------------------------------- q_funnel_refresh
  /** STEADY-STATE incremental-funnel cost: the fixture builds the view
    * over the full events table once per (session, sf dir); each
    * UNTIMED staging call re-appends a small block of events (new
    * event_ids, duplicate content for `user_id % 50 = 0` users), so
    * the timed body is ONE refresh — CDF scan, per-user re-derive for
    * the ~2% changed users, state merge (a content no-op: duplicate
    * view/click/purchase rows cannot change a user's furthest stage),
    * histogram refresh — plus the O(1) readout. Result is therefore
    * invariant across stagings and the oracle recomputes it
    * declaratively. */
  private val frCache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String),
    (VersionedTable, FunnelView, java.util.concurrent.atomic.AtomicLong)]

  private def frFixture(s: SparkSession, d: String)
      : (VersionedTable, FunnelView, java.util.concurrent.atomic.AtomicLong) =
    frCache.synchronized {
      frCache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-funnel-steady")
        val ev = VersionedTable.create(s, root.resolve("ev").toString,
          eventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
        appendClustered(ev, eventRows(s, d))
        val v = buildFunnel(ev, root.resolve("v").toString)
        (ev, v, new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def frPrepare(s: SparkSession, d: String): Unit = {
    val (ev, _, calls) = frFixture(s, d)
    val n = calls.getAndIncrement()
    // fresh event_ids each call (id-space shifted far above the data's),
    // duplicating the toggled users' existing events: real CDF rows and
    // real per-user re-derives every refresh, with a provably unchanged
    // funnel (duplicates cannot advance an ordered max-stage fold)
    appendClustered(ev,
      eventRows(s, d).filter(col("user_id") % 50 === 0)
        .withColumn("event_id",
          col("event_id") + lit((n + 1) * 100000000L)))
  }

  private def qFunnelRefresh(s: SparkSession, d: String): DataFrame = {
    val (ev, v, _) = frFixture(s, d)
    v.refresh(ev)
    v.funnel()
  }

  // ----------------------------------------------- q_retention_refresh
  /** STEADY-STATE incremental-retention cost — the [[qFunnelRefresh]]
    * construction over [[RetentionView]]: duplicated events add no new
    * (user, week) pairs and cannot move a min-ts cohort, so every
    * staged refresh does real delta work against a provably unchanged
    * triangle. */
  private val rrCache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String),
    (VersionedTable, RetentionView, java.util.concurrent.atomic.AtomicLong)]

  private def rrFixture(s: SparkSession, d: String)
      : (VersionedTable, RetentionView, java.util.concurrent.atomic.AtomicLong) =
    rrCache.synchronized {
      rrCache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-retention-steady")
        val ev = VersionedTable.create(s, root.resolve("ev").toString,
          eventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
        appendClustered(ev, eventRows(s, d))
        val v = buildRetention(ev, root.resolve("v").toString)
        (ev, v, new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def rrPrepare(s: SparkSession, d: String): Unit = {
    val (ev, _, calls) = rrFixture(s, d)
    val n = calls.getAndIncrement()
    appendClustered(ev,
      eventRows(s, d).filter(col("user_id") % 50 === 0)
        .withColumn("event_id",
          col("event_id") + lit((n + 1) * 100000000L)))
  }

  private def qRetentionRefresh(s: SparkSession, d: String): DataFrame = {
    val (ev, v, _) = rrFixture(s, d)
    v.refresh(ev)
    v.triangle()
  }

  private val qFunnelIncrSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, min(t) AS t1 FROM ev
      |       WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.t) AS t2 FROM ev e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.t >= s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.t) AS t3 FROM ev e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.t >= s2.t2 GROUP BY 1)
      |SELECT 1 AS step, 'view' AS step_name,
      |       (SELECT count(*) FROM s1) AS n_users
      |UNION ALL SELECT 2, 'click',    (SELECT count(*) FROM s2)
      |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin

  private val qRetentionIncrSql =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |first AS (
      |  SELECT user_id, min(t) - (min(t) % ${EventWindows.WEEK_US}) AS cohort_week_us
      |  FROM ev GROUP BY 1),
      |act AS (SELECT DISTINCT user_id, t - (t % ${EventWindows.WEEK_US}) AS week_us FROM ev)
      |SELECT f.cohort_week_us,
      |       (a.week_us - f.cohort_week_us) // ${EventWindows.WEEK_US} AS week_offset,
      |       count(*) AS n_users
      |FROM first f JOIN act a USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------- q_event_paths_incr
  /** Incremental-paths LIFECYCLE: even events seed the state, the view
    * builds, the odd half lands out of order (inserting MID-STREAM
    * events that rewrite neighbors' trigrams), an `event_id % 31 = 5`
    * slice is retroactively DELETED, and one refresh catches up — the
    * oracle recomputes the ranking declaratively over the surviving
    * events, so the changed-user re-derive + chained per-path AggView
    * must land bit-identical through both insert-rewrites and
    * deletes. */
  private def qEventPathsIncr(s: SparkSession, d: String): DataFrame = {
    val root = graft.Scratch.dir("graft-paths-incr")
    val ev = VersionedTable.create(s, root.resolve("ev").toString,
      eventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
    val all = eventRows(s, d)
    appendClustered(ev, all.filter(col("event_id") % 2 === 0))
    val v = buildPaths(ev, root.resolve("v").toString)
    appendClustered(ev, all.filter(col("event_id") % 2 === 1))
    ev.deleteWhere(col("event_id") % 31 === 5)
    v.refresh(ev)
    v.topPaths()
  }
  private val qEventPathsIncrSql =
    s"""WITH seqs AS (
      |  SELECT user_id,
      |    list(event_type ORDER BY t, event_id) AS seq
      |  FROM (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
      |        FROM events WHERE event_id % 31 <> 5)
      |  GROUP BY user_id),
      |paths AS (
      |  SELECT user_id, unnest(list_transform(
      |    generate_series(1, greatest(len(seq) - 2, 0)),
      |    i -> seq[i] || '>' || seq[i + 1] || '>' || seq[i + 2])) AS path
      |  FROM seqs),
      |bp AS (
      |  SELECT path, count(*) AS n_occurrences,
      |    count(DISTINCT user_id) AS n_users
      |  FROM paths GROUP BY 1),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, path ASC)
      |    AS rnk
      |  FROM bp)
      |SELECT rnk, path, n_occurrences, n_users FROM r
      |WHERE rnk <= ${EventWindows.PATH_K}""".stripMargin

  // ------------------------------------------------ q_active_users_incr
  /** Incrementally-maintained DAU/WAU — the hardest IVM case on the
    * surface because the measure is a sliding COUNT DISTINCT, which is
    * neither a sum (a user active twice in a window is one member) nor
    * subtractable (removing one event must not evict a user whose
    * OTHER events still support the window). The engine's answer is a
    * two-level chained [[graft.table.AggView]] per series:
    *
    *   entries(event_id, user, day*)         — CDF-tracked entry table
    *     └─ refcount view: GROUP BY (user, day*) COUNT(*)
    *          — multiplicity lives here; the group row EXISTS iff ≥1
    *            supporting event survives (AggView deletes zero-count
    *            groups), so the view's own CDF emits exactly the
    *            DISTINCT-set inserts/deletes
    *        └─ count view over ITS CDF: GROUP BY day* COUNT(*) = the
    *            distinct-user count, maintained at O(changed groups)
    *
    * A refcount change that keeps the group alive surfaces downstream
    * as a cancelling (−1, +1) update pair — the chain is churn-proof
    * by construction. WAU entries fan each event into the 7 window
    * days it supports (the 7× linear amplification that replaces
    * per-day distinct rescans; the batch [[EventWindows]]
    * q_active_users makes the same trade per query — here it is paid
    * once at ingest and maintained at O(Δ·7)). Window days past the
    * corpus edge are clipped at READOUT, not at ingest — an
    * ingest-time clip against the moving max-day would un-maintain
    * history on every append.
    *
    * Lifecycle fixture: even events seed the entries, the views build,
    * the odd half lands, an `event_id % 17 = 3` slice is DELETED, one
    * refresh per level catches up — and the readout must hash-match
    * the declarative DAU/WAU SQL over the surviving row set, proving
    * maintained ≡ rebuilt through add AND subtract on both levels. */
  private val dayEntrySchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("day", LongType)))
  private val winEntrySchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("win_day", LongType)))

  private def qActiveUsersIncr(s: SparkSession, d: String): DataFrame = {
    import graft.table.AggView
    val root = graft.Scratch.dir("graft-dauwau")
    val eDay = VersionedTable.create(s, root.resolve("eday").toString,
      dayEntrySchema, Map(VersionedTable.PROP_CDF -> "true"))
    val eWin = VersionedTable.create(s, root.resolve("ewin").toString,
      winEntrySchema, Map(VersionedTable.PROP_CDF -> "true"))
    val all = Tables.events(s, d).select(col("event_id"), col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"))
    def winRows(e: DataFrame): DataFrame = e.select(col("event_id"),
      col("user_id"), explode(expr("sequence(day, day + 6)")).as("win_day"))
    val seed = all.filter(col("event_id") % 2 === 0)
    eDay.append(seed)
    eWin.append(winRows(seed))
    val refDay = AggView.build(eDay, root.resolve("refday").toString,
      Seq("user_id", "day"), Seq.empty)
    val refWin = AggView.build(eWin, root.resolve("refwin").toString,
      Seq("user_id", "win_day"), Seq.empty)
    val dau = AggView.build(refDay.table, root.resolve("dau").toString,
      Seq("day"), Seq.empty)
    val wau = AggView.build(refWin.table, root.resolve("wau").toString,
      Seq("win_day"), Seq.empty)
    // churn: late arrivals + a retroactive delete slice
    val rest = all.filter(col("event_id") % 2 === 1)
    eDay.append(rest); eWin.append(winRows(rest))
    eDay.deleteWhere(col("event_id") % 17 === 3)
    eWin.deleteWhere(col("event_id") % 17 === 3)
    refDay.refresh(eDay); dau.refresh(refDay.table)
    refWin.refresh(eWin); wau.refresh(refWin.table)
    dauReadout(dau, wau)
  }

  /** The DAU/WAU/stickiness readout off the two O(days) view tables
    * only — shared by the lifecycle and steady-state rows. */
  private def dauReadout(dau: graft.table.AggView,
      wau: graft.table.AggView): DataFrame = {
    val dauT = dau.table.snapshot()
      .select(col("day"), col("n_rows").cast("long").as("dau"))
    val wauT = wau.table.snapshot()
      .select(col("win_day").as("day"), col("n_rows").cast("long").as("wau"))
    val bounds = dauT.agg(min(col("day")).as("min_day"),
      max(col("day")).as("max_day"))
    val spine = bounds
      .select(explode(expr("sequence(min_day, max_day)")).as("day"))
    spine.join(dauT, Seq("day"), "left").join(wauT, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .withColumn("stickiness_ppm",
        when(col("wau") > 0, expr("(dau * 1000000) div wau"))
          .otherwise(lit(0L)))
  }
  private def activeUsersSql(where: String) =
    s"""WITH kept AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events$where),
      |ud AS (SELECT DISTINCT user_id, day FROM kept),
      |a AS (SELECT min(day) AS min_day, max(day) AS max_day FROM ud),
      |spine AS (
      |  SELECT unnest(generate_series(min_day, max_day)) AS day FROM a),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
      |wau AS (
      |  SELECT s.day, count(DISTINCT u.user_id) AS wau
      |  FROM spine s JOIN ud u ON u.day BETWEEN s.day - 6 AND s.day
      |  GROUP BY 1)
      |SELECT s.day, coalesce(d.dau, 0) AS dau, coalesce(w.wau, 0) AS wau,
      |  CASE WHEN coalesce(w.wau, 0) > 0
      |       THEN CAST((coalesce(d.dau, 0) * 1000000) // w.wau AS BIGINT)
      |       ELSE 0 END AS stickiness_ppm
      |FROM spine s
      |LEFT JOIN dau d ON d.day = s.day
      |LEFT JOIN wau w ON w.day = s.day""".stripMargin

  private val qActiveUsersIncrSql =
    activeUsersSql(" WHERE event_id % 17 <> 3")

  // ---------------------------------------------- q_completeness_incr
  /** The [[EventWindows]] `q_field_completeness` payload-quality
    * monitor MAINTAINED: additive flag counts per event type live in
    * one [[AggView]] over a CDF-tracked entry table, and the DISTINCT
    * user coverage — not additive — rides the chained refcount→count
    * AggView pair (the [[qActiveUsersIncr]] construction: the refcount
    * view's group rows exist iff ≥ 1 supporting event survives, so its
    * own CDF feeds the count view exact set inserts/deletes). Fixture
    * churn: even events seed, odd events arrive late, an
    * `event_id % 17 = 3` slice is retroactively DELETED, one refresh
    * per level catches up — the readout must hash-match the
    * declarative SQL over the surviving rows, proving maintained ≡
    * rebuilt through add AND subtract on both chain levels. */
  private val complEntrySchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", org.apache.spark.sql.types.StringType),
    StructField("user_id", LongType),
    StructField("is_vnull", IntegerType),
    StructField("is_pempty", IntegerType),
    StructField("is_pk", IntegerType)))

  private def qCompletenessIncr(s: SparkSession, d: String): DataFrame = {
    val root = graft.Scratch.dir("graft-complv")
    val t = VersionedTable.create(s, root.resolve("t").toString,
      complEntrySchema, Map(VersionedTable.PROP_CDF -> "true"))
    val all = Tables.events(s, d).select(col("event_id"), col("event_type"),
      col("user_id"),
      when(col("value").isNull, 1).otherwise(0).as("is_vnull"),
      when(col("props").isNull || col("props") === "", 1).otherwise(0)
        .as("is_pempty"),
      when(col("props").like("%\"k\":%"), 1).otherwise(0).as("is_pk"))
    t.append(all.filter(col("event_id") % 2 === 0))
    val flags = AggView.build(t, root.resolve("flags").toString,
      Seq("event_type"),
      Seq("vnull" -> "CAST(is_vnull AS BIGINT)",
        "pempty" -> "CAST(is_pempty AS BIGINT)",
        "pk" -> "CAST(is_pk AS BIGINT)"))
    val refUsers = AggView.build(t, root.resolve("refu").toString,
      Seq("event_type", "user_id"), Seq.empty)
    val users = AggView.build(refUsers.table, root.resolve("users").toString,
      Seq("event_type"), Seq.empty)
    t.append(all.filter(col("event_id") % 2 === 1))
    t.deleteWhere(col("event_id") % 17 === 3)
    flags.refresh(t)
    refUsers.refresh(t); users.refresh(refUsers.table)
    complReadout(flags, users)
  }

  /** The per-type completeness readout off the two |types|-row view
    * tables only — shared by the lifecycle and steady-state rows. */
  private def complReadout(flags: AggView, users: AggView): DataFrame = {
    val f = flags.table.snapshot().select(col("event_type"),
      col("n_rows").cast("long").as("n"),
      coalesce(col("sum_vnull"), lit(0L)).as("n_value_null"),
      coalesce(col("sum_pempty"), lit(0L)).as("n_props_empty"),
      coalesce(col("sum_pk"), lit(0L)).as("n_props_k"))
    val u = users.table.snapshot().select(col("event_type"),
      col("n_rows").cast("long").as("n_users"))
    f.join(u, "event_type")
      .select(col("event_type"), col("n"),
        expr("n_value_null * 1000000L div n").as("value_null_ppm"),
        expr("n_props_empty * 1000000L div n").as("props_empty_ppm"),
        expr("n_props_k * 1000000L div n").as("props_k_ppm"),
        col("n_users"))
  }

  private def completenessSql(where: String) =
    s"""WITH kept AS (SELECT * FROM events$where)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // count(*) AS value_null_ppm,
      |  CAST(sum(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000 // count(*) AS props_empty_ppm,
      |  CAST(sum(CASE WHEN props LIKE '%"k":%' THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000 // count(*) AS props_k_ppm,
      |  count(DISTINCT user_id) AS n_users
      |FROM kept GROUP BY event_type""".stripMargin

  private val qCompletenessIncrSql =
    completenessSql(" WHERE event_id % 17 <> 3")

  // ---------------------------------------------- q_attribution_incr
  /** Incremental-attribution LIFECYCLE: even events seed the state,
    * the view builds, the odd half lands out of order (late touches
    * that RE-CREDIT existing purchases — the positional effect no
    * per-channel delta can express), an `event_id % 23 = 7` slice is
    * retroactively DELETED (removing purchases outright and felling
    * credited touches back to earlier ones), and one refresh catches
    * up — the oracle recomputes the per-channel readout declaratively
    * over the surviving events. */
  private val attrEventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", org.apache.spark.sql.types.StringType),
    StructField("t", LongType),
    StructField("value", org.apache.spark.sql.types.DoubleType)))

  private def attrEventRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("t"), col("value"))

  private def qAttributionIncr(s: SparkSession, d: String): DataFrame = {
    val root = graft.Scratch.dir("graft-attr-incr")
    val ev = VersionedTable.create(s, root.resolve("ev").toString,
      attrEventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
    val all = attrEventRows(s, d)
    appendClustered(ev, all.filter(col("event_id") % 2 === 0))
    val v = buildAttribution(ev, root.resolve("v").toString)
    appendClustered(ev, all.filter(col("event_id") % 2 === 1))
    ev.deleteWhere(col("event_id") % 23 === 7)
    v.refresh(ev)
    v.byChannel()
  }

  /** Per-channel attribution SQL over events surviving `filter` — the
    * same window/lookback arithmetic as the batch `q_attribution`
    * oracle, aggregated to the maintained readout's shape. */
  private def attrChannelSql(filter: String): String =
    s"""WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t, value
      |  FROM events$filter),
      |m AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type IN ('view','click') THEN t END
      |      IGNORE NULLS) OVER w AS lt,
      |    last_value(CASE WHEN event_type IN ('view','click') THEN event_type END
      |      IGNORE NULLS) OVER w AS lty
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |p AS (
      |  SELECT CASE WHEN lt IS NOT NULL AND t - lt <= ${EventWindows.ATTR_US}
      |              THEN lty ELSE 'direct' END AS channel,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM m WHERE event_type = 'purchase')
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(cents) AS BIGINT) AS cents
      |FROM p GROUP BY 1""".stripMargin

  private val qAttributionIncrSql =
    attrChannelSql(" WHERE event_id % 23 <> 7")

  // ------------------------------------------- q_attribution_refresh
  /** STEADY-STATE incremental-attribution cost — the [[qFunnelRefresh]]
    * construction: each untimed staging call appends a fresh-id copy of
    * the toggled users' `signup`/`error` events (real CDF rows, real
    * per-user re-derives) which are neither touches nor purchases, so
    * the attribution readout is provably unchanged and the oracle
    * recomputes it declaratively over the base events. */
  private val arCache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String),
    (VersionedTable, AttributionView, java.util.concurrent.atomic.AtomicLong)]

  private def arFixture(s: SparkSession, d: String)
      : (VersionedTable, AttributionView,
         java.util.concurrent.atomic.AtomicLong) =
    arCache.synchronized {
      arCache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-attr-steady")
        val ev = VersionedTable.create(s, root.resolve("ev").toString,
          attrEventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
        appendClustered(ev, attrEventRows(s, d))
        val v = buildAttribution(ev, root.resolve("v").toString)
        (ev, v, new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def arPrepare(s: SparkSession, d: String): Unit = {
    val (ev, _, calls) = arFixture(s, d)
    val n = calls.getAndIncrement()
    appendClustered(ev,
      attrEventRows(s, d)
        .filter(col("user_id") % 50 === 0 &&
          col("event_type").isin("signup", "error"))
        .withColumn("event_id",
          col("event_id") + lit((n + 1) * 100000000L)))
  }

  private def qAttributionRefresh(s: SparkSession, d: String): DataFrame = {
    val (ev, v, _) = arFixture(s, d)
    v.refresh(ev)
    v.byChannel()
  }

  private val qAttributionRefreshSql = attrChannelSql("")

  // --------------------------------------- net-zero steady-state staging
  /** Shared UNTIMED staging for the `_refresh` rows whose derive is NOT
    * duplicate-invariant (sessions count events; path trigram counts
    * double under duplication; DAU entries are per-event): each staging
    * call APPENDS a shifted copy of the toggled users' rows and then
    * DELETES exactly that batch. The CDF hands the timed refresh real
    * INSERT and DELETE rows for the ~2 % toggled users — a genuine
    * changed-key re-derive plus state merge — while the net snapshot is
    * provably unchanged, so the oracle stays the full-set declarative
    * form across any number of stagings (the ingest-then-retract shape
    * of a GDPR erasure landing right behind its subject's data). */
  private val STAGE_SHIFT = 100000000L

  private def netZeroStage(t: VersionedTable, rows: DataFrame,
      calls: java.util.concurrent.atomic.AtomicLong): Unit = {
    val n = calls.getAndIncrement()
    appendClustered(t, rows.withColumn("event_id",
      col("event_id") + lit((n + 1) * STAGE_SHIFT)))
    t.deleteWhere(col("event_id") >= STAGE_SHIFT)
  }

  // ---------------------------------------------- q_sessionize_refresh
  /** STEADY-STATE incremental-sessionization cost: the fixture builds
    * the session view over the full events table once per (session,
    * sf dir); each untimed staging nets zero (see [[netZeroStage]]),
    * so the timed body is ONE refresh — CDF scan, per-user session
    * re-fold for the toggled users, merge — plus the O(state)
    * readout, and the oracle is the batch gaps-and-islands form. */
  private val srCache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String),
    (VersionedTable, SessionView, java.util.concurrent.atomic.AtomicLong)]

  private def srRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("t"), col("value"))

  private def srFixture(s: SparkSession, d: String)
      : (VersionedTable, SessionView, java.util.concurrent.atomic.AtomicLong) =
    srCache.synchronized {
      srCache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-session-steady")
        val ev = VersionedTable.create(s, root.resolve("ev").toString,
          sessionEventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
        appendClustered(ev, srRows(s, d))
        val v = buildSessions(ev, root.resolve("v").toString)
        (ev, v, new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def srPrepare(s: SparkSession, d: String): Unit = {
    val (ev, _, calls) = srFixture(s, d)
    netZeroStage(ev, srRows(s, d).filter(col("user_id") % 50 === 0), calls)
  }

  private def qSessionizeRefresh(s: SparkSession, d: String): DataFrame = {
    val (ev, v, _) = srFixture(s, d)
    v.refresh(ev)
    v.sessions()
  }

  // --------------------------------------------- q_event_paths_refresh
  /** STEADY-STATE incremental path-mining cost — [[netZeroStage]]
    * churn over [[PathsView]]: the timed body is the changed-user
    * trigram re-derive, the no-op state merge, the chained per-path
    * AggView refresh off the state CDF, and the O(paths) top-K
    * readout. */
  private val prCache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String),
    (VersionedTable, PathsView, java.util.concurrent.atomic.AtomicLong)]

  private def prFixture(s: SparkSession, d: String)
      : (VersionedTable, PathsView, java.util.concurrent.atomic.AtomicLong) =
    prCache.synchronized {
      prCache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-paths-steady")
        val ev = VersionedTable.create(s, root.resolve("ev").toString,
          eventsSchema, Map(VersionedTable.PROP_CDF -> "true"))
        appendClustered(ev, eventRows(s, d))
        val v = buildPaths(ev, root.resolve("v").toString)
        (ev, v, new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def prPrepare(s: SparkSession, d: String): Unit = {
    val (ev, _, calls) = prFixture(s, d)
    netZeroStage(ev, eventRows(s, d).filter(col("user_id") % 50 === 0), calls)
  }

  private def qEventPathsRefresh(s: SparkSession, d: String): DataFrame = {
    val (ev, v, _) = prFixture(s, d)
    v.refresh(ev)
    v.topPaths()
  }

  // -------------------------------------------- q_active_users_refresh
  /** STEADY-STATE DAU/WAU maintenance cost — [[netZeroStage]] churn on
    * BOTH entry tables of the [[qActiveUsersIncr]] chain: the timed
    * body is one refresh per chain level (refcount off the entries
    * CDF, count off the refcount view's CDF — the toggled users'
    * refcount churn surfaces downstream as cancelling (−1,+1) pairs)
    * plus the O(days) readout. */
  private final case class DauFixture(
      eDay: VersionedTable, eWin: VersionedTable,
      refDay: AggView, refWin: AggView, dau: AggView, wau: AggView,
      calls: java.util.concurrent.atomic.AtomicLong)

  private val auCache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String), DauFixture]

  private def auRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"))

  private def auWinRows(e: DataFrame): DataFrame = e.select(col("event_id"),
    col("user_id"), explode(expr("sequence(day, day + 6)")).as("win_day"))

  private def auFixture(s: SparkSession, d: String): DauFixture =
    auCache.synchronized {
      auCache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-dauwau-steady")
        val eDay = VersionedTable.create(s, root.resolve("eday").toString,
          dayEntrySchema, Map(VersionedTable.PROP_CDF -> "true"))
        val eWin = VersionedTable.create(s, root.resolve("ewin").toString,
          winEntrySchema, Map(VersionedTable.PROP_CDF -> "true"))
        val all = auRows(s, d)
        eDay.append(all)
        eWin.append(auWinRows(all))
        val refDay = AggView.build(eDay, root.resolve("refday").toString,
          Seq("user_id", "day"), Seq.empty)
        val refWin = AggView.build(eWin, root.resolve("refwin").toString,
          Seq("user_id", "win_day"), Seq.empty)
        val dau = AggView.build(refDay.table, root.resolve("dau").toString,
          Seq("day"), Seq.empty)
        val wau = AggView.build(refWin.table, root.resolve("wau").toString,
          Seq("win_day"), Seq.empty)
        DauFixture(eDay, eWin, refDay, refWin, dau, wau,
          new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def auPrepare(s: SparkSession, d: String): Unit = {
    val f = auFixture(s, d)
    val n = f.calls.getAndIncrement()
    val delta = auRows(s, d).filter(col("user_id") % 50 === 0)
      .withColumn("event_id", col("event_id") + lit((n + 1) * STAGE_SHIFT))
    f.eDay.append(delta)
    f.eWin.append(auWinRows(delta))
    f.eDay.deleteWhere(col("event_id") >= STAGE_SHIFT)
    f.eWin.deleteWhere(col("event_id") >= STAGE_SHIFT)
  }

  private def qActiveUsersRefresh(s: SparkSession, d: String): DataFrame = {
    val f = auFixture(s, d)
    f.refDay.refresh(f.eDay); f.dau.refresh(f.refDay.table)
    f.refWin.refresh(f.eWin); f.wau.refresh(f.refWin.table)
    dauReadout(f.dau, f.wau)
  }

  // -------------------------------------------- q_completeness_refresh
  /** STEADY-STATE payload-quality maintenance cost — [[netZeroStage]]
    * churn over the [[qCompletenessIncr]] chain (additive flag AggView
    * + refcount→count distinct-user chain); timed body = one refresh
    * per level + the |types|-row readout. */
  private val coCache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String),
    (VersionedTable, AggView, AggView, AggView,
      java.util.concurrent.atomic.AtomicLong)]

  private def coRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("event_type"),
      col("user_id"),
      when(col("value").isNull, 1).otherwise(0).as("is_vnull"),
      when(col("props").isNull || col("props") === "", 1).otherwise(0)
        .as("is_pempty"),
      when(col("props").like("%\"k\":%"), 1).otherwise(0).as("is_pk"))

  private def coFixture(s: SparkSession, d: String)
      : (VersionedTable, AggView, AggView, AggView,
        java.util.concurrent.atomic.AtomicLong) =
    coCache.synchronized {
      coCache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-compl-steady")
        val t = VersionedTable.create(s, root.resolve("t").toString,
          complEntrySchema, Map(VersionedTable.PROP_CDF -> "true"))
        t.append(coRows(s, d))
        val flags = AggView.build(t, root.resolve("flags").toString,
          Seq("event_type"),
          Seq("vnull" -> "CAST(is_vnull AS BIGINT)",
            "pempty" -> "CAST(is_pempty AS BIGINT)",
            "pk" -> "CAST(is_pk AS BIGINT)"))
        val refUsers = AggView.build(t, root.resolve("refu").toString,
          Seq("event_type", "user_id"), Seq.empty)
        val users = AggView.build(refUsers.table, root.resolve("users").toString,
          Seq("event_type"), Seq.empty)
        (t, flags, refUsers, users,
          new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def coPrepare(s: SparkSession, d: String): Unit = {
    val (t, _, _, _, calls) = coFixture(s, d)
    val n = calls.getAndIncrement()
    t.append(coRows(s, d).filter(col("user_id") % 50 === 0)
      .withColumn("event_id", col("event_id") + lit((n + 1) * STAGE_SHIFT)))
    t.deleteWhere(col("event_id") >= STAGE_SHIFT)
  }

  private def qCompletenessRefresh(s: SparkSession, d: String): DataFrame = {
    val (t, flags, refUsers, users, _) = coFixture(s, d)
    flags.refresh(t)
    refUsers.refresh(t); users.refresh(refUsers.table)
    complReadout(flags, users)
  }

  override val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_sessionize_incr"    -> qSessionizeIncr _,
    "q_funnel_incr"        -> qFunnelIncr _,
    "q_retention_incr"     -> qRetentionIncr _,
    "q_funnel_refresh"     -> qFunnelRefresh _,
    "q_retention_refresh"  -> qRetentionRefresh _,
    "q_active_users_incr"  -> qActiveUsersIncr _,
    "q_event_paths_incr"   -> qEventPathsIncr _,
    "q_completeness_incr"  -> qCompletenessIncr _,
    "q_attribution_incr"   -> qAttributionIncr _,
    "q_attribution_refresh" -> qAttributionRefresh _,
    "q_sessionize_refresh"   -> qSessionizeRefresh _,
    "q_event_paths_refresh"  -> qEventPathsRefresh _,
    "q_active_users_refresh" -> qActiveUsersRefresh _,
    "q_completeness_refresh" -> qCompletenessRefresh _)

  override val oracles: Seq[(String, String)] = Seq(
    // the maintained state must equal the from-scratch batch
    // sessionization — one oracle pins both paths
    "q_sessionize_incr"    -> EventWindows.qSessionizeSql,
    "q_funnel_incr"        -> qFunnelIncrSql,
    "q_retention_incr"     -> qRetentionIncrSql,
    "q_funnel_refresh"     -> qFunnelIncrSql,
    "q_retention_refresh"  -> qRetentionIncrSql,
    "q_active_users_incr"  -> qActiveUsersIncrSql,
    "q_event_paths_incr"   -> qEventPathsIncrSql,
    "q_completeness_incr"  -> qCompletenessIncrSql,
    "q_attribution_incr"   -> qAttributionIncrSql,
    "q_attribution_refresh" -> qAttributionRefreshSql,
    // steady-state rows: net-zero staging ⇒ the full-set batch forms
    "q_sessionize_refresh"   -> EventWindows.qSessionizeSql,
    "q_event_paths_refresh"  -> EventWindows.qEventPathsSql,
    "q_active_users_refresh" -> activeUsersSql(""),
    "q_completeness_refresh" -> completenessSql(""))

  override val prepares: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "q_funnel_refresh"    -> (frPrepare _),
    "q_retention_refresh" -> (rrPrepare _),
    "q_attribution_refresh" -> (arPrepare _),
    "q_sessionize_refresh"   -> (srPrepare _),
    "q_event_paths_refresh"  -> (prPrepare _),
    "q_active_users_refresh" -> (auPrepare _),
    "q_completeness_refresh" -> (coPrepare _))
}
