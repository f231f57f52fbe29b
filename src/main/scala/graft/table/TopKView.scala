package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{QueryModule, Tables}

/** Incrementally-maintained per-group TOP-K view — the ranking member
  * of the engine's materialized-view family ([[AggView]] keeps
  * signed-delta aggregates, [[JoinView]] keeps join blocks; neither
  * can express "the current top-k rows per group", the leaderboard /
  * best-documents-per-language / hottest-keys view every curation
  * dashboard maintains).
  *
  * A top-k is NOT incrementally foldable from deltas alone: deleting a
  * top row must PROMOTE the (k+1)-th — information a plain fold has
  * already discarded. The classic fix (maintained here) is a CANDIDATE
  * BUFFER with slack: the view stores the top `K + SLACK` rows per
  * group plus a per-group VALIDITY counter `valid_n` = how many
  * leading positions of that buffer are provably the true source
  * top-n.
  *
  *   - INSERTS fold without touching the source: the new true top-v of
  *     a group is contained in (old candidates ∪ inserted rows), so a
  *     per-group trim of that union to K+SLACK maintains the invariant
  *     at O(candidates + Δ) cost — validity is unchanged.
  *   - DELETES spend slack: removing `d` rows of a group leaves the
  *     buffer's leading `valid_n − d` positions exact (every row of
  *     the new top-(v−d) was within the old top-v). Only when a
  *     group's validity would drop under K does the view RE-DERIVE
  *     that one group from the source — a stats-pruned per-group read
  *     ([[VersionedTable.snapshotForKeys]]), never a full scan. SLACK
  *     deletions per group amortize between re-derives.
  *
  * Refresh therefore costs O(Δ + touched-group buffers) in the steady
  * insert-heavy case and O(re-derived group) worst case, with the
  * readout an O(groups·(K+SLACK)) window over the compact state —
  * the same contract as the funnel/retention state views
  * ([[graft.streaming.EventStateViews]]). Correctness invariant
  * (oracle + spec): after any refresh, the readout equals the
  * declarative window top-k over the full source snapshot.
  */
final class TopKView private[table] (
    val state: VersionedTable,   // (grp, id, ord) candidate buffers
    val meta: VersionedTable,    // (grp, valid_n)
    grpCol: String, idCol: String, ordCol: String,
    val k: Int, slack: Int,
    keyPruneMax: Int = VersionedTable.KEY_PRUNE_MAX) {
  import TopKViewOps.APP
  private val K = k
  private val CAND = k + slack

  /** Which path the last [[refresh]] took — spec observability for the
    * key-prune cap (true = the touched-group set exceeded
    * `keyPruneMax` and the refresh fell back to a full re-derive). */
  @volatile private[table] var lastRefreshFull: Boolean = false

  private def spark: SparkSession = state.spark

  /** Filters an in-memory frame to rows whose `grpCol` ∈ `vals` — the
    * expression tree must not grow with the touched-group count. */
  private def filterGrps(df: DataFrame, vals: Seq[Any]): DataFrame =
    VersionedTable.filterForKeys(df, state.schema(grpCol), vals)

  /** Refreshes from the source recorded at build time (the SQL
    * `REFRESH MATERIALIZED VIEW` path — the view is self-describing). */
  def refresh(): Option[Long] =
    refresh(VersionedTable.load(spark,
      state.latestManifest.properties(TopKViewOps.PROP_SOURCE)))

  /** Applies all source changes the view has not seen.
    *
    * == Crash atomicity (ADVICE r12) ==
    * State commits first, meta second, and the APP watermark rides the
    * LAST commit (meta): a crash between the two leaves the watermark
    * un-advanced, so the next refresh replays the same change batch —
    * output-idempotent (netted purge-then-refold), at worst a
    * conservatively double-spent validity decrement that triggers a
    * spurious re-derive, never a silently-stale top-k (the failure
    * mode when the watermark rode the state commit: valid_n stayed
    * inflated and a required re-derive could be skipped). */
  def refresh(src: VersionedTable): Option[Long] = {
    val latest = src.latestVersion
    // max over BOTH tables (ADVICE r13): pre-migration views carry the
    // watermark on the state commit only — without the fallback their
    // first refresh replays the entire CDF history (or fails if early
    // versions were vacuumed). meta commits last, so meta ≤ state
    // always; current-code commits put the txn on meta alone.
    val since = math.max(meta.lastTxn(APP).getOrElse(0L),
      state.lastTxn(APP).getOrElse(0L)) + 1
    if (latest < since) return None
    val wm = Map(APP -> latest)
    // NET the batch per (grp, id) key FIRST: a row inserted AND deleted
    // between two refreshes must not re-enter through the insert leg,
    // and an in-window ord update must fold its latest image exactly
    // once. Latest commit wins; within one commit an update's postimage
    // outranks its preimage. Preimages are KEPT as net keys (unlike the
    // single-key [[graft.llm.IncrementalIndex.netChanges]]) because a
    // group-moving update's old (grp, id) has ONLY a preimage — that is
    // what purges the old group's buffer row.
    val netW = Window.partitionBy(col(grpCol), col(idCol))
      .orderBy(col("_commit_version").desc,
        when(col("_change_type").isin("insert", "update_postimage"), 1)
          .otherwise(0).desc)
    val ch = src.changes(since)
      .select(col(grpCol), col(idCol), col(ordCol),
        col("_change_type"), col("_commit_version"))
      .withColumn("__rnk", row_number().over(netW))
      .filter(col("__rnk") === 1)
      .withColumn("__op",
        when(col("_change_type").isin("delete", "update_preimage"), "DELETE")
          .otherwise("UPSERT"))
      .drop("__rnk", "_change_type", "_commit_version")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val inserts = ch.filter(col("__op") === "UPSERT").drop("__op")
      // EVERY net-changed key purges its buffer row and (when buffered)
      // spends a validity position — conservatively including upserts
      // of buffered rows, whose re-entry rank is not provable without a
      // re-derive; the fold then re-admits the fresh image via the trim
      val changed = ch.select(col(grpCol), col(idCol))
      // touched groups: bounded by the delta AND capped at
      // `keyPruneMax` (VERDICT r11 #2 — the JoinView/AggView
      // limit+fallback pattern). Past the cap the driver never holds
      // the key set: a delta touching >10k groups is a near-rebuild,
      // where one full re-derive from the source beats 10k-literal
      // plans anyway.
      val grps = VersionedTable.boundedKeys(
          ch.select(col(grpCol)).distinct(), keyPruneMax) match {
        case Some(g) => g
        case None =>
          lastRefreshFull = true
          return Some(fullRederive(src, wm))
      }
      lastRefreshFull = false
      if (grps.isEmpty) {
        meta.commitFiles(Seq.empty, Seq.empty, None, "refresh-noop",
          extraTxn = wm)
        return Some(state.latestVersion)
      }
      // stats-pruned (state batches are written range-clustered by
      // group, so file min/max stats skip)
      val oldCand = state.snapshotForKeys(grpCol, grps)
      val oldMeta = meta.snapshotForKeys(grpCol, grps)
      // validity after deletes: valid_n - (candidate rows deleted);
      // groups with no meta row are NEW and must derive
      val lost = oldCand.join(changed, Seq(grpCol, idCol), "left_semi")
        .groupBy(col(grpCol)).agg(count(lit(1)).as("lost"))
      val validity = spark.createDataFrame(
          spark.sparkContext.parallelize(grps.map(org.apache.spark.sql.Row(_)), 1),
          StructType(Seq(state.schema(grpCol))))
        .join(oldMeta, Seq(grpCol), "left")
        .join(lost, Seq(grpCol), "left")
        .select(col(grpCol),
          (coalesce(col("valid_n"), lit(-1L)) - coalesce(col("lost"), lit(0L)))
            .as("v"))
      val validRows = validity.collect()
      val deriveGrps = validRows.filter(_.getLong(1) < K).map(_.get(0)).toSeq
      val foldGrps = validRows.filter(_.getLong(1) >= K).map(_.get(0)).toSeq

      // FOLD path: (survivors ∪ inserts) trimmed per group to K+SLACK
      val foldCand =
        if (foldGrps.isEmpty) None
        else {
          val surv = filterGrps(oldCand, foldGrps)
            .join(changed, Seq(grpCol, idCol), "left_anti")
          Some(surv.unionByName(filterGrps(inserts, foldGrps)))
        }
      // DERIVE path: exact top-(K+SLACK) from a per-group source read
      val deriveCand =
        if (deriveGrps.isEmpty) None
        else Some(src.snapshotForKeys(grpCol, deriveGrps)
          .select(col(grpCol), col(idCol), col(ordCol)))
      val unioned = (foldCand, deriveCand) match {
        case (Some(a), Some(b)) => a.unionByName(b)
        case (Some(a), None)    => a
        case (None, Some(b))    => b
        case _                  => return Some(state.latestVersion)
      }
      val w = Window.partitionBy(col(grpCol))
        .orderBy(col(ordCol).desc, col(idCol).asc)
      val fresh = unioned
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= CAND).drop("__rn")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val dels = oldCand.select(col(grpCol), col(idCol))
          .join(fresh, Seq(grpCol, idCol), "left_anti")
          .withColumn("__op", lit("DELETE"))
        Merge.run(state,
          fresh.withColumn("__op", lit("UPSERT"))
            .unionByName(dels, allowMissingColumns = true),
          Seq(grpCol, idCol), Merge.upsertDeleteClauses)
        // meta: folds keep v (capped at CAND), derives reset to CAND;
        // the watermark commits HERE, after the state merge — see the
        // crash-atomicity note on [[refresh]]
        val newMeta = validity
          .withColumn("valid_n",
            when(col("v") < K, lit(CAND.toLong))
              .otherwise(least(col("v"), lit(CAND.toLong))))
          .select(col(grpCol), col("valid_n"))
          .withColumn("__op", lit("UPSERT"))
        Merge.run(meta, newMeta, Seq(grpCol), Merge.upsertDeleteClauses,
          extraTxn = wm)
        Some(state.latestVersion)
      } finally fresh.unpersist()
    } finally ch.unpersist()
  }

  /** Fallback past the key-prune cap: one exact re-derive of EVERY
    * group's top-(K+SLACK) buffer from the current source snapshot —
    * a single window pass (shuffle on `grpCol`, nothing driver-side),
    * merged against the state so unchanged buffer rows rewrite only
    * their files, with vanished groups deleted and every validity
    * reset to CAND. Same cost shape as [[TopKViewOps.build]], which
    * is the point: a >keyPruneMax-group delta IS a rebuild. */
  private def fullRederive(src: VersionedTable, wm: Map[String, Long]): Long = {
    val w = Window.partitionBy(col(grpCol))
      .orderBy(col(ordCol).desc, col(idCol).asc)
    val fresh = src.snapshot()
      .select(col(grpCol), col(idCol), col(ordCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= CAND).drop("__rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dels = state.snapshot().select(col(grpCol), col(idCol))
        .join(fresh, Seq(grpCol, idCol), "left_anti")
        .withColumn("__op", lit("DELETE"))
      Merge.run(state,
        fresh.withColumn("__op", lit("UPSERT"))
          .unionByName(dels, allowMissingColumns = true),
        Seq(grpCol, idCol), Merge.upsertDeleteClauses)
      val grpsNow = fresh.select(col(grpCol)).distinct()
      val metaDels = meta.snapshot().select(col(grpCol))
        .join(grpsNow, Seq(grpCol), "left_anti")
        .withColumn("__op", lit("DELETE"))
      // watermark on the last commit — crash-atomicity note on [[refresh]]
      Merge.run(meta,
        grpsNow.withColumn("valid_n", lit(CAND.toLong))
          .withColumn("__op", lit("UPSERT"))
          .unionByName(metaDels, allowMissingColumns = true),
        Seq(grpCol), Merge.upsertDeleteClauses, extraTxn = wm)
      state.latestVersion
    } finally fresh.unpersist()
  }

  /** The maintained top-k readout `(grp, id, ord, rnk)` — a window
    * over the compact candidate state, never the source. */
  def topk(): DataFrame = {
    val w = Window.partitionBy(col(grpCol))
      .orderBy(col(ordCol).desc, col(idCol).asc)
    state.snapshot()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
  }
}

object TopKViewOps extends QueryModule {
  import Tables._

  val APP = "topk-view"
  val K = 5
  val SLACK = 3
  val CAND: Int = K + SLACK
  private val BUCKETS = 8

  // self-describing view definition, recorded on the state table so
  // `TopKViewOps.load` / SQL `REFRESH MATERIALIZED VIEW` need only
  // the view path (the JoinView/AggView property protocol)
  val PROP_GRP = "graft.topk.grp"
  val PROP_ID = "graft.topk.id"
  val PROP_ORD = "graft.topk.ord"
  val PROP_K = "graft.topk.k"
  val PROP_SLACK = "graft.topk.slack"
  val PROP_SOURCE = "graft.topk.source"

  /** Builds the view (full derive of every group) over `src`. */
  def build(src: VersionedTable, root: String,
      grpCol: String, idCol: String, ordCol: String,
      k: Int = K, slack: Int = SLACK): TopKView = {
    val spark = src.spark
    val srcSchema = src.schema
    val cand0 = k + slack
    def f(n: String) = srcSchema(n)
    // the state is compact (|groups|·(k+slack) rows) — a plain CoW
    // table whose merges rewrite only files containing touched keys
    val state = VersionedTable.create(spark, s"$root/state",
      StructType(Seq(f(grpCol), f(idCol), f(ordCol))),
      Map(PROP_GRP -> grpCol, PROP_ID -> idCol, PROP_ORD -> ordCol,
        PROP_K -> k.toString, PROP_SLACK -> slack.toString,
        PROP_SOURCE -> src.root.toString))
    val meta = VersionedTable.create(spark, s"$root/meta",
      StructType(Seq(f(grpCol), StructField("valid_n", LongType))))
    val latest = src.latestVersion
    val w = Window.partitionBy(col(grpCol))
      .orderBy(col(ordCol).desc, col(idCol).asc)
    val cand = src.snapshot()
      .select(col(grpCol), col(idCol), col(ordCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cand0).drop("__rn")
    Merge.run(state, cand.withColumn("__op", lit("UPSERT")),
      Seq(grpCol, idCol), Merge.upsertDeleteClauses)
    // watermark on the last commit — crash-atomicity note on [[refresh]]
    Merge.run(meta,
      cand.select(col(grpCol)).distinct()
        .withColumn("valid_n", lit(cand0.toLong))
        .withColumn("__op", lit("UPSERT")),
      Seq(grpCol), Merge.upsertDeleteClauses, extraTxn = Map(APP -> latest))
    new TopKView(state, meta, grpCol, idCol, ordCol, k, slack)
  }

  /** Loads a built view from its recorded definition. */
  def load(spark: SparkSession, root: String): TopKView = {
    val state = VersionedTable.load(spark, s"$root/state")
    val p = state.latestManifest.properties
    new TopKView(state, VersionedTable.load(spark, s"$root/meta"),
      p(PROP_GRP), p(PROP_ID), p(PROP_ORD),
      p(PROP_K).toInt, p(PROP_SLACK).toInt)
  }

  // ------------------------------------------------------ query fixtures

  private val docSchema = StructType(Seq(
    StructField("lang", StringType),
    StructField("doc_id", LongType),
    StructField("ord", LongType)))

  private def docRows(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("lang"), col("doc_id"),
      col("n_chars").cast("long").as("ord"))

  /** Source tables are log-style (append + deleteWhere); RANGE-cluster
    * each batch by the group key so a group's rows land in few
    * contiguous-stat files — what makes the re-derive's per-group read
    * file-skippable (the [[graft.streaming.EventStateViews]] idiom). */
  private def appendClustered(t: VersionedTable, rows: DataFrame): Unit =
    t.append(rows.repartitionByRange(BUCKETS, col("lang"))): Unit

  // ------------------------------------------------------- q_topk_view
  /** Top-k LIFECYCLE: build at half the corpus, append the rest
    * (insert fold), then DELETE a doc_id slice (spending slack /
    * forcing per-group re-derives where the slice hit leaders) and
    * refresh again. The oracle ranks the final source state
    * declaratively — the maintained buffer must agree exactly. */
  private def qTopkView(s: SparkSession, d: String): DataFrame = {
    val root = graft.Scratch.dir("graft-topk")
    val src = VersionedTable.create(s, root.resolve("src").toString,
      docSchema, Map(VersionedTable.PROP_CDF -> "true"))
    val all = docRows(s, d)
    appendClustered(src, all.filter(col("doc_id") % 2 === 0))
    val v = build(src, root.resolve("v").toString, "lang", "doc_id", "ord")
    appendClustered(src, all.filter(col("doc_id") % 2 === 1))
    v.refresh(src)
    src.deleteWhere(col("doc_id") % 7 === 0)
    v.refresh(src)
    v.topk()
  }
  private val qTopkViewSql =
    s"""SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS ord,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY n_chars DESC, doc_id ASC) AS rnk
      |  FROM documents WHERE doc_id % 7 <> 0)
      |WHERE rnk <= $K""".stripMargin

  // ---------------------------------------------------- q_topk_refresh
  /** STEADY-STATE refresh cost: the fixture builds the view over the
    * full corpus once per (session, sf dir); each untimed staging call
    * appends a block of BELOW-THE-FOLD rows (fresh ids, ord = 1), so
    * the timed body is ONE insert-fold refresh — CDF scan, per-group
    * buffer trim, state merge, never a source scan — plus the O(state)
    * readout. Low-ord inserts cannot enter any top-k (real lengths
    * ≥ 40), so the result is invariant across stagings and shares the
    * declarative oracle. */
  private val cache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String),
    (VersionedTable, TopKView, java.util.concurrent.atomic.AtomicLong)]

  private def fixture(s: SparkSession, d: String)
      : (VersionedTable, TopKView, java.util.concurrent.atomic.AtomicLong) =
    cache.synchronized {
      cache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-topk-steady")
        val src = VersionedTable.create(s, root.resolve("src").toString,
          docSchema, Map(VersionedTable.PROP_CDF -> "true"))
        appendClustered(src, docRows(s, d))
        val v = build(src, root.resolve("v").toString, "lang", "doc_id", "ord")
        (src, v, new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def prepare(s: SparkSession, d: String): Unit = {
    val (src, _, calls) = fixture(s, d)
    val n = calls.getAndIncrement()
    appendClustered(src, docRows(s, d).limit(64)
      .withColumn("doc_id", col("doc_id") + lit((n + 1) * 100000000L))
      .withColumn("ord", lit(1L)))
  }

  private def qTopkRefresh(s: SparkSession, d: String): DataFrame = {
    val (src, v, _) = fixture(s, d)
    v.refresh(src)
    v.topk()
  }
  private val qTopkRefreshSql =
    s"""SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS ord,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY n_chars DESC, doc_id ASC) AS rnk
      |  FROM documents)
      |WHERE rnk <= $K""".stripMargin

  override val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_topk_view"    -> (qTopkView _),
    "q_topk_refresh" -> (qTopkRefresh _))

  override val oracles: Seq[(String, String)] = Seq(
    "q_topk_view"    -> qTopkViewSql,
    "q_topk_refresh" -> qTopkRefreshSql)

  override val prepares: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "q_topk_refresh" -> (prepare _))
}
