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
  * The view is a [[CandidateBuffer]] over a stored ordering column: the
  * top `K + SLACK` rows per group plus a per-group validity, refreshed
  * by the shared candidate-buffer step (inserts fold without touching
  * the source; deletes spend slack; a group whose validity drops under
  * K re-derives). This class supplies only its changed rows and reads:
  *
  *   - the net change batch per (grp, id), whose groups put the buffers
  *     in scope — capped at `keyPruneMax`, past which the step
  *     re-derives every group from the source;
  *   - fold inserts are the net rows themselves;
  *   - a derive group is a stats-pruned per-group source read
  *     ([[VersionedTable.snapshotForKeys]]), never a full scan.
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
  private[table] val buffer = new CandidateBuffer(state, meta,
    grpCol, idCol, ordCol, k, slack, TopKViewOps.APP)

  /** Which path the last [[refresh]] took — spec observability for the
    * key-prune cap (true = the touched-group set exceeded
    * `keyPruneMax` and the refresh fell back to a full re-derive). */
  private[table] def lastRefreshFull: Boolean = buffer.lastFull

  private def cols = Seq(col(grpCol), col(idCol), col(ordCol))

  /** Refreshes from the source recorded at build time (the SQL
    * `REFRESH MATERIALIZED VIEW` path — the view is self-describing). */
  def refresh(): Option[Long] =
    refresh(VersionedTable.load(state.spark,
      state.latestManifest.properties(TopKViewOps.PROP_SOURCE)))

  /** Applies all source changes the view has not seen. */
  def refresh(src: VersionedTable): Option[Long] = buffer.refresh(src, delta(src))

  private[table] def delta(src: VersionedTable): CandidateBuffer.Delta =
    new CandidateBuffer.Delta {
      // NET the batch per (grp, id) key: a row inserted AND deleted
      // between two refreshes must not re-enter through the insert leg,
      // and an in-window ord update must fold its latest image exactly
      // once. Latest commit wins; within one commit an update's
      // postimage outranks its preimage. Preimages are KEPT as net keys
      // (unlike the single-key [[graft.llm.IncrementalIndex.netChanges]])
      // because a group-moving update's old (grp, id) has ONLY a
      // preimage — that is what purges the old group's buffer row.
      def net(since: Long): DataFrame = {
        val netW = Window.partitionBy(col(grpCol), col(idCol))
          .orderBy(col("_commit_version").desc,
            when(VersionedTable.RETRACTION, 0).otherwise(1).desc)
        src.changes(since)
          .select(cols :+ col("_change_type") :+ col("_commit_version"): _*)
          .withColumn("__rnk", row_number().over(netW))
          .filter(col("__rnk") === 1)
          .withColumn("__op",
            when(VersionedTable.RETRACTION, "DELETE").otherwise("UPSERT"))
          .drop("__rnk", "_change_type", "_commit_version")
      }
      // past the cap the driver never holds the key set: a delta
      // touching >10k groups is a near-rebuild, where one full
      // re-derive beats 10k-literal plans anyway (VERDICT r11 #2)
      def maxGroups: Int = keyPruneMax
      def all(): DataFrame = src.snapshot().select(cols: _*)
      def fold(upserts: DataFrame, groups: Seq[Any]): DataFrame =
        VersionedTable.filterForKeys(upserts, state.schema(grpCol), groups)
      def derive(groups: Seq[Any]): DataFrame =
        src.snapshotForKeys(grpCol, groups).select(cols: _*)
    }

  /** The maintained top-k readout `(grp, id, ord, rnk)` — a window
    * over the compact candidate state, never the source. */
  def topk(): DataFrame = buffer.topk()
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
    val v = new TopKView(state, meta, grpCol, idCol, ordCol, k, slack)
    val latest = src.latestVersion
    v.buffer.seed(src.snapshot().select(col(grpCol), col(idCol), col(ordCol)),
      None, Some(latest))
    v
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
