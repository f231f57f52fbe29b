package graft.table

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The candidate-buffer step of the maintained per-group top-k views
  * ([[TopKView]], [[graft.llm.RerankView]]): the slack buffer of Yi et
  * al., *Efficient Maintenance of Materialized Top-k Views* (ICDE 2003).
  *
  * A top-k is not foldable from deltas alone: deleting a top row must
  * promote the (k+1)-th, which a plain fold has discarded. So `state`
  * keeps the top `K + SLACK` rows `(grp, id, ord)` of each group, ranked
  * `ord` descending with ties on `id` ascending, and `meta` keeps a
  * per-group validity `(grp, valid_n)`: how many leading buffer
  * positions are provably the source's true top-n.
  *
  *   - Inserts fold: the new true top-v of a group lies inside
  *     (old buffer ∪ inserted rows), so trimming that union to K+SLACK
  *     keeps validity, and the source is never read.
  *   - Every changed candidate purges its buffer row and, when it was
  *     buffered, spends one validity position (an update conservatively
  *     too: its re-entry rank is not provable); the buffer's leading
  *     `v = valid_n − lost` positions stay exact. Only a group whose v
  *     drops under K re-derives from the source, and its validity resets
  *     to K+SLACK. SLACK buffered deletes amortize between re-derives.
  *
  * A view supplies only what differs ([[CandidateBuffer.Delta]]): the
  * net changed rows, how fold groups' inserts become candidates, and how
  * derive groups are read from the source.
  *
  * == Crash atomicity ==
  * Every write commits the state first and the meta last, and the
  * watermark rides the meta commit (ADVICE r12). A crash between the two
  * leaves the watermark un-advanced, so the next refresh replays the
  * batch. Were the watermark on the state commit, that crash would
  * advance it with `valid_n` still inflated, and a required re-derive
  * could be skipped. The replay alone is not enough either: the torn
  * state commit already purged the batch's buffered deletes, so the
  * replay no longer sees their validity cost and would fold a group
  * whose buffer has run short. So each meta commit also records the
  * state version it pairs with (txn `<app>.state`), and a refresh that
  * finds a newer state re-derives every group in its scope. A write that
  * is not a refresh (adding or retiring groups) leaves a stale pairing
  * stale, so the next refresh still sees the tear.
  * Views persisted before the watermark moved to meta carry it on the
  * state commit only, so the watermark read takes the max over both
  * tables (ADVICE r13); meta commits last, so meta ≤ state always.
  */
final class CandidateBuffer private[graft] (
    val state: VersionedTable,
    val meta: VersionedTable,
    grpCol: String, idCol: String, ordCol: String,
    k: Int, slack: Int, app: String) {
  import CandidateBuffer.Delta
  private val cand = k + slack
  private val stateTxn = s"$app.state"
  private val grpField = state.schema(grpCol)
  private val metaSchema = StructType(Seq(grpField,
    StructField("valid_n", LongType), StructField("__op", StringType)))

  /** Whether the last [[refresh]] re-derived every group (its scope
    * passed [[Delta.maxGroups]]). */
  @volatile private[graft] var lastFull: Boolean = false

  /** How many groups the last [[refresh]] re-derived from the source
    * (0 = pure fold). */
  @volatile private[graft] var lastDerived: Int = 0

  private def spark = state.spark

  /** Whether a state commit landed without its meta commit. */
  private def torn: Boolean =
    meta.lastTxn(stateTxn).exists(_ < state.latestVersion)

  private def ranked = Window.partitionBy(col(grpCol))
    .orderBy(col(ordCol).desc, col(idCol).asc)

  private def trim(rows: DataFrame): DataFrame =
    rows.withColumn("__rn", row_number().over(ranked))
      .filter(col("__rn") <= cand).drop("__rn")

  /** The readout: each group's buffer ranked, rows with `rnk ≤ K`. */
  def topk(): DataFrame =
    state.snapshot()
      .withColumn("rnk", row_number().over(ranked).cast("long"))
      .filter(col("rnk") <= k)

  /** Seeds buffers from `rows` (candidate columns, any number per
    * group): trimmed to K+SLACK and UPSERTed into the state, then
    * `groups` (default: the groups the state holds) get validity
    * K+SLACK on meta, with `latest` as the watermark when given. */
  def seed(rows: DataFrame, groups: Option[DataFrame], latest: Option[Long]): Unit =
    seedState(rows, groups, latest, replace = false)(): Unit

  /** Deletes the buffers and meta rows of `groups`; groups without
    * either are ignored. Both reads are key-scoped
    * ([[VersionedTable.snapshotForKeys]]). */
  def retire(groups: Seq[Any]): Unit = {
    val settled = !torn
    Merge.run(state, state.snapshotForKeys(grpCol, groups)
      .select(col(grpCol), col(idCol)).withColumn("__op", lit("DELETE")),
      Seq(grpCol, idCol), Merge.upsertDeleteClauses)
    commitMeta(meta.snapshotForKeys(grpCol, groups).select(col(grpCol))
      .withColumn("__op", lit("DELETE")), None, settled): Unit
  }

  /** Applies every `src` change the buffer has not seen; returns the
    * state version, or None when already current. */
  def refresh(src: VersionedTable, delta: Delta): Option[Long] =
    refreshState(src, delta).map(_())

  /** A refresh up to and including its state commit. Returns the meta
    * commit it still owes (validity and watermark); [[refresh]] runs it
    * at once, and a spec drops it to tear the refresh. */
  private[graft] def refreshState(src: VersionedTable, delta: Delta): Option[() => Long] = {
    val latest = src.latestVersion
    KeyedRefresh.since(latest, app, meta, state).map { since =>
      val net = delta.net(since).persist(StorageLevel.MEMORY_AND_DISK)
      try applyBatch(net, latest, delta) finally net.unpersist()
    }
  }

  /** The groups `net` puts in scope — its group column when it has one,
    * else every group on meta (a changed row without a group may sit in
    * any buffer) — then the empty, over-cap or fold/derive step. */
  private def applyBatch(net: DataFrame, latest: Long, delta: Delta): () => Long = {
    val keys = Seq(grpCol, idCol).filter(net.columns.contains)
    val scope =
      if (keys.contains(grpCol)) net.select(col(grpCol)).distinct()
      else meta.snapshot().select(col(grpCol))
    val grps = VersionedTable.boundedKeys(scope, delta.maxGroups) match {
      case Some(g) => g
      case None =>
        lastFull = true
        return seedState(delta.all(), None, Some(latest), replace = true)
    }
    lastFull = false
    lastDerived = 0
    if (grps.isEmpty) return () => {
      meta.commitFiles(Seq.empty, Seq.empty, None, "refresh-noop",
        extraTxn = Map(app -> latest))
      state.latestVersion
    }
    // validity after the batch: groups without a meta row are new and
    // derive, and so does every group after a torn refresh
    val rederive = torn
    val changed = net.select(keys.map(col): _*)
    val oldCand = state.snapshotForKeys(grpCol, grps)
    val lost = oldCand.join(changed, keys, "left_semi")
      .groupBy(col(grpCol)).agg(count(lit(1)).as("lost"))
    val validity = spark.createDataFrame(grps.map(Row(_)).asJava,
        StructType(Seq(grpField)))
      .join(meta.snapshotForKeys(grpCol, grps), Seq(grpCol), "left")
      .join(lost, Seq(grpCol), "left")
      .select(col(grpCol),
        (coalesce(col("valid_n"), lit(-1L)) - coalesce(col("lost"), lit(0L))).as("v"))
      .collect().toSeq
      .map(r => (r.get(0), if (rederive) -1L else r.getLong(1)))
    val (deriveRows, foldRows) = validity.partition(_._2 < k)
    val foldGrps = foldRows.map(_._1)
    val deriveGrps = deriveRows.map(_._1)
    lastDerived = deriveGrps.length
    // fold groups: (buffer survivors ∪ inserts); derive groups: a
    // source read
    val upserts = net.filter(col("__op") === "UPSERT").drop("__op")
    val candidates = Seq(
      Option.when(foldGrps.nonEmpty)(
        VersionedTable.filterForKeys(oldCand, grpField, foldGrps)
          .join(changed, keys, "left_anti")
          .unionByName(delta.fold(upserts, foldGrps))),
      Option.when(deriveGrps.nonEmpty)(delta.derive(deriveGrps))).flatten
    mergeState(candidates.reduce(_ unionByName _), Some(oldCand))
    // folds keep v (inserts cannot certify positions past it: an unseen
    // source row may sit between v and K+SLACK), capped at K+SLACK;
    // derives reset to K+SLACK
    val newMeta = validity.map { case (g, v) =>
      Row(g, if (v < k) cand.toLong else math.min(v, cand.toLong), "UPSERT")
    }
    () => commitMeta(spark.createDataFrame(newMeta.asJava, metaSchema),
      Some(latest), settled = true)
  }

  /** The state commit: `rows` trimmed to K+SLACK are UPSERTed, and the
    * rows of `old` (the in-scope state; None = none) the trim no longer
    * holds become key-only DELETEs. */
  private def mergeState(rows: DataFrame, old: Option[DataFrame]): Unit = {
    val keys = Seq(grpCol, idCol)
    // fresh feeds the merge source AND the stale anti-join's build side
    val fresh = trim(rows).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ups = fresh.withColumn("__op", lit("UPSERT"))
      val src = old.fold(ups) { o =>
        ups.unionByName(o.select(keys.map(col): _*)
          .join(fresh, keys, "left_anti")
          .withColumn("__op", lit("DELETE")), allowMissingColumns = true)
      }
      Merge.run(state, src, keys, Merge.upsertDeleteClauses)
    } finally fresh.unpersist()
  }

  /** The seed's state commit; returns its meta commit. `replace` also
    * deletes every state row and meta group the seed does not hold (the
    * full re-derive). */
  private def seedState(rows: DataFrame, groups: Option[DataFrame],
      latest: Option[Long], replace: Boolean): () => Long = {
    val settled = latest.isDefined || !torn
    mergeState(rows, Option.when(replace)(state.snapshot()))
    val grps = groups.getOrElse(state.snapshot().select(col(grpCol)).distinct())
    val ups = grps.withColumn("valid_n", lit(cand.toLong))
      .withColumn("__op", lit("UPSERT"))
    val metaRows =
      if (!replace) ups
      else ups.unionByName(meta.snapshot().select(col(grpCol))
        .join(grps, Seq(grpCol), "left_anti")
        .withColumn("__op", lit("DELETE")), allowMissingColumns = true)
    () => commitMeta(metaRows, latest, settled)
  }

  /** The meta commit, always a write's last: `rows` (grp, valid_n, __op)
    * with the watermark when given, and — when the write `settled` the
    * state — the state version this meta pairs with. Returns the state
    * version. */
  private def commitMeta(rows: DataFrame, latest: Option[Long],
      settled: Boolean): Long = {
    Merge.run(meta, rows, Seq(grpCol), Merge.upsertDeleteClauses,
      extraTxn = latest.map(app -> _).toMap ++
        Option.when(settled)(stateTxn -> state.latestVersion))
    state.latestVersion
  }
}

object CandidateBuffer {

  /** What a view supplies to one [[CandidateBuffer.refresh]]. */
  trait Delta {
    /** Net source changes since `since`: one row per changed candidate
      * key, its latest image tagged `__op` = UPSERT, or DELETE. It
      * carries the buffer's id column, and its group column when a row
      * belongs to one group. */
    def net(since: Long): DataFrame

    /** The most groups one refresh collects to the driver. */
    def maxGroups: Int

    /** Past [[maxGroups]]: candidate rows of every group, re-derived
      * from the source (or a failure when the view cannot). */
    def all(): DataFrame

    /** Fold groups' candidates from the UPSERT rows of [[net]]. */
    def fold(upserts: DataFrame, groups: Seq[Any]): DataFrame

    /** Derive groups' candidates, read from the source. */
    def derive(groups: Seq[Any]): DataFrame
  }
}
