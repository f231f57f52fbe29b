package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The changed-key scope of one refresh: a one-column key frame plus,
  * when it holds at most [[VersionedTable.KEY_PRUNE_MAX]] keys, their
  * collected values. */
final class KeyScope private (val keys: DataFrame, val values: Option[Seq[Any]]) {
  val keyCol: String = keys.columns.head

  def isEmpty: Boolean = values.contains(Seq.empty)

  /** `t`'s current rows whose key is in scope: the bounded key set
    * through [[VersionedTable.snapshotForKeys]] (file skipping), a
    * semi-join against the full snapshot past the cap. */
  def read(t: VersionedTable): DataFrame = values match {
    case Some(vs) => t.snapshotForKeys(keyCol, vs)
    case None => t.snapshot().join(keys, Seq(keyCol), "left_semi")
  }
}

object KeyScope {
  /** Collects `keys` (one column, distinct) up to the prune cap. */
  def apply(keys: DataFrame): KeyScope =
    new KeyScope(keys, VersionedTable.boundedKeys(keys, VersionedTable.KEY_PRUNE_MAX))
}

/** The re-derive/retract step of the maintained views and indexes — the
  * reference's Gold MERGE (demo-notebook.py:394-425) generalized to a
  * keyed target whose rows are a pure function of per-key source state:
  * changed keys → key-scoped read → re-derive → retract stale → one
  * three-clause [[Merge]] carrying the watermark. Recomputing from
  * CURRENT state (not replaying deltas) makes a crashed-and-rerun
  * refresh convergent. */
object KeyedRefresh {

  /** The first source version `app` has not consumed: one past the
    * largest `app` watermark any of `tables` carries (0 when none does),
    * or None when that is past `latest` — the refresh has nothing to do. */
  def since(latest: Long, app: String, tables: VersionedTable*): Option[Long] = {
    val next = tables.map(_.lastTxn(app).getOrElse(0L)).max + 1
    if (latest < next) None else Some(next)
  }

  /** Re-derives `target`'s rows for the keys in `changedKeys` (one
    * column, distinct; `target` must have that column) and commits them
    * with `watermark` as the merge txn:
    *
    *   - an empty key set commits a `refresh-noop` carrying the
    *     watermark, so the CDF span is never rescanned;
    *   - otherwise `derive` gets the key scope (to read any table
    *     through [[KeyScope.read]]) and returns the fresh rows in
    *     `target`'s schema; the in-scope rows of `target` the fresh set
    *     no longer holds (anti-join on `stateKeys`) become key-only
    *     DELETEs, and fresh rows UPSERT.
    *
    * Returns `target`'s latest version. */
  def rederive(
      target: VersionedTable,
      stateKeys: Seq[String],
      changedKeys: DataFrame,
      watermark: (String, Long),
      derive: KeyScope => DataFrame): Option[Long] = {
    val scope = KeyScope(changedKeys)
    if (scope.isEmpty) {
      target.commitFiles(Seq.empty, Seq.empty, None, "refresh-noop",
        txn = Some(watermark))
      return Some(target.latestVersion)
    }
    // fresh feeds the merge source AND the stale anti-join's build side
    val fresh = derive(scope).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val keyCols = stateKeys.map(col)
      val stale = scope.read(target).select(keyCols: _*)
        .join(fresh.select(keyCols: _*), stateKeys, "left_anti")
        .withColumn("__op", lit("DELETE"))
      val src = fresh.withColumn("__op", lit("UPSERT"))
        .unionByName(stale, allowMissingColumns = true)
      Merge.run(target, src, stateKeys, Merge.upsertDeleteClauses,
        txn = Some(watermark))
      Some(target.latestVersion)
    } finally fresh.unpersist()
  }
}
