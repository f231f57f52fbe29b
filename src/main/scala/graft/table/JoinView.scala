package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained materialized JOIN view — the natural next
  * step past the reference's Gold table (which maintains an AGGREGATE
  * from one table's change feed; a real reporting layer's views join
  * first: fact enriched by dimensions). The view
  *
  *   `V = SELECT a.*, bCols FROM a [LEFT|INNER] JOIN b ON a.fk = b.bKey`
  *
  * over two CDF-enabled keyed [[VersionedTable]]s is itself a
  * VersionedTable keyed by `aKey`, refreshed by delta-scoped partial
  * recomputation:
  *
  *   1. read both sources' CDF since the view's recorded watermarks —
  *      O(changed rows), never a source scan;
  *   2. affected `aKey` set = keys in ΔA ∪ keys of current A rows whose
  *      `fk` hit a ΔB key — bounded ΔB key sets (≤
  *      [[VersionedTable.KEY_PRUNE_MAX]]) drive
  *      [[VersionedTable.snapshotForKeys]], so the A read opens only
  *      files whose stats / bucket hash ranges / blooms admit one of the
  *      changed fks, never a full fact scan;
  *   3. recompute ONLY the affected block from both CURRENT snapshots —
  *      both sides read through [[VersionedTable.snapshotForKeys]]'s
  *      file skipping keyed on the (bounded) affected key sets;
  *   4. three-clause [[Merge]]: vanished keys delete, survivors
  *      update, new keys insert; source watermarks ride the commit's
  *      `txn` map.
  *
  * Refresh cost is O(changed keys + touched view files) — the
  * maintenance contract that makes a 100 TB view viable (Delta Live
  * Tables / classic delta-join IVM re-expressed on this engine's
  * primitives). Recomputing the affected block from CURRENT state (not
  * replaying deltas) makes a crashed-and-rerun refresh convergent: the
  * same block recomputes to the same rows, and the merge of identical
  * rows is a no-op.
  *
  * Correctness invariant (JoinViewSpec, and the q_join_view oracle):
  * after any refresh, `view ≡ A ⋈ B` recomputed from scratch.
  */
final class JoinView private (
    val table: VersionedTable,
    aKey: String,
    fk: String,
    bKey: String,
    bCols: Seq[String],
    joinType: String) {
  import JoinView._
  import VersionedTable.{boundedKeys, KEY_PRUNE_MAX}

  private def spark: SparkSession = table.spark

  /** The join block for the given A-side rows against the given B-side
    * rows (the full snapshot at build; a key-pruned read at refresh). */
  private def joined(aRows: DataFrame, bRows: DataFrame): DataFrame = {
    val bSide = bRows.select((bKey +: bCols).map(col): _*)
    aRows.join(bSide, aRows(fk) === bSide(bKey), joinType)
      .drop(bSide(bKey))
  }

  /** Refresh against the source tables recorded at build time (the
    * view is self-describing — definition and source paths live in its
    * table properties). */
  def refresh(): Option[Long] = {
    val p = table.latestManifest.properties
    refresh(
      VersionedTable.load(spark, p(PROP_SOURCE_A)),
      VersionedTable.load(spark, p(PROP_SOURCE_B)))
  }

  /** Applies all source changes the view has not seen; returns the view
    * version committed (None when already current). */
  def refresh(a: VersionedTable, b: VersionedTable): Option[Long] = {
    val latestA = a.latestVersion
    val latestB = b.latestVersion
    val sinceA = table.lastTxn(APP_A).getOrElse(0L) + 1
    val sinceB = table.lastTxn(APP_B).getOrElse(0L) + 1
    if (latestA < sinceA && latestB < sinceB) return None
    val wm = Map(APP_A -> latestA, APP_B -> latestB)

    val aKeys =
      if (latestA >= sinceA) a.changes(sinceA).select(col(aKey)).distinct()
      else emptyKeys(spark, a.schema, aKey)
    val bKeys =
      if (latestB >= sinceB) b.changes(sinceB).select(col(bKey)).distinct()
      else emptyKeys(spark, b.schema, bKey)

    // A rows referencing a changed B key (their fk is current state —
    // rows whose fk itself changed are already in ΔA). The ΔB key set
    // is bounded by the dimension-change batch, so up to KEY_PRUNE_MAX
    // keys drive the A read through [[VersionedTable.snapshotForKeys]]'s
    // file skipping (column stats, bucket hash ranges, blooms) instead
    // of a full fact scan — the one-updated-dimension-row refresh
    // touches O(files holding those fks), not O(A). A dimension rewrite
    // beyond the cap falls back to the scan-join (most of A is affected
    // then anyway).
    val viaB = boundedKeys(bKeys, KEY_PRUNE_MAX) match {
      case Some(Seq()) => emptyKeys(spark, a.schema, aKey)
      case Some(vals) => a.snapshotForKeys(fk, vals).select(col(aKey))
      case None =>
        a.snapshot().join(bKeys, col(fk) === col(bKey)).select(col(aKey))
    }
    val affected = aKeys.union(viaB).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the affected-key set also drives the noop check (the CDF span
      // may net out to zero keys) — evaluating it here costs the delta
      // scans only, never the recompute plan (the old `src.isEmpty`
      // evaluated the full join block a second time)
      val affVals = boundedKeys(affected, KEY_PRUNE_MAX)
      if (affVals.contains(Seq.empty)) {
        // nothing to change, still advance the watermarks so the next
        // refresh does not rescan this CDF span
        table.commitFiles(Seq.empty, Seq.empty, None, "refresh-noop",
          extraTxn = wm)
        return Some(table.latestVersion)
      }
      // the affected A block: an IN-list pruned read when the key set
      // is bounded (bucket hash ranges make this O(affected buckets) on
      // a bucketed A), else the full-scan semi-join
      val aBlock = affVals match {
        case Some(vals) => a.snapshotForKeys(aKey, vals)
        case None => a.snapshot().join(affected, Seq(aKey), "left_semi")
      }
      // B side of the recompute: the affected block references a
      // bounded fk set whenever the affected keys are bounded — prune
      // B's read the same way (ΔB alone doesn't cover it: ΔA rows join
      // against UNCHANGED B keys too)
      val aBlockP = aBlock
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val bSide = boundedKeys(aBlockP.select(col(fk)).distinct(), KEY_PRUNE_MAX) match {
          case Some(Seq()) => b.snapshot().limit(0)
          case Some(fks) => b.snapshotForKeys(bKey, fks)
          case None => b.snapshot()
        }
        val recomputed = joined(aBlockP, bSide)
        val ups = recomputed.withColumn("__op", lit("UPSERT"))
        // affected keys with no recomputed row: deleted from A, or
        // (inner join) no longer matching any B row
        val dels = affected
          .join(recomputed.select(col(aKey)), Seq(aKey), "left_anti")
          .withColumn("__op", lit("DELETE"))
        val src = ups.unionByName(dels, allowMissingColumns = true)
        Merge.run(table, src, Seq(aKey), Merge.upsertDeleteClauses, extraTxn = wm)
        Some(table.latestVersion)
      } finally aBlockP.unpersist()
    } finally affected.unpersist()
  }
}

object JoinView {
  val APP_A = "join-view-a"
  val APP_B = "join-view-b"
  /** Buckets on `aKey`: a refresh CoW-rewrites only buckets holding
    * affected keys. */
  val BUCKETS = 8

  /** View-definition properties — the view is self-describing, so
    * `load(path)` / `REFRESH MATERIALIZED VIEW` need no parameters. */
  val PROP_A_KEY = "graft.view.aKey"
  val PROP_FK = "graft.view.fk"
  val PROP_B_KEY = "graft.view.bKey"
  val PROP_B_COLS = "graft.view.bCols"
  val PROP_JOIN_TYPE = "graft.view.joinType"
  val PROP_SOURCE_A = "graft.view.sourceA"
  val PROP_SOURCE_B = "graft.view.sourceB"

  private def emptyKeys(
      spark: SparkSession, schema: StructType, key: String): DataFrame =
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields.filter(_.name == key)))

  /** Creates the view table, computes it fully once, and records the
    * source watermarks. `a` must be keyed by `aKey` (≤1 row per key)
    * and `b` by `bKey`; both need CDF enabled for refresh. */
  def build(
      a: VersionedTable,
      b: VersionedTable,
      path: String,
      aKey: String,
      fk: String,
      bKey: String,
      bCols: Seq[String],
      joinType: String = "left"): JoinView = {
    require(Seq("left", "inner").contains(joinType),
      s"unsupported view join type: $joinType")
    require(bCols.nonEmpty, "select at least one B column into the view")
    val aFields = a.schema.fields.map(_.name).toSet
    require(!bCols.exists(aFields.contains),
      s"B columns ${bCols.filter(aFields.contains)} collide with A's schema")
    val bFieldByName = b.schema.fields.map(f => f.name -> f).toMap
    val viewSchema = StructType(a.schema.fields ++
      bCols.map(c => bFieldByName(c).copy(nullable = true)))
    // CDF on: downstream consumers (gold aggregates, further views)
    // chain off the view's own change feed, and the touch-set specs
    // observe exactly which keys a refresh rewrote. The definition +
    // source paths ride as properties (self-describing view).
    val t = VersionedTable.create(a.spark, path, viewSchema,
      Map(
        VersionedTable.PROP_CDF -> "true",
        PROP_A_KEY -> aKey, PROP_FK -> fk, PROP_B_KEY -> bKey,
        PROP_B_COLS -> bCols.mkString(","), PROP_JOIN_TYPE -> joinType,
        PROP_SOURCE_A -> a.root.toAbsolutePath.toString,
        PROP_SOURCE_B -> b.root.toAbsolutePath.toString),
      bucketBy = Some(BucketSpec(Seq(aKey), BUCKETS)))
    val v = new JoinView(t, aKey, fk, bKey, bCols, joinType)
    val full = v.joined(a.snapshot(), b.snapshot())
      .withColumn("__op", lit("UPSERT"))
    Merge.run(t, full, Seq(aKey), Merge.upsertDeleteClauses,
      extraTxn = Map(APP_A -> a.latestVersion, APP_B -> b.latestVersion))
    v
  }

  /** Loads a view from its own recorded definition. */
  def load(spark: SparkSession, path: String): JoinView = {
    val t = VersionedTable.load(spark, path)
    val p = t.latestManifest.properties
    require(p.contains(PROP_A_KEY),
      s"$path is not a materialized join view (no ${PROP_A_KEY} property)")
    new JoinView(t, p(PROP_A_KEY), p(PROP_FK), p(PROP_B_KEY),
      p(PROP_B_COLS).split(',').toSeq.filter(_.nonEmpty), p(PROP_JOIN_TYPE))
  }
}
