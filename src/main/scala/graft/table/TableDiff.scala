package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Net-effect RELEASE DIFF over a CDF span of any engine table — the
  * general form of the corpus release audit
  * (`graft.llm.CorpusQuality.qReleaseDiff`): per group (or one global
  * row), how many keys the span net-ADDED, net-REMOVED, net-CHANGED,
  * and net-REVERTED (edited then edited back). Computed from the
  * change feed ALONE — no snapshot read, so the cost is O(Δ)
  * regardless of table size.
  *
  * Per-key classification from one aggregation: the FIRST change row
  * in the span (commit order, preimage-before-postimage within a
  * commit) says whether the key existed before the span and carries
  * its pre-span content hash; the LAST row says whether it exists
  * after and carries the post-span hash. Keys inserted AND deleted
  * inside the span net to nothing and are excluded. Content hash =
  * md5 of the JSON of all data columns except the key, the group
  * column, and the CDF metadata — schema-ordered, so it is stable
  * for a fixed table schema.
  */
object TableDiff {
  private val metaCols = Set("_change_type", "_commit_version",
    "_commit_timestamp")

  /** @param changes  a raw CDF frame (`VersionedTable.changes(from)`)
    * @param keyCol   the table's logical key column
    * @param groupCol optional column to break the counts out by; its
    *                 value rides the first/last rows (keys that change
    *                 groups mid-span report under their final group)
    *
    * Classification is by NET CONTENT: a key whose first and last
    * images hash equal counts as "reverted" even when the span's only
    * updates were value-identical rewrites (a touched-but-unchanged
    * row IS an edit later undone as far as the published content is
    * concerned). The content hash is `md5(to_json(struct(...)))`,
    * which omits null fields — stable for a fixed schema, but two
    * rows differing only in which fields are null can collide; keys
    * carrying nullable payloads should diff on an explicit content
    * column instead (ADVICE r9). */
  def fromChanges(changes: DataFrame, keyCol: String,
      groupCol: Option[String]): DataFrame = {
    val hashCols = changes.schema.fieldNames.toSeq
      .filterNot(metaCols).filterNot(_ == keyCol)
      .filterNot(c => groupCol.contains(c))
    val grp = groupCol.map(col).getOrElse(lit("all"))
    val ch = changes.select(col(keyCol).as("k"), grp.as("g"),
      md5(to_json(struct(hashCols.map(col): _*))).as("h"),
      VersionedTable.RETRACTION.as("r"),
      (col("_commit_version") * 2 + when(VersionedTable.RETRACTION, 0)
        .otherwise(1)).as("ord"))
    val net = ch.groupBy(col("k")).agg(
      min_by(struct(col("r"), col("h"), col("g")), col("ord")).as("fst"),
      max_by(struct(col("r"), col("h"), col("g")), col("ord")).as("lst"))
    // the first row retracts an image: the key existed before the span;
    // the last asserts one: it exists after
    val before = col("fst.r")
    val after = !col("lst.r")
    net
      .withColumn("cls",
        when(!before && after, "added")
          .when(before && !after, "removed")
          .when(before && after && col("fst.h") =!= col("lst.h"), "changed")
          .when(before && after, "reverted")
          .otherwise("ephemeral"))
      .filter(col("cls") =!= "ephemeral")
      .groupBy(when(after, col("lst.g")).otherwise(col("fst.g"))
        .as("group_key"))
      .agg(
        sum(when(col("cls") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("cls") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("cls") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("cls") === "reverted", 1L).otherwise(0L)).as("n_reverted"))
  }
}
