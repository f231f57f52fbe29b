package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel

/** One conditional action of a multi-clause MERGE (D3/D4). Conditions
  * reference the two sides as `col("source.x")` / `col("target.x")`,
  * exactly like the SQL form's qualified names.
  */
sealed trait MergeClause {
  def condition: Option[Column]
}
/** `WHEN MATCHED [AND cond] THEN DELETE`. */
final case class WhenMatchedDelete(condition: Option[Column] = None) extends MergeClause
/** `WHEN MATCHED [AND cond] THEN UPDATE SET ...`; empty `set` means
  * `UPDATE SET *` (every target column takes the like-named source
  * column, demo-notebook.py:277). */
final case class WhenMatchedUpdate(
    condition: Option[Column] = None,
    set: Map[String, Column] = Map.empty) extends MergeClause
/** `WHEN NOT MATCHED [AND cond] THEN INSERT ...`; empty `values` means
  * `INSERT *` (demo-notebook.py:279). */
final case class WhenNotMatchedInsert(
    condition: Option[Column] = None,
    values: Map[String, Column] = Map.empty) extends MergeClause

final case class MergeStats(
    version: Option[Long],
    inserted: Long,
    updated: Long,
    deleted: Long)

/** Native multi-clause MERGE INTO over a [[VersionedTable]] — the
  * operator the reference delegates to Delta Lake
  * (/root/reference/notebooks/demo-notebook.py:245-280 Silver upsert,
  * :394-425 Gold additive aggregate), rebuilt as one declarative Spark
  * plan:
  *
  *  1. full-outer equi-join of target and source on the key columns
  *     (J2/J3) — ONE shuffle, key-partitioned, subsumes the
  *     matched/not-matched split;
  *  2. first-match-wins clause dispatch as an ordered `when` chain
  *     (SQL MERGE clause order semantics) producing an action id plus
  *     the clause's result row as a struct — all codegen'd expressions,
  *     no UDFs;
  *  3. ONE labelled write job (`merge:stage <table>`) produces the
  *     commit's files: each join row expands into its new-snapshot row
  *     (a data row, clustered by bucket and sorted by key hash like any
  *     [[VersionedTable]] write) and its CDF rows (insert / delete /
  *     update_preimage / update_postimage, tagged with their change
  *     type), and the write partitions by that tag. Data files move into
  *     `data/` with footer stats; change files wait in `_staging/` until
  *     the commit names them `v<version>-<commitMillis>-…`. Per-clause
  *     row counts and CHECK-constraint violations are observed metrics
  *     of the same job, so nondeterministic inputs (`current_timestamp`
  *     audit columns) are computed exactly once, nothing is re-read, and
  *     the commit's CAS loop only links files.
  *
  * Unmatched target rows pass through untouched; matched rows matching
  * no clause are kept (that is how the `data_hash` guard suppresses
  * inter-batch duplicates: the UPDATE clause's condition fails and no
  * CDF row is emitted, demo-notebook.py:273-277); source rows matching
  * no NOT-MATCHED clause are dropped.
  *
  * == Scale notes ==
  * The join is a plain shuffled hash join Catalyst/AQE plans freely
  * (broadcast when the source batch is small — the common CDC case).
  * The source is persisted for the duration of a merge attempt: its key
  * columns feed both candidate-file selection and the join, and caching
  * guarantees a nondeterministic source cannot route rows to one set of
  * files and join against another. Source must have at most one row per
  * key (callers dedup first, as the reference does with ROW_NUMBER,
  * demo-notebook.py:263-267); set `validateUniqueKeys` to fail fast
  * instead of corrupting the snapshot.
  *
  * For tables created with a [[BucketSpec]], the merge is FILE-LEVEL
  * copy-on-write: per-file key-hash ranges (written clustered, tracked
  * in the manifest) prove which files cannot contain any source key, so
  * the join reads and rewrites ONLY overlapping candidate files and the
  * commit inherits every other file by reference. A small CDC batch
  * against a huge Silver table costs O(batch + overlapping files), not
  * O(table) — the property that holds at 100 TB. The pruning is
  * lossless: key equality implies hash equality, so a file whose range
  * excludes a source hash provably holds no matching row, and
  * NOT-MATCHED decisions made against candidates alone are exact.
  * Unbucketed tables keep the simple full-snapshot rewrite (right for
  * small aggregates like Gold).
  *
  * == Concurrency ==
  * Merges are optimistic: the commit CAS detects a concurrent winner,
  * rebases when file sets are disjoint (the common case for merges over
  * different key ranges — their candidate files and written buckets
  * don't intersect), and otherwise re-runs the whole read-compute-commit
  * cycle against fresh state, up to `maxRetries` times.
  */
object Merge {

  private val KEEP = -1

  /** Session conf bounding the broadcast-merge source size, in bytes of
    * the CACHED source plan (a measured size, not an estimate). Below
    * it the merge joins `target LEFT OUTER broadcast(source)` plus a
    * key-only anti join instead of the full-outer sort-merge — no
    * target row is shuffled. The default sits an order of magnitude
    * above `spark.sql.autoBroadcastJoinThreshold` because a merge
    * source is consumed by exactly two operators and the broadcast
    * replaces a shuffle of the (usually far larger) candidate files;
    * cluster deployments tune it to executor memory headroom. */
  val BROADCAST_SOURCE_MAX_BYTES = "spark.graft.merge.broadcastSourceMaxBytes"
  val DEFAULT_BROADCAST_SOURCE_MAX_BYTES: Long = 64L << 20

  /** Clauses applying a keyed batch tagged `__op` = DELETE | UPSERT:
    * delete wins, upserts rewrite or insert. A DELETE row needs only its
    * key columns. */
  val upsertDeleteClauses: Seq[MergeClause] = Seq(
    WhenMatchedDelete(Some(col("source.__op") === "DELETE")),
    WhenMatchedUpdate(Some(col("source.__op") === "UPSERT")),
    WhenNotMatchedInsert(Some(col("source.__op") =!= "DELETE")))

  def run(
      table: VersionedTable,
      source: DataFrame,
      onKeys: Seq[String],
      clauses: Seq[MergeClause],
      txn: Option[(String, Long)] = None,
      validateUniqueKeys: Boolean = false,
      mergeSchema: Boolean = false,
      extraTxn: Map[String, Long] = Map.empty,
      maxRetries: Int = 5): MergeStats = {
    require(onKeys.nonEmpty, "merge requires at least one key column")
    require(clauses.nonEmpty, "merge requires at least one clause")
    var attempt = 0
    while (true) {
      try {
        return runOnce(table, source, onKeys, clauses, txn,
          validateUniqueKeys, mergeSchema, extraTxn)
      } catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Additive, nullable widening of the target schema with source-only
    * columns (Delta's `mergeSchema` behavior). */
  private def evolvedSchema(
      target: StructType,
      source: StructType) = {
    val extra = source.fields
      .filterNot(f => target.fieldNames.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(target.fields ++ extra)
  }

  /** Whether the candidate files' key projection may be broadcast to the
    * insert anti join: `candRows` (the manifest's live row counts) times
    * the key width must fit `budget`. Only a fixed-width key has a width
    * the schema knows — a string's `defaultSize` is a 20 B guess a long
    * key overruns — so any other key keeps the shuffle. */
  private[table] def keySideFits(
      keyTypes: Seq[DataType], candRows: Option[Long], budget: Long): Boolean =
    keyTypes.forall(UnsafeRow.isFixedLength) && candRows.exists { n =>
      n * math.max(8L, keyTypes.map(_.defaultSize.toLong).sum) <= budget
    }

  private def runOnce(
      table: VersionedTable,
      source: DataFrame,
      onKeys: Seq[String],
      clauses: Seq[MergeClause],
      txn: Option[(String, Long)],
      validateUniqueKeys: Boolean,
      mergeSchema: Boolean,
      extraTxn: Map[String, Long]): MergeStats = {
    val base = table.latestManifest
    // cheap pre-check; commitFiles re-checks under the CAS
    val alreadyApplied = txn.exists { case (appId, batchId) =>
      base.txn.get(appId).exists(_ >= batchId)
    }
    if (alreadyApplied) return MergeStats(None, 0, 0, 0)

    val st = stage(table, base, source, onKeys, clauses, validateUniqueKeys, mergeSchema)
    // a conflict or a raced-in txn retracts this attempt's data files
    val version = table.retractingOnFailure(st.written.added) {
      table.commitFiles(st.written.added, st.removed, st.written.changes, "merge",
        txn, extraTxn,
        newSchemaJson = st.newSchemaJson,
        baseVersion = Some(base.version),
        conflictsWith = Some(st.conflicts))
    }
    MergeStats(version, st.inserted, st.updated, st.deleted)
  }

  /** One merge attempt's files, written and not yet committed. */
  private[table] final case class Staged(
      written: Written,
      removed: Seq[String],
      conflicts: DataFile => Boolean,
      newSchemaJson: Option[String],
      inserted: Long,
      updated: Long,
      deleted: Long)

  /** Plans the merge against `base` and writes its files — everything
    * but the commit. */
  private[table] def stage(
      table: VersionedTable,
      base: CommitManifest,
      source: DataFrame,
      onKeys: Seq[String],
      clauses: Seq[MergeClause],
      validateUniqueKeys: Boolean,
      mergeSchema: Boolean): Staged = {
    val spark = table.spark
    val baseSchema = base.schema
    val targetSchema =
      if (mergeSchema) evolvedSchema(baseSchema, source.schema) else baseSchema
    val targetFields = targetSchema.fields
    val srcCols = source.columns.toSet

    val src = source.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (validateUniqueKeys) {
        val dups = src.groupBy(onKeys.map(col): _*).count()
          .filter(col("count") > 1).limit(1).count()
        require(dups == 0L,
          s"source has multiple rows for a merge key ${onKeys.mkString(",")}")
      }

      // File-level copy-on-write pruning for bucketed tables: candidate
      // files = those whose (bucket, key-hash range) can contain a source
      // key. The check is ONE job: a broadcast left-join of the source's
      // distinct key hashes against the (tiny) manifest file listing —
      // O(batch) scan, never O(table) — whose distinct (bucket, path)
      // output yields both the candidate set and the touched-bucket
      // conflict scope (left join: a touched bucket with no candidate
      // file still conflicts with concurrent adds there). Files without
      // stats (e.g. the create-time empty file) are always candidates.
      val bucketed = table.bucketSpec.map {
        case BucketSpec(bkeys, n) =>
        require(bkeys == onKeys,
          s"merge keys $onKeys must equal the table's bucket keys $bkeys")
        // candidate pruning hashes the SOURCE's key columns and compares
        // against ranges computed from the TARGET's — Murmur3 hashes
        // differ across numeric widths (hash(1: int) != hash(1L)), so a
        // type mismatch would silently corrupt the table by missing
        // files; fail fast instead (callers cast their source first)
        onKeys.foreach { k =>
          val tdt = baseSchema(k).dataType
          val sdt = source.schema(k).dataType
          require(sdt == tdt,
            s"source merge key '$k' has type ${sdt.simpleString} but the " +
              s"bucketed table's key is ${tdt.simpleString} — cast the source")
        }
        val khash = hash(onKeys.map(col): _*)
        // NOT deduped here: a `.distinct()` at this level shuffles the
        // source's whole key set per merge; the downstream
        // `(bucket, path)` projections dedup per task instead, so
        // dropping the exchange loses nothing (guide §2.4)
        val srcKeys = src
          .select(khash.cast("long").as("__h"),
            pmod(khash, lit(n)).cast("int").as("__b"))
        val (statted, statless) = base.dataFiles.partition(f =>
          f.bucket.isDefined && f.minHash.isDefined && f.maxHash.isDefined)
        import spark.implicits._
        // each task dedups its own (bucket, path) pairs and the driver
        // unions them: the result is bounded by tasks × (buckets + files),
        // and no shuffle (one job fewer than a distributed distinct)
        if (statted.isEmpty) {
          val touched = VersionedTable.labeled(spark, "merge:prune") {
            srcKeys.select("__b").as[Int].mapPartitions(_.toSet.iterator)
              .collect()
          }.toSet
          (statless.map(_.path), touched)
        } else {
          val fileDf = statted
            .map(f => (f.path, f.bucket.get, f.minHash.get, f.maxHash.get))
            .toDF("__path", "__fb", "__mn", "__mx")
          val rows = VersionedTable.labeled(spark, "merge:prune") {
            srcKeys.join(broadcast(fileDf),
                col("__b") === col("__fb") &&
                col("__h") >= col("__mn") && col("__h") <= col("__mx"), "left")
              .select(col("__b"), col("__path")).as[(Int, String)]
              .mapPartitions(_.toSet.iterator)
              .collect()
          }.toSet
          val touched = rows.map(_._1)
          val candidates =
            (rows.flatMap(r => Option(r._2)).toSeq ++ statless.map(_.path)).distinct
          (candidates, touched)
        }
      }

      val targetRaw = bucketed match {
        case Some((candidates, _)) =>
          // DV-aware: a candidate file may carry deletion vectors (a
          // MoR delete between merges) — the merge must join against
          // LIVE rows or tombstoned keys would resurrect as updates
          val cset = candidates.toSet
          table.readDataFiles(
            base.dataFiles.filter(f => cset(f.path)), baseSchema)
        case None => table.snapshotAt(base.version)
      }
      // align to the (possibly evolved) schema: new columns read as null
      val targetDf =
        if (targetSchema == baseSchema) targetRaw
        else targetRaw.select(targetFields.toIndexedSeq.map(f =>
          (if (targetRaw.columns.contains(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)): _*)

      // Both sides pack into ONE struct column each ("target"/"source",
      // plus presence flags): clause conditions written as
      // col("target.x") / col("source.x") then resolve as struct-FIELD
      // extraction, which — unlike subquery aliases — survives a UNION,
      // so the two join shapes below produce interchangeable rows.
      val tStructType = StructType(targetFields.map(_.copy(nullable = true)))
      val t = targetDf.select(
        struct(targetFields.toIndexedSeq.map(f => col(f.name)): _*)
          .cast(tStructType).as("target"),
        lit(true).as("__t_present"))
      val s = src.select(
        struct(src.columns.toIndexedSeq.map(col): _*).as("source"),
        lit(true).as("__s_present"))
      val joinCond = onKeys.map(k => col(s"target.$k") === col(s"source.$k"))
        .reduce(_ && _)

      // Join strategy (guide §3.1): a FULL OUTER join can never
      // broadcast — Spark shuffles BOTH sides — yet the common CDC
      // merge joins a large candidate-file read against a small batch.
      // When the cached source's MATERIALIZED size (the prune job above
      // populated the cache, so this is a measurement, not an estimate)
      // fits the broadcast budget, the identical row set is produced
      // without shuffling a single target row:
      //   target LEFT OUTER broadcast(source)    — matched + kept rows
      //   UNION  source LEFT ANTI target-keys    — insert candidates
      // The anti join moves only the narrow key projection of the
      // candidate files (and broadcasts that too when the manifest's
      // per-file row counts prove it small — a driver-side bound, no
      // IO; see keySideFits). Sources past the budget keep the
      // full-outer shuffle: when most of the table is hit, shuffling it
      // is the right plan. Unbucketed (full-rewrite) merges also keep it
      // — they have no prior action to have materialized the cache, so
      // no measured size to decide on, and their targets are small by
      // design.
      val broadcastBytes = spark.conf.getOption(BROADCAST_SOURCE_MAX_BYTES)
        .map(_.toLong).getOrElse(DEFAULT_BROADCAST_SOURCE_MAX_BYTES)
      val srcSmall = bucketed.isDefined &&
        src.queryExecution.optimizedPlan.stats.sizeInBytes <= broadcastBytes
      val joined =
        if (srcSmall) {
          val matchedAndKept = t.join(broadcast(s), joinCond, "left_outer")
          val tKeys = targetDf.select(onKeys.toIndexedSeq.map(col): _*)
          val candRows = bucketed.flatMap { case (candidates, _) =>
            val cset = candidates.toSet
            val entries = base.dataFiles.filter(f => cset(f.path))
            if (entries.forall(_.rows.isDefined))
              Some(entries.map(_.liveRows.getOrElse(0L)).sum)
            else None
          }
          val keysDf =
            if (keySideFits(onKeys.map(k => targetSchema(k).dataType),
                candRows, broadcastBytes)) broadcast(tKeys)
            else tKeys
          val antiCond = onKeys.map(k => col(s"source.$k") === tKeys(k))
            .reduce(_ && _)
          val inserts = s.join(keysDf, antiCond, "left_anti")
            .select(lit(null).cast(tStructType).as("target"),
              lit(null).cast("boolean").as("__t_present"),
              col("source"), col("__s_present"))
          matchedAndKept.unionByName(inserts)
        } else t.join(s, joinCond, "full_outer")

      val tPresent = col("__t_present").isNotNull
      val sPresent = col("__s_present").isNotNull
      val matched = tPresent && sPresent

      // Result row of clause i, as a struct in target-schema order/types.
      def resultStruct(c: MergeClause): Column = {
        val fields = targetFields.map { f =>
          val v = c match {
            case WhenMatchedUpdate(_, set) if set.nonEmpty =>
              set.getOrElse(f.name, col(s"target.${f.name}"))
            case _: WhenMatchedUpdate =>
              if (srcCols(f.name)) col(s"source.${f.name}") else col(s"target.${f.name}")
            case WhenNotMatchedInsert(_, values) if values.nonEmpty =>
              values.getOrElse(f.name, lit(null))
            case _: WhenNotMatchedInsert =>
              if (srcCols(f.name)) col(s"source.${f.name}") else lit(null)
            case _: WhenMatchedDelete => lit(null)
          }
          v.cast(f.dataType).as(f.name)
        }
        struct(fields.toIndexedSeq: _*)
      }

      // First-match-wins action dispatch: an ordered when-chain over the
      // clauses, exactly SQL MERGE's clause-order semantics.
      val indexed = clauses.zipWithIndex
      val action = indexed.foldLeft(Option.empty[Column]) { case (acc, (c, i)) =>
        val applies = c match {
          case _: WhenNotMatchedInsert =>
            !tPresent && sPresent && c.condition.getOrElse(lit(true))
          case _ =>
            matched && c.condition.getOrElse(lit(true))
        }
        Some(acc.fold(when(applies, lit(i)))(_.when(applies, lit(i))))
      }.get.otherwise(when(tPresent, lit(KEEP)))

      val rowType = StructType(targetFields)
      val newRow = indexed
        .filter { case (c, _) => !c.isInstanceOf[WhenMatchedDelete] }
        .foldLeft(Option.empty[Column]) { case (acc, (c, i)) =>
          val st = resultStruct(c)
          val cond = col("__action") === i
          Some(acc.fold(when(cond, st))(_.when(cond, st)))
        }
        .getOrElse(lit(null)).cast(rowType)

      val targetStruct = when(tPresent,
        struct(targetFields.toIndexedSeq.map(f => col(s"target.${f.name}").as(f.name)): _*))

      val deleteIds = indexed.collect { case (_: WhenMatchedDelete, i) => i }
      val updateIds = indexed.collect { case (_: WhenMatchedUpdate, i) => i }
      val insertIds = indexed.collect { case (_: WhenNotMatchedInsert, i) => i }
      def in(ids: Seq[Int]): Column =
        if (ids.isEmpty) lit(false) else col("__action").isin(ids: _*)

      // per-clause-family row counts ride the write as observed metrics
      // — no separate counting job
      val obs = org.apache.spark.sql.Observation()
      val actions = joined
        .withColumn("__action", action)
        .filter(col("__action").isNotNull) // drop source rows no clause inserts
        .select(col("__action"), targetStruct.as("__t"), newRow.as("__new"))
        .observe(obs,
          count(when(in(insertIds), 1)).as("ins"),
          count(when(in(updateIds), 1)).as("upd"),
          count(when(in(deleteIds), 1)).as("del"))
      // each join row: its new-snapshot row unless deleted (CHECK
      // constraints judge the rows this merge INTRODUCES — inserts +
      // update post-images; untouched target rows pass through unjudged,
      // Delta's merge-constraint contract) plus 0..2 CDF rows
      val rows = table.expand(actions, rowType, Seq(
        Alt(!in(deleteIds), coalesce(col("__new"), col("__t")),
          intro = in(insertIds) || in(updateIds)),
        Alt(in(insertIds), col("__new"), Some("insert")),
        Alt(in(deleteIds), col("__t"), Some("delete")),
        Alt(in(updateIds), col("__t"), Some("update_preimage")),
        Alt(in(updateIds), col("__new"), Some("update_postimage"))))
      val written = table.write(rows, s"merge:stage ${table.root.getFileName}")
      val counts = obs.get
      def metric(k: String) = counts.get(k).map(_.asInstanceOf[Long]).getOrElse(0L)

      val removed = bucketed match {
        case Some((candidates, _)) => candidates
        case None => base.dataFiles.map(_.path)
      }
      // conflict scope: for bucketed merges, any concurrently-added file
      // in a bucket we touch (or without bucket info) conflicts; for
      // full-rewrite merges any concurrent commit conflicts
      val conflicts: DataFile => Boolean = bucketed match {
        case Some((_, touched)) =>
          f => f.bucket.map(touched.contains).getOrElse(true)
        case None => _ => true
      }
      Staged(written, removed, conflicts,
        if (targetSchema == baseSchema) None else Some(targetSchema.json),
        metric("ins"), metric("upd"), metric("del"))
    } finally src.unpersist()
  }
}
