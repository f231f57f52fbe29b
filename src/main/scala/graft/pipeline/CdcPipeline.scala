package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table._

/** The medallion CDC pipeline — batch building blocks.
  *
  * Re-expresses the reference pipeline's three stages
  * (/root/reference/notebooks/demo-notebook.py:14-16) over the native
  * [[graft.table.VersionedTable]] layer:
  *
  *   - '''Bronze''': append-only raw CDC log + lineage columns
  *     (`data_hash`/`file_name`/`insert_timestamp`, demo-notebook.py:168-170);
  *   - '''Silver''': current snapshot per `id` maintained by the
  *     3-clause MERGE with intra-batch ROW_NUMBER dedup and the
  *     `data_hash` inter-batch duplicate guard (demo-notebook.py:245-280);
  *   - '''Gold''': `sum(num_visitors) GROUP BY country` maintained
  *     incrementally from Silver's Change Data Feed via signed deltas
  *     (demo-notebook.py:378-425) — never a full recompute.
  *
  * Streaming composition of the same blocks lives in
  * [[graft.streaming.CdcStreams]]. Every transform is plain DataFrame
  * code (zero UDFs, SURVEY §2.9), so Catalyst handles
  * pushdown/pruning/codegen; the only shuffles are the ones the
  * semantics require: W1's window on `id`, the merge join on the key,
  * and the Gold groupBy on `country`.
  */
object CdcPipeline {

  /** JSON timestamp format (demo-notebook.py:164). */
  val TimestampFormat = "yyyy-MM-dd HH:mm:ss[.SSSSSS][XXX]"

  /** Raw CDC record schema — inference hints made explicit
    * (demo-notebook.py:165; vanilla file streams require a schema,
    * SURVEY §7.5 risk 6). */
  val rawSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("country", StringType),
    StructField("district", StringType),
    StructField("visit_timestamp", TimestampType),
    StructField("num_visitors", LongType),
    StructField("cdc_operation", StringType),
    StructField("cdc_timestamp", TimestampType)))

  /** Bronze = raw + lineage (demo-notebook.py:184-194). */
  val bronzeSchema: StructType = StructType(rawSchema.fields ++ Seq(
    StructField("data_hash", StringType),
    StructField("file_name", StringType),
    StructField("insert_timestamp", TimestampType)))

  /** Silver DDL (demo-notebook.py:213-224). */
  val silverSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("country", StringType),
    StructField("district", StringType),
    StructField("visit_timestamp", TimestampType),
    StructField("utc_visit_timestamp", TimestampType),
    StructField("num_visitors", LongType),
    StructField("file_name", StringType),
    StructField("data_hash", StringType),
    StructField("cdc_timestamp", TimestampType),
    StructField("insert_timestamp", TimestampType)))

  /** Gold DDL (demo-notebook.py:351-356). */
  val goldSchema: StructType = StructType(Seq(
    StructField("country", StringType),
    StructField("sum_visitors", LongType)))

  // ------------------------------------------------------------ sources

  /** S1/F8: batch multi-line JSON-array scan with the reference's
    * timestamp format (demo-notebook.py:146, :162-164). */
  def readCdcJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(rawSchema)
      .option("multiLine", "true")
      .option("timestampFormat", TimestampFormat)
      .json(path)

  // ------------------------------------------------------------- bronze

  /** F1: change-detection content hash over the five business fields
    * (demo-notebook.py:168). Null-propagating `concat` — a NULL field
    * yields a NULL hash, so the merge's `data_hash <>` guard never
    * suppresses on partial records (SURVEY §2.7 F1). Explicit "|"
    * separators prevent ("ab","c")/("a","bc") collisions, a hardening
    * over the reference's bare concat. */
  def dataHash(
      id: Column, country: Column, district: Column,
      visitTs: Column, numVisitors: Column): Column =
    md5(concat(
      id.cast("string"), lit("|"), country, lit("|"), district, lit("|"),
      visitTs.cast("string"), lit("|"), numVisitors.cast("string")))

  /** Bronze lineage projection (demo-notebook.py:168-170): F1 hash, F2
    * source-file provenance, F3 ingest audit timestamp. A pure
    * projection — no shuffle (SURVEY §3.2). */
  def withLineage(df: DataFrame): DataFrame = df
    .withColumn("data_hash", dataHash(
      col("id"), col("country"), col("district"),
      col("visit_timestamp"), col("num_visitors")))
    .withColumn("file_name", input_file_name())
    .withColumn("insert_timestamp", current_timestamp())

  // ------------------------------------------------------------- silver

  /** W1: intra-batch dedup — keep the latest CDC event per id
    * (demo-notebook.py:263-267). `data_hash` desc tiebreak makes ties
    * deterministic (the reference leaves them arbitrary; its only tie —
    * a verbatim intra-batch duplicate — is content-identical, where any
    * choice agrees). */
  def dedupLatestPerKey(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cdc_timestamp").desc, col("data_hash").desc)
    df.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") === 1)
      .drop("__rnk")
  }

  /** The merge-source projection (demo-notebook.py:248-259): silver
    * columns + F4 UTC normalization + the `cdc_operation` the clauses
    * dispatch on. */
  def silverSourceProjection(df: DataFrame): DataFrame = df.select(
    col("id"), col("country"), col("district"), col("visit_timestamp"),
    to_utc_timestamp(col("visit_timestamp"), "Europe/Paris")
      .as("utc_visit_timestamp"),
    col("num_visitors"), col("file_name"), col("data_hash"),
    col("cdc_timestamp"), col("insert_timestamp"), col("cdc_operation"))

  /** D3: the Silver three-clause MERGE (demo-notebook.py:269-279).
    * Clause order is semantic: DELETE before the guarded UPDATE.
    *
    * One deliberate deviation: the reference's literal final clause is
    * an UNCONDITIONAL `WHEN NOT MATCHED THEN INSERT *` (:278-279),
    * which would insert an orphan row when a DELETE arrives for an
    * absent key (e.g. a replayed DELETE after the original deletion) —
    * a latent defect its demo data never triggers. We guard the insert
    * with `cdc_operation <> 'DELETE'`: identical behavior on every case
    * the reference exercises (the §5 replay outcomes are unchanged),
    * and batch replays become fully idempotent even for DELETEs —
    * property-tested in CdcPropertySpec. */
  val silverClauses: Seq[MergeClause] = Seq(
    WhenMatchedDelete(Some(col("source.cdc_operation") === "DELETE")),
    WhenMatchedUpdate(Some(col("source.cdc_operation") === "UPDATE" &&
      col("source.data_hash") =!= col("target.data_hash"))),
    WhenNotMatchedInsert(Some(col("source.cdc_operation") =!= "DELETE")))

  /** Buckets per Silver table — sized so one bucket ≈ one comfortable
    * task's worth of rows at target scale; local tests keep it small.
    * Silver is copy-on-write bucketed on the merge key: a CDC
    * micro-batch rewrites only the buckets holding its ids. */
  val SilverBuckets = 16

  def createSilver(spark: SparkSession, path: String): VersionedTable =
    VersionedTable.create(spark, path, silverSchema,
      Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("id"), SilverBuckets)))

  /** One Silver micro/batch step: dedup → project → 3-clause merge. */
  def mergeBatchIntoSilver(
      silver: VersionedTable,
      bronzeBatch: DataFrame,
      txn: Option[(String, Long)] = None): MergeStats =
    Merge.run(silver, silverSourceProjection(dedupLatestPerKey(bronzeBatch)),
      Seq("id"), silverClauses, txn)

  // --------------------------------------------------------------- gold

  /** A2: the signed-delta aggregation over CDF rows
    * (demo-notebook.py:397-416): preimages and deletes retract, inserts
    * and postimages add; SUM is self-maintainable under signed deltas.
    * Partial aggregation (map-side combine) applies — the shuffle
    * carries one row per (country, partition). */
  def goldDeltas(changes: DataFrame): DataFrame = changes
    .select(col("country"),
      when(VersionedTable.RETRACTION, -col("num_visitors"))
        .otherwise(col("num_visitors"))
        .as("delta_visitors"))
    .groupBy(col("country"))
    .agg(sum(col("delta_visitors")).as("delta_visitors"))

  /** D4: the additive-aggregate MERGE (demo-notebook.py:418-424). */
  val goldClauses: Seq[MergeClause] = Seq(
    WhenMatchedUpdate(set = Map(
      "sum_visitors" -> (col("target.sum_visitors") + col("source.delta_visitors")))),
    WhenNotMatchedInsert(values = Map(
      "country" -> col("source.country"),
      "sum_visitors" -> col("source.delta_visitors"))))

  def createGold(spark: SparkSession, path: String): VersionedTable =
    VersionedTable.create(spark, path, goldSchema)

  def mergeDeltasIntoGold(
      gold: VersionedTable,
      deltas: DataFrame,
      txn: Option[(String, Long)] = None,
      extraTxn: Map[String, Long] = Map.empty): MergeStats =
    Merge.run(gold, deltas, Seq("country"), goldClauses, txn, extraTxn = extraTxn)

  // --------------------------------------------------------- validation

  /** The §5 invariant: incremental gold must equal a from-scratch
    * recompute of the current silver snapshot. */
  def recomputedGold(silver: VersionedTable): DataFrame =
    silver.snapshot()
      .groupBy(col("country"))
      .agg(sum(col("num_visitors")).as("sum_visitors"))

  /** J1+S8+F6: the time-travel right-join delta validation
    * (demo-notebook.py:527-538). */
  def goldDeltaValidation(gold: VersionedTable, pastVersion: Long): DataFrame = {
    val past = gold.snapshotAt(pastVersion).alias("past")
    val curr = gold.snapshot().alias("curr")
    past.join(curr, col("curr.country") === col("past.country"), "right_outer")
      .select(
        col("curr.country").as("country"),
        coalesce(col("past.sum_visitors"), lit(0L)).as("prev_sum_visitors"),
        col("curr.sum_visitors").as("curr_sum_visitors"),
        (col("curr.sum_visitors") - coalesce(col("past.sum_visitors"), lit(0L)))
          .as("delta_visitors"))
  }
}
