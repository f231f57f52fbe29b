package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the sf1 BENCH dataset (10× sf0.1) under `benchdata/sf1` by
  * replicating the driver-generated sf0.1 tables with key remapping —
  * the scale point [[Bench]] uses to show the plans hold at 10× local
  * scale (VERDICT r3 next #8). BENCH-ONLY data: correctness runs read
  * exclusively the driver's own parquet (TESTDATA.md); nothing here
  * feeds an oracle row.
  *
  * Replication preserves the distributions that make each benched
  * operator's cost model honest at 10×:
  *   - `lineitem`/`orders` shift their order keys by a shared stride, so
  *     joins keep exactly one match-set per key and the q17/q18 skew
  *     construction (hot key = small modulus of the key) scales its hot
  *     fraction proportionally;
  *   - `events` shifts both `event_id` and `user_id`: 10× users with the
  *     same per-user event history — the realistic CDC scale-up (the
  *     merge key space grows; per-key batch sizes do not);
  *   - `documents` rewrites every token with a replica suffix: each
  *     replica deduplicates against itself exactly like sf0.1 (pair
  *     counts scale ~linearly) instead of every copy near-duplicating
  *     every other copy (a quadratic artifact real corpora do not have);
  *   - `embeddings` keeps the 8 query vectors and replicates the corpus
  *     with shifted ids: same queries, 10× candidates.
  */
object MakeSf1 {
  val Reps = 10
  val DefaultOut = "/root/repo/benchdata/sf1"

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse(DefaultOut)
    val spark = LocalSpark.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, src, out)
    spark.stop()
  }

  def build(spark: SparkSession, src: String, out: String): Unit = {
    Files.createDirectories(Paths.get(out))

    def reps(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(Reps).select(col("id").cast("int").as("__rep")))

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    def write(df: DataFrame, name: String): Unit = {
      // 32 files per table: replication otherwise yields a handful of
      // small-but-dense files and a 32-core scan runs 1-2 tasks (the
      // first sf1 build cost q_doc_fingerprint 15.5× instead of ~linear)
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[make-sf1] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // ---- lineitem + orders: shared order-key stride keeps joins 1:1
    val li = Tables.lineitem(spark, src)
    val ord = Tables.orders(spark, src)
    val okStride = math.max(stride(li, "l_orderkey"), stride(ord, "o_orderkey"))
    write(reps(li)
      .withColumn("l_orderkey", col("l_orderkey") + col("__rep") * okStride)
      .drop("__rep"), "lineitem")
    write(reps(ord)
      .withColumn("o_orderkey", col("o_orderkey") + col("__rep") * okStride)
      .drop("__rep"), "orders")

    // ---- events: both key spaces grow; ts stays a NANOS long on disk
    // (written back as the same epoch-nanos int64 the loader expects)
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evStride = stride(ev, "event_id")
    val userStride = stride(ev, "user_id")
    write(reps(ev)
      .withColumn("event_id", col("event_id") + col("__rep") * evStride)
      .withColumn("user_id", col("user_id") + col("__rep") * userStride)
      .drop("__rep"), "events")

    // ---- documents: replica-suffixed tokens -> disjoint shingle spaces
    val doc = Tables.documents(spark, src)
    val docStride = stride(doc, "doc_id")
    write(reps(doc)
      .withColumn("doc_id", col("doc_id") + col("__rep") * docStride)
      .withColumn("text", when(col("__rep") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit("x"), col("__rep"))), " ")))
      .drop("__rep"), "documents")

    // ---- dimensions: copied as-is — they do not grow with fact
    // volume (the realistic 10× shape: q_join_view's user_ids beyond
    // the original range left-join to null attributes). supplier/part/
    // nation/region ride along so EVERY SparkEntry query runs at sf1
    // (the r7 whole-surface scale smoke), not just the curated subset.
    write(Tables.customer(spark, src), "customer")
    for (t <- Seq("supplier", "part", "nation", "region"))
      write(spark.read.parquet(s"$src/$t.parquet"), t)

    // ---- embeddings: original 8 queries, corpus replicated with
    // shifted ids (replicas land at vec_id >= stride > 8, so the query
    // set never grows)
    val emb = Tables.embeddings(spark, src)
    val embStride = stride(emb, "vec_id")
    write(emb.unionByName(
      reps(emb.filter(col("vec_id") >= 8))
        .filter(col("__rep") >= 1)
        .withColumn("vec_id", col("vec_id") + col("__rep") * embStride)
        .drop("__rep")), "embeddings")
  }
}
