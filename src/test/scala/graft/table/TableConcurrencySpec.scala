package graft.table

import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Engine-completeness properties of the file-granular commit layer:
  * optimistic multi-writer concurrency (CAS + rebase/retry), O(batch)
  * append write amplification, TIMESTAMP AS OF resolution, additive
  * schema evolution, and a many-commit endurance run (fd/resource
  * shakeout for the `Files.list`/`Files.walk` hygiene). */
class TableConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).resolve("t").toString

  private val clauses = Seq(
    WhenMatchedUpdate(),
    WhenNotMatchedInsert())

  /** Each of `versions` holds exactly one writer's change rows (keys
    * from `writers`, one writer per version), stamped with that version
    * and its manifest's commit time — however the race rebased them. */
  private def assertOneWriterPerVersion(
      t: VersionedTable, versions: Seq[Long], writers: Set[Set[Long]]): Unit = {
    val seen = versions.map { v =>
      val ch = t.changes(v, Some(v))
        .select($"id", $"_commit_version", $"_commit_timestamp")
        .as[(Long, Long, java.sql.Timestamp)].collect()
      assert(ch.map(_._2).toSet === Set(v), s"v$v change rows carry other versions")
      assert(ch.map(_._3.getTime).toSet === Set(t.manifest(v).timestampMs),
        s"v$v change rows carry another commit time")
      val keys = ch.map(_._1).toSet
      assert(writers(keys), s"v$v holds keys $keys, not one writer's")
      keys
    }
    assert(seen.toSet === writers, "every writer's changes must land once")
  }

  test("two concurrent merges on one table: both commits land, no lost update") {
    val path = tmp("cc-merge")
    val t = VersionedTable.create(spark, path, schema,
      Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("id"), 8)))
    Merge.run(t, (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"),
      Seq("id"), clauses)

    // disjoint key ranges, racing writers; contention on the version CAS
    // (and possibly shared buckets) must resolve by rebase or rerun —
    // never by silently dropping one writer's result
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future(Merge.run(t,
        (1L to 10L).map(i => (i, s"A$i")).toDF("id", "v"), Seq("id"), clauses))
      val b = Future(Merge.run(t,
        (21L to 30L).map(i => (i, s"B$i")).toDF("id", "v"), Seq("id"), clauses))
      Await.result(a, 120.seconds)
      Await.result(b, 120.seconds)
    } finally pool.shutdown()

    assert(t.latestVersion === 3L, "both merges must commit a version")
    val m = t.snapshot().as[(Long, String)].collect().toMap
    assert(m.size === 40)
    (1L to 10L).foreach(i => assert(m(i) === s"A$i", s"writer A's update to $i lost"))
    (21L to 30L).foreach(i => assert(m(i) === s"B$i", s"writer B's update to $i lost"))
    (11L to 20L).foreach(i => assert(m(i) === s"v$i"))
    assertOneWriterPerVersion(t, Seq(2L, 3L), Set((1L to 10L).toSet, (21L to 30L).toSet))
  }

  test("racing merges with OVERLAPPING keys serialize to one sequential order") {
    for (seed <- Seq(5L, 123L)) {
      val rng = new scala.util.Random(seed)
      val path = tmp(s"cc-overlap$seed")
      val t = VersionedTable.create(spark, path, schema,
        bucketBy = Some(BucketSpec(Seq("id"), 4)))
      val init = (1L to 30L).map(i => i -> s"t$i").toMap
      Merge.run(t, init.toSeq.map { case (k, v) => (k, v) }.toDF("id", "v"),
        Seq("id"), clauses)
      val a = rng.shuffle((1L to 30L).toList).take(15).map(i => i -> s"A$i").toMap
      val b = rng.shuffle((1L to 30L).toList).take(15).map(i => i -> s"B$i").toMap
      assert(a.keySet.intersect(b.keySet).nonEmpty, "fixture must overlap")

      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fa = Future(Merge.run(t,
          a.toSeq.map { case (k, v) => (k, v) }.toDF("id", "v"), Seq("id"), clauses))
        val fb = Future(Merge.run(t,
          b.toSeq.map { case (k, v) => (k, v) }.toDF("id", "v"), Seq("id"), clauses))
        Await.result(fa, 120.seconds)
        Await.result(fb, 120.seconds)
      } finally pool.shutdown()

      assert(t.latestVersion === 3L, s"seed $seed: both merges must commit")
      val got = t.snapshot().as[(Long, String)].collect().toMap
      val ab = init ++ a ++ b
      val ba = init ++ b ++ a
      assert(got === ab || got === ba,
        s"seed $seed: final state is not a serialization of the two merges")
    }
  }

  test("two concurrent appends on one table: both land via CAS rebase") {
    val path = tmp("cc-append")
    val t = VersionedTable.create(spark, path, schema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future(t.append((1L to 50L).map(i => (i, "a")).toDF("id", "v")))
      val b = Future(t.append((101L to 150L).map(i => (i, "b")).toDF("id", "v")))
      assert(Await.result(a, 120.seconds).isDefined)
      assert(Await.result(b, 120.seconds).isDefined)
    } finally pool.shutdown()
    assert(t.latestVersion === 2L)
    assert(t.snapshot().count() === 100L)
    assertOneWriterPerVersion(t, Seq(1L, 2L), Set((1L to 50L).toSet, (101L to 150L).toSet))
  }

  test("append write-amplification is O(batch): old files are never rewritten") {
    val path = tmp("appamp")
    val t = VersionedTable.create(spark, path, schema)
    t.append((1L to 10000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    val bigFiles = t.latestManifest.dataFiles.map(_.path).toSet

    // ten tiny appends: each commit adds O(1) files and removes none —
    // the big snapshot is inherited by reference every time
    (1 to 10).foreach { i =>
      t.append(Seq((100000L + i, "x")).toDF("id", "v"))
      val m = t.latestManifest
      assert(m.removedFiles.isEmpty, "append must never retire files")
      assert(m.addedFiles.size <= 2,
        s"1-row append wrote ${m.addedFiles.size} files — not O(batch)")
      assert(bigFiles.subsetOf(m.dataFiles.map(_.path).toSet),
        "append must inherit the previous snapshot's files untouched")
    }
    assert(t.snapshot().count() === 10010L)
    // total write amplification across the 10 appends: <= 20 small files,
    // vs 10 full rewrites (>= 40 files) under the old O(table) scheme
    val appended = t.versions.filter(_ >= 2)
      .map(v => t.manifest(v).addedFiles.size).sum
    assert(appended <= 20)
  }

  test("TIMESTAMP AS OF: versionAt resolves the latest commit at or before ts") {
    val path = tmp("tsof")
    val t = VersionedTable.create(spark, path, schema)
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val ts = (0L to 3L).map(v => t.manifest(v).timestampMs)
    // strictly monotonic commit clocks make the mapping unambiguous
    assert(ts === ts.sorted && ts.distinct === ts)
    (0 to 3).foreach(v => assert(t.versionAt(ts(v)) === v.toLong))
    assert(t.versionAt(ts(2) - 1) === 1L)
    assert(t.versionAt(Long.MaxValue) === 3L)
    intercept[IllegalArgumentException] { t.versionAt(ts(0) - 1) }
    assert(t.snapshotAt(t.versionAt(ts(2))).count() === 2L)
  }

  test("schema evolution: additive nullable columns; old versions keep their schema") {
    val path = tmp("evolve")
    val t = VersionedTable.create(spark, path, schema)
    t.append(Seq((1L, "a")).toDF("id", "v"))

    val widened = StructType(schema.fields :+
      StructField("score", DoubleType, nullable = true))
    assert(t.evolveSchema(widened) === Some(2L))
    assert(t.schema === widened)
    // inherited files read the new column as null
    val r = t.snapshot().select("id", "score").as[(Long, Option[Double])].collect()
    assert(r.toSeq === Seq((1L, None)))
    // appends now carry the column
    t.append(Seq((2L, "b", 0.5)).toDF("id", "v", "score"))
    assert(t.snapshot().filter($"id" === 2L).select("score").as[Double].head() === 0.5)
    // time travel to v1 sees the ORIGINAL schema
    assert(t.snapshotAt(1).schema.fieldNames.toSeq === Seq("id", "v"))
    // illegal evolutions are rejected
    intercept[IllegalArgumentException] {
      t.evolveSchema(StructType(Seq(StructField("id", LongType)))) // drops v
    }
    intercept[IllegalArgumentException] {
      t.evolveSchema(StructType(widened.fields.map(f =>
        if (f.name == "v") f.copy(dataType = LongType) else f))) // retypes v
    }
    // no-op evolution commits nothing
    assert(t.evolveSchema(t.schema) === None)
  }

  test("merge mergeSchema=true widens the target with source-only columns") {
    val path = tmp("evolve-merge")
    val t = VersionedTable.create(spark, path, schema)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    val src = Seq((2L, "b2", "extra2"), (3L, "c", "extra3")).toDF("id", "v", "note")
    Merge.run(t, src, Seq("id"), clauses, mergeSchema = true)

    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "note"))
    val m = t.snapshot().select("id", "v", "note")
      .as[(Long, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(m === Seq((1L, "a", None), (2L, "b2", Some("extra2")),
      (3L, "c", Some("extra3"))))
    // without mergeSchema the same source must NOT widen the schema
    val t2 = VersionedTable.create(spark, tmp("evolve-merge2"), schema)
    t2.append(Seq((1L, "a")).toDF("id", "v"))
    Merge.run(t2, src, Seq("id"), clauses)
    assert(t2.schema.fieldNames.toSeq === Seq("id", "v"))
  }

  test("endurance: 200 commits on one table (fd/resource shakeout)") {
    val path = tmp("endure")
    val t = VersionedTable.create(spark, path, schema)
    val rows = Seq((0L, "x")).toDF("id", "v")
    (1 to 200).foreach { i =>
      t.append(rows.withColumn("id", lit(i.toLong)))
    }
    assert(t.latestVersion === 200L)
    assert(t.snapshot().count() === 200L)
    assert(t.snapshot().agg(sum("id")).as[Long].head() === 200L * 201 / 2)
    // vacuum down to a small window and keep going — the table stays
    // healthy after heavy manifest churn
    t.vacuum(retainVersions = 3)
    assert(t.versions.size === 3)
    t.append(Seq((999L, "y")).toDF("id", "v"))
    assert(t.snapshot().count() === 201L)
  }
}
