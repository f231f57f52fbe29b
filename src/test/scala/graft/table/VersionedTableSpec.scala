package graft.table

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private val kvSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  test("create publishes version 0 with an empty snapshot; load/exists/drop roundtrip") {
    val path = tmpDir("vt-create")
    val t = VersionedTable.create(spark, path, kvSchema, Map("k" -> "x"))
    assert(VersionedTable.exists(path))
    assert(t.latestVersion === 0L)
    assert(t.snapshot().count() === 0L)
    assert(t.schema === kvSchema)
    val t2 = VersionedTable.load(spark, path)
    assert(t2.properties === Map("k" -> "x"))
    intercept[IllegalStateException] {
      VersionedTable.create(spark, path, kvSchema)
    }
    assert(VersionedTable.create(spark, path, kvSchema, ifNotExists = true)
      .latestVersion === 0L)
    VersionedTable.drop(path)
    assert(!VersionedTable.exists(path))
  }

  test("append commits a new version and emits insert CDF rows") {
    val path = tmpDir("vt-append")
    val t = VersionedTable.create(spark, path, kvSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val v = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(v === Some(1L))
    assert(t.snapshot().count() === 2L)
    val ch = t.changes(1)
    assert(ch.count() === 2L)
    assert(ch.select("_change_type").distinct().as[String].collect().toSeq === Seq("insert"))
    assert(ch.select("_commit_version").distinct().as[Long].collect().toSeq === Seq(1L))
    // second append: versions accumulate, changes(from=2) sees only the new rows
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(t.latestVersion === 2L)
    assert(t.snapshot().count() === 3L)
    assert(t.changes(2).count() === 1L)
    assert(t.changes(1).count() === 3L)
    // time travel
    assert(t.snapshotAt(1).count() === 2L)
    assert(t.snapshotAt(0).count() === 0L)
  }

  private val silverClauses = Seq(
    WhenMatchedDelete(Some(col("source.op") === "DELETE")),
    WhenMatchedUpdate(Some(col("source.op") === "UPDATE" &&
      col("source.data_hash") =!= col("target.data_hash"))),
    WhenNotMatchedInsert())

  private val silverSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType),
    StructField("data_hash", StringType)))

  test("multi-clause merge: delete / guarded update / insert with first-match-wins") {
    val path = tmpDir("vt-merge")
    val t = VersionedTable.create(spark, path, silverSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    t.append(Seq((1L, "a", "ha"), (2L, "b", "hb"), (3L, "c", "hc"))
      .toDF("id", "v", "data_hash"))

    val batch = Seq(
      (1L, "a2", "ha2", "UPDATE"),  // real update: hash differs
      (2L, "b", "hb", "UPDATE"),    // inter-batch dup: same hash -> suppressed
      (3L, "x", "hx", "DELETE"),    // delete
      (4L, "d", "hd", "INSERT"))    // new key
      .toDF("id", "v", "data_hash", "op")

    val stats = Merge.run(t, batch, Seq("id"), silverClauses)
    assert(stats.version === Some(2L))
    assert(stats.inserted === 1L && stats.updated === 1L && stats.deleted === 1L)

    val snap = t.snapshot().as[(Long, String, String)].collect().sortBy(_._1)
    assert(snap === Seq((1L, "a2", "ha2"), (2L, "b", "hb"), (4L, "d", "hd")))

    val ch = t.changes(2).select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().sortBy(r => (r._1, r._3))
    assert(ch === Seq(
      (1L, "a2", "update_postimage"),
      (1L, "a", "update_preimage"),
      (3L, "c", "delete"),
      (4L, "d", "insert")))
    // the suppressed duplicate (id 2) emitted NO change row — the CDF
    // no-op-update suppression the Gold layer depends on (SURVEY §7.5)
  }

  test("merge clause order matters: first matching clause wins") {
    val path = tmpDir("vt-order")
    val t = VersionedTable.create(spark, path, kvSchema)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    // Two matched clauses both applicable; first (delete) must win.
    Merge.run(t, Seq((1L, "z")).toDF("id", "v"), Seq("id"),
      Seq(WhenMatchedDelete(), WhenMatchedUpdate(), WhenNotMatchedInsert()))
    assert(t.snapshot().count() === 0L)
  }

  test("merge with txn is idempotent: a replayed batch id is skipped") {
    val path = tmpDir("vt-txn")
    val goldSchema = StructType(Seq(
      StructField("country", StringType),
      StructField("sum_visitors", LongType)))
    val t = VersionedTable.create(spark, path, goldSchema)
    t.append(Seq(("England", 10L)).toDF("country", "sum_visitors"))

    val deltas = Seq(("England", 5L), ("Wales", 7L)).toDF("country", "delta_visitors")
    val goldClauses = Seq(
      WhenMatchedUpdate(set = Map(
        "sum_visitors" -> (col("target.sum_visitors") + col("source.delta_visitors")))),
      WhenNotMatchedInsert(values = Map(
        "country" -> col("source.country"),
        "sum_visitors" -> col("source.delta_visitors"))))

    val s1 = Merge.run(t, deltas, Seq("country"), goldClauses, txn = Some("gold" -> 1L))
    assert(s1.version === Some(2L))
    // retry of the same micro-batch (foreachBatch redelivery): no-op —
    // the additive update would otherwise double-apply (SURVEY §7.5 risk 1)
    val s2 = Merge.run(t, deltas, Seq("country"), goldClauses, txn = Some("gold" -> 1L))
    assert(s2.version === None)

    val rows = t.snapshot().as[(String, Long)].collect().sortBy(_._1)
    assert(rows === Seq(("England", 15L), ("Wales", 7L)))
    assert(t.lastTxn("gold") === Some(1L))
    // a later batch still applies
    val s3 = Merge.run(t, Seq(("Wales", 1L)).toDF("country", "delta_visitors"),
      Seq("country"), goldClauses, txn = Some("gold" -> 2L))
    assert(s3.version === Some(3L))
  }

  test("merge validates unique source keys when asked") {
    val path = tmpDir("vt-dup")
    val t = VersionedTable.create(spark, path, kvSchema)
    val dupBatch = Seq((1L, "a"), (1L, "b")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Merge.run(t, dupBatch, Seq("id"),
        Seq(WhenNotMatchedInsert()), validateUniqueKeys = true)
    }
  }

  test("vacuum drops old versions but keeps the retained window readable") {
    val path = tmpDir("vt-vacuum")
    val t = VersionedTable.create(spark, path, kvSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    assert(t.versions === Seq(0L, 1L, 2L, 3L, 4L))
    val removed = t.vacuum(retainVersions = 2)
    assert(removed === Seq(0L, 1L, 2L))
    assert(t.versions === Seq(3L, 4L))
    assert(t.snapshot().count() === 4L)
    assert(t.snapshotAt(3).count() === 3L)
    intercept[Exception] { t.snapshotAt(1) }
    // vacuumed change files are gone; retained ones remain
    assert(t.changes(0).select("_commit_version").distinct()
      .as[Long].collect().toSet === Set(3L, 4L))
    // commits continue normally after vacuum
    t.append(Seq((9L, "z")).toDF("id", "v"))
    assert(t.latestVersion === 5L)
  }

  test("hidden change files from a crashed commit are healed on the next read") {
    val path = tmpDir("vt-heal")
    val t = VersionedTable.create(spark, path, kvSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // simulate a crash between the manifest CAS win and the unhide step:
    // the committed manifest lists the file, but it is still dot-hidden
    val changesDir = java.nio.file.Paths.get(path)
      .resolve(VersionedTable.CHANGES_DIR)
    val name = t.manifest(1).changeFiles.head
    Files.move(changesDir.resolve(name), changesDir.resolve(s".$name"))

    assert(t.changes(1).count() === 2L, "read must heal + include the rows")
    assert(Files.exists(changesDir.resolve(name)), "file must be unhidden")

    // a hidden file belonging to NO manifest (a crashed loser) is swept
    Files.writeString(changesDir.resolve(".v1-bogus.parquet"), "junk")
    t.append(Seq((3L, "c")).toDF("id", "v")) // next commit heals
    assert(!Files.exists(changesDir.resolve(".v1-bogus.parquet")),
      "orphan attempt remnants must be deleted")
    assert(t.changes(1).count() === 3L)
  }

  private val upsert = Seq(WhenMatchedUpdate(), WhenNotMatchedInsert())

  private def cdfBucketed(path: String): VersionedTable = {
    val t = VersionedTable.create(spark, path, kvSchema,
      Map(VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("id"), 4)))
    Merge.run(t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), upsert)
    t
  }

  test("crash after the merge's write, before its CAS: readers stay on v, vacuum reclaims the orphans") {
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val path = tmpDir("vt-crash-write")
    val root = java.nio.file.Paths.get(path)
    val t = cdfBucketed(path)
    val before = t.snapshot().as[(Long, String)].collect().toSet
    val cdfBefore = t.changes(0).count()

    // the merge writes its data and change files, then the process dies
    // before commitFiles runs
    val staged = Merge.stage(t, t.latestManifest,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), Seq("id"), upsert,
      validateUniqueKeys = false, mergeSchema = false)
    val orphans = staged.written.added.map(f => root.resolve(f.path)) ++
      staged.written.changes.toSeq.flatMap(_.files)
    assert(staged.written.added.nonEmpty && staged.written.changes.nonEmpty)
    assert(orphans.forall(Files.exists(_)))

    val fresh = VersionedTable.load(spark, path)
    assert(fresh.latestVersion === 1L)
    assert(fresh.snapshot().as[(Long, String)].collect().toSet === before)
    assert(fresh.changes(2).isEmpty, "no change rows past v1")
    assert(fresh.changes(0).count() === cdfBefore)

    // a vacuum keeps a writer's unpublished files while the writer may
    // still be in flight...
    fresh.vacuum(retainVersions = 10)
    assert(orphans.forall(Files.exists(_)))
    // ...and reclaims them once they are older than any attempt runs
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - VersionedTable.ORPHAN_RETENTION_MS - 60000L)
    val staging = root.resolve(VersionedTable.STAGING_DIR)
    (staged.written.added.map(f => root.resolve(f.path)) ++
      Using.resource(Files.walk(staging))(_.iterator.asScala.toSeq))
      .foreach(Files.setLastModifiedTime(_, old))
    fresh.vacuum(retainVersions = 10)
    assert(orphans.forall(!Files.exists(_)), "orphaned data and change files must go")
    assert(Using.resource(Files.list(staging))(_.iterator.asScala.isEmpty))
    assert(fresh.snapshot().as[(Long, String)].collect().toSet === before,
      "published files must survive the orphan sweep")
    assert(fresh.manifest(1).dataFiles.forall(f => Files.exists(root.resolve(f.path))))
  }

  test("crash after the merge's CAS, before the unhide: the next read heals with derived stamps") {
    val path = tmpDir("vt-crash-cas")
    val t = cdfBucketed(path)
    Merge.run(t, Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), Seq("id"), upsert)
    val m = t.manifest(2)
    // the state a crash leaves after the manifest landed: its change
    // files still carry their hidden names
    val changesDir = java.nio.file.Paths.get(path).resolve(VersionedTable.CHANGES_DIR)
    assert(m.changeFiles.nonEmpty)
    m.changeFiles.foreach(n => Files.move(changesDir.resolve(n), changesDir.resolve(s".$n")))

    val fresh = VersionedTable.load(spark, path)
    val rows = fresh.changes(2, Some(2L))
      .select("id", "_change_type", "_commit_version", "_commit_timestamp")
      .as[(Long, String, Long, java.sql.Timestamp)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet === Set(
      (2L, "update_preimage"), (2L, "update_postimage"), (3L, "insert")))
    assert(rows.map(_._3).toSet === Set(2L))
    assert(rows.map(_._4.getTime).toSet === Set(m.timestampMs))
    assert(m.changeFiles.forall(n => Files.exists(changesDir.resolve(n))),
      "the read must unhide the published files")
  }

  test("catalog: database and table DDL") {
    val wh = Files.createTempDirectory("vt-cat").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createDatabase("db1")
    cat.createTable("db1", "t1", kvSchema)
    assert(cat.listTables("db1") === Seq("t1"))
    intercept[IllegalStateException] { cat.dropDatabase("db1") }
    cat.dropTable("db1", "t1")
    cat.dropDatabase("db1")
    assert(cat.listTables("db1").isEmpty)
  }
}
