package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table._

/** The reference's catalog SQL surface running natively through the
  * DSv2 catalog: CREATE/DROP TABLE, name resolution, and `VERSION AS
  * OF` time travel (demo-notebook.py:104-110, :533-535). */
class GraftSparkCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = {
    val dir = Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", dir)
    dir
  }

  test("CREATE TABLE / SELECT / VERSION AS OF / DROP through SQL") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db1")
    spark.sql("CREATE TABLE graft.db1.t (id BIGINT, v STRING)")
    assert(VersionedTable.exists(s"$wh/db1/t"))

    // writes go through the transactional engine API
    val t = VersionedTable.load(spark, s"$wh/db1/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v1
    Merge.run(t, Seq((1L, "a2")).toDF("id", "v"), Seq("id"),
      Seq(WhenMatchedUpdate(), WhenNotMatchedInsert())) // v2

    val latest = spark.sql("SELECT id, v FROM graft.db1.t ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(latest === Seq((1L, "a2"), (2L, "b")))

    val v1 = spark.sql("SELECT id, v FROM graft.db1.t VERSION AS OF 1 ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(v1 === Seq((1L, "a"), (2L, "b")))

    // predicate pushdown reaches the parquet scan through the catalog
    val plan = spark.sql("SELECT v FROM graft.db1.t WHERE id = 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"),
      s"catalog reads must keep pushdown:\n$plan")

    assert(spark.sql("SHOW TABLES IN graft.db1").collect().map(_.getString(1))
      .contains("t"))
    spark.sql("DROP TABLE graft.db1.t")
    assert(!VersionedTable.exists(s"$wh/db1/t"))

    // TBLPROPERTIES flow through to the manifest (CDF enablement — the
    // reference's delta.enableChangeDataFeed shape, demo-notebook.py:225)
    spark.sql("CREATE TABLE graft.db1.cdf (id BIGINT) " +
      s"TBLPROPERTIES ('${VersionedTable.PROP_CDF}'='true')")
    assert(VersionedTable.load(spark, s"$wh/db1/cdf").cdfEnabled)

    // INSERT INTO appends through the transactional layer: a commit per
    // insert, CDF rows emitted
    spark.sql("INSERT INTO graft.db1.cdf VALUES (10), (20)")
    spark.sql("INSERT INTO graft.db1.cdf VALUES (30)")
    val cdfT = VersionedTable.load(spark, s"$wh/db1/cdf")
    assert(cdfT.latestVersion === 2L)
    assert(spark.sql("SELECT count(*) FROM graft.db1.cdf").head().getLong(0) === 3L)
    assert(cdfT.changes(1).count() === 3L)
    assert(spark.sql("SELECT count(*) FROM graft.db1.cdf VERSION AS OF 1")
      .head().getLong(0) === 2L)
    spark.sql("DROP TABLE graft.db1.cdf")
  }

  test("TIMESTAMP AS OF and ALTER TABLE ADD COLUMNS through SQL") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db3")
    spark.sql("CREATE TABLE graft.db3.tt (id BIGINT, v STRING)")
    val t = VersionedTable.load(spark, s"$wh/db3/tt")
    t.append(Seq((1L, "a")).toDF("id", "v")) // v1
    t.append(Seq((2L, "b")).toDF("id", "v")) // v2

    def tsLit(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    val v1ts = tsLit(t.manifest(1).timestampMs)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.db3.tt TIMESTAMP AS OF '$v1ts'")
      .head().getLong(0) === 1L)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.db3.tt TIMESTAMP AS OF '${tsLit(t.manifest(2).timestampMs)}'")
      .head().getLong(0) === 2L)

    // additive evolution through SQL; inherited rows read the column as null
    spark.sql("ALTER TABLE graft.db3.tt ADD COLUMNS (score DOUBLE)")
    val rows = spark.sql("SELECT id, score FROM graft.db3.tt ORDER BY id")
      .as[(Long, Option[Double])].collect().toSeq
    assert(rows === Seq((1L, None), (2L, None)))
    spark.sql("INSERT INTO graft.db3.tt VALUES (3, 'c', 0.5)")
    assert(spark.sql("SELECT score FROM graft.db3.tt WHERE id = 3")
      .as[Double].head() === 0.5)
    // non-additive alterations are rejected
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db3.tt DROP COLUMN v")
    }
    // old versions still read with their own schema through VERSION AS OF
    assert(spark.sql("SELECT * FROM graft.db3.tt VERSION AS OF 1").columns.toSeq
      === Seq("id", "v"))
  }

  test("DELETE FROM through SQL rewrites only touched files with CDF") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db4")
    spark.sql("CREATE TABLE graft.db4.d (id BIGINT, v STRING) " +
      s"TBLPROPERTIES ('${VersionedTable.PROP_CDF}'='true')")
    spark.sql("INSERT INTO graft.db4.d VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO graft.db4.d VALUES (4, 'd'), (5, 'e')")

    spark.sql("DELETE FROM graft.db4.d WHERE id <= 2 OR v = 'e'")
    assert(spark.sql("SELECT id FROM graft.db4.d ORDER BY id")
      .as[Long].collect().toSeq === Seq(3L, 4L))

    val t = VersionedTable.load(spark, s"$wh/db4/d")
    assert(t.latestManifest.operation === "delete")
    assert(t.changes(t.latestVersion)
      .filter($"_change_type" === "delete").count() === 3L)
    // unsupported predicate shapes fail cleanly rather than silently
    intercept[Exception] {
      spark.sql("DELETE FROM graft.db4.d WHERE id + 1 = 4")
    }
    assert(spark.sql("SELECT count(*) FROM graft.db4.d").head().getLong(0) === 2L)
    spark.sql("DROP TABLE graft.db4.d")
  }

  test("INSERT OVERWRITE and REPLACE WHERE run the atomic overwrite through SQL") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db5")
    spark.sql("CREATE TABLE graft.db5.r (id BIGINT, v STRING) " +
      s"TBLPROPERTIES ('${VersionedTable.PROP_CDF}'='true')")
    spark.sql("INSERT INTO graft.db5.r VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db5.r VALUES (3, 'c'), (4, 'd')")

    // REPLACE WHERE: swap out exactly the id <= 2 slice
    spark.sql(
      "INSERT INTO graft.db5.r REPLACE WHERE id <= 2 VALUES (1, 'A'), (2, 'B')")
    assert(spark.sql("SELECT id, v FROM graft.db5.r ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "A"), (2L, "B"), (3L, "c"), (4L, "d")))
    val t = VersionedTable.load(spark, s"$wh/db5/r")
    assert(t.latestManifest.operation === "overwrite")
    assert(t.changes(t.latestVersion).groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap ===
      Map("delete" -> 2L, "insert" -> 2L))
    // rows outside the replaced predicate must fail loudly, not leak in
    intercept[Exception] {
      spark.sql("INSERT INTO graft.db5.r REPLACE WHERE id <= 2 VALUES (9, 'x')")
    }

    // INSERT OVERWRITE: truncate-and-load in one commit
    spark.sql("INSERT OVERWRITE graft.db5.r VALUES (7, 'only')")
    assert(spark.sql("SELECT id, v FROM graft.db5.r")
      .as[(Long, String)].collect().toSeq === Seq((7L, "only")))
    spark.sql("DROP TABLE graft.db5.r")
  }

  test("CHECK constraints via SET TBLPROPERTIES gate every write path") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db7")
    spark.sql("CREATE TABLE graft.db7.k (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db7.k VALUES (1, 1.5), (2, 2.5)")
    spark.sql("ALTER TABLE graft.db7.k SET TBLPROPERTIES " +
      s"('${VersionedTable.PROP_CONSTRAINT_PREFIX}v_positive' = 'v > 0')")
    val t = VersionedTable.load(spark, s"$wh/db7/k")
    assert(t.latestManifest.operation === "setproperties")

    // append path: violating batch fails LOUDLY, nothing committed
    val vBefore = t.latestVersion
    val bad = intercept[Exception] {
      spark.sql("INSERT INTO graft.db7.k VALUES (3, -1.0)")
    }
    assert(bad.getMessage.contains("v_positive"), bad.getMessage)
    assert(t.latestVersion === vBefore, "failed write must not commit")
    // conforming writes proceed
    spark.sql("INSERT INTO graft.db7.k VALUES (3, 3.5)")
    assert(spark.sql("SELECT count(*) FROM graft.db7.k").head().getLong(0) === 3L)
    // UPDATE post-image and replaceWhere are gated too
    intercept[Exception] {
      GraftSql.execute(spark, s"UPDATE '$wh/db7/k' SET v = -v WHERE id = 1")
    }
    intercept[Exception] {
      t.overwriteWhere(col("id") === 1L, Seq((1L, -9.0)).toDF("id", "v"))
    }
    assert(spark.sql("SELECT count(*) FROM graft.db7.k WHERE v <= 0")
      .head().getLong(0) === 0L)
    // a NULL constraint evaluation is a violation, not a pass
    intercept[Exception] {
      spark.sql("INSERT INTO graft.db7.k VALUES (4, NULL)")
    }
    spark.sql("DROP TABLE graft.db7.k")
  }

  test("CREATE TABLE AS SELECT materializes through the transactional layer") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db6")
    spark.sql(
      "CREATE TABLE graft.db6.c AS SELECT id, concat('v', id) AS v FROM range(5)")
    assert(spark.sql("SELECT id, v FROM graft.db6.c ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      (0L to 4L).map(i => (i, s"v$i")))
    val t = VersionedTable.load(spark, s"$wh/db6/c")
    assert(t.latestVersion >= 1L, "CTAS = create + committed write")
    spark.sql("DROP TABLE graft.db6.c")
  }

  test("time travel on a bucketed (copy-on-write) table through SQL") {
    val wh = warehouse
    val path = s"$wh/db2/cow"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db2")
    val t = VersionedTable.create(spark, path,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))),
      bucketBy = Some(BucketSpec(Seq("id"), 4)))
    val ins = Seq(WhenMatchedUpdate(), WhenNotMatchedInsert())
    Merge.run(t, (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), ins)
    Merge.run(t, Seq((1L, "patched")).toDF("id", "v"), Seq("id"), ins)

    assert(spark.sql("SELECT v FROM graft.db2.cow WHERE id = 1").as[String].head()
      === "patched")
    assert(spark.sql("SELECT v FROM graft.db2.cow VERSION AS OF 1 WHERE id = 1")
      .as[String].head() === "v1")
    assert(spark.sql("SELECT count(*) FROM graft.db2.cow").head().getLong(0) === 10L)
  }

  test("point lookups on bucketed tables skip files by manifest hash range") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db5")
    val t = VersionedTable.create(spark, s"$wh/db5/skip",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))),
      bucketBy = Some(BucketSpec(Seq("id"), 8)))
    Merge.run(t, (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"),
      Seq(WhenMatchedUpdate(), WhenNotMatchedInsert()))
    val nFiles = t.latestManifest.dataFiles.size
    assert(nFiles >= 7)

    def scannedPaths(sql: String): Int = {
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(df.count() >= 0) // force
      "\\((\\d+) paths\\)".r.findFirstMatchIn(plan).map(_.group(1).toInt)
        .getOrElse(fail(s"no file index in plan:\n$plan"))
    }
    // full scan sees every file; a pinned key prunes to its one file
    assert(scannedPaths("SELECT * FROM graft.db5.skip") === nFiles)
    val pruned = scannedPaths("SELECT v FROM graft.db5.skip WHERE id = 7")
    assert(pruned === 1, s"point lookup must prune to 1 of $nFiles files, got $pruned")
    // correctness unaffected, including a key that exists nowhere
    assert(spark.sql("SELECT v FROM graft.db5.skip WHERE id = 7").as[String].head()
      === "v7")
    assert(spark.sql("SELECT count(*) FROM graft.db5.skip WHERE id = 9999")
      .head().getLong(0) === 0L)
    // range predicates keep (nearly) the full listing here: bucket files
    // hold hash-scattered ids, so every file straddles the range bound
    assert(scannedPaths("SELECT v FROM graft.db5.skip WHERE id > 100") === nFiles)
  }

  test("column-stats data skipping prunes files on any comparison predicate") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db6")
    spark.sql("CREATE TABLE graft.db6.st (id BIGINT, score DOUBLE, tag STRING)")
    // three appends with disjoint id ranges -> per-file footer stats
    // carry disjoint [min,max] intervals
    val t = VersionedTable.load(spark, s"$wh/db6/st")
    Seq((1L, 100L, "alpha"), (101L, 200L, "mid"), (201L, 300L, "zulu")).foreach {
      case (lo, hi, tag) =>
        t.append((lo to hi).map(i => (i, i / 1000.0, tag)).toDF("id", "score", "tag")
          .coalesce(1))
    }
    val m = t.latestManifest
    assert(m.dataFiles.count(_.colMins.contains("id")) === 3)
    assert(m.dataFiles.filter(_.rows.exists(_ > 0))
      .forall(f => f.nullCounts.get("id").contains(0L)))

    def scanned(sql: String): Int = {
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      "\\((\\d+) paths\\)".r.findFirstMatchIn(plan).map(_.group(1).toInt)
        .getOrElse(fail(s"no file index in plan:\n$plan"))
    }
    // numeric range, numeric equality, double compare, string equality
    assert(scanned("SELECT * FROM graft.db6.st WHERE id > 250") === 1)
    assert(scanned("SELECT * FROM graft.db6.st WHERE id = 150") === 1)
    assert(scanned("SELECT * FROM graft.db6.st WHERE id <= 100") === 1)
    assert(scanned("SELECT * FROM graft.db6.st WHERE score < 0.05") === 1)
    assert(scanned("SELECT * FROM graft.db6.st WHERE tag = 'zulu'") === 1)
    assert(scanned("SELECT * FROM graft.db6.st WHERE id BETWEEN 150 AND 180") === 1)
    // nothing matches -> zero files opened, still a correct empty result
    assert(scanned("SELECT * FROM graft.db6.st WHERE id > 999") === 0)
    assert(spark.sql("SELECT count(*) FROM graft.db6.st WHERE id > 999")
      .head().getLong(0) === 0L)
    // IN-lists prune too
    assert(scanned("SELECT * FROM graft.db6.st WHERE id IN (150, 160)") === 1)
    // results are correct on the pruned scans
    assert(spark.sql("SELECT count(*) FROM graft.db6.st WHERE id > 250")
      .head().getLong(0) === 50L)
    assert(spark.sql("SELECT tag FROM graft.db6.st WHERE id = 150").as[String].head()
      === "mid")
    // time-travel reads skip on the historical manifest's stats
    assert(scanned("SELECT * FROM graft.db6.st VERSION AS OF 2 WHERE id = 150") === 1)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db6.st VERSION AS OF 2 WHERE id = 150")
      .head().getLong(0) === 1L)
    spark.sql("DROP TABLE graft.db6.st")
  }

  test("PARTITIONED BY: hive layout, exact manifest stats, directory-level pruning") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db7")
    spark.sql("CREATE TABLE graft.db7.p (id BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (day)")
    val t = VersionedTable.load(spark, s"$wh/db7/p")
    t.append((1L to 300L).map(i => (i, s"d${i % 3}", i / 10.0))
      .toDF("id", "day", "v"))                                       // v1
    t.append((301L to 600L).map(i => (i, s"d${i % 3}", i / 10.0))
      .toDF("id", "day", "v"))                                       // v2

    // hive-style col=value directories under data/
    assert(Files.isDirectory(
      java.nio.file.Paths.get(s"$wh/db7/p/data/day=d1")))
    // each partitioned file carries EXACT stats: min = max = its value
    val parted = t.latestManifest.dataFiles.filter(_.path.contains("day="))
    assert(parted.size === 6) // 3 partitions × 2 appends
    parted.foreach(f =>
      assert(f.colMins.get("day") === f.colMaxs.get("day")
        && f.colMins.contains("day")))

    def scannedPaths(sql: String): Int = {
      val df = spark.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(df.count() >= 0) // force
      "\\((\\d+) paths\\)".r.findFirstMatchIn(plan).map(_.group(1).toInt)
        .getOrElse(fail(s"no file index in plan:\n$plan"))
    }
    // a partition-pinning predicate opens only that partition's files
    assert(scannedPaths("SELECT id FROM graft.db7.p WHERE day = 'd1'") === 2)
    assert(scannedPaths("SELECT id FROM graft.db7.p WHERE day IN ('d0','d2')") === 4)
    assert(spark.sql("SELECT count(*) FROM graft.db7.p WHERE day = 'd1'")
      .head().getLong(0) === 200L)

    // the library path prunes identically (manifest math before IO)
    val api = t.snapshotWhere($"day" === "d1")
    assert(api.inputFiles.length === 2)
    assert(api.count() === 200L)
    // DML scopes to the partition: only d2's files are rewritten
    t.deleteWhere($"day" === "d2")
    val removed = t.latestManifest.removedFiles
    assert(removed.size === 2 && removed.forall(_.contains("day=d2")))
    assert(spark.sql("SELECT count(*) FROM graft.db7.p").head().getLong(0) === 400L)

    // partition-scoped maintenance: OPTIMIZE WHERE compacts ONLY the
    // predicate's partition (d1's two files -> one), d0 untouched
    val before = t.latestManifest.dataFiles.map(_.path).toSet
    graft.catalog.GraftSql.execute(spark,
      s"OPTIMIZE '$wh/db7/p' WHERE day = 'd1' TARGET 1000 ROWS")
    val m2 = t.latestManifest
    assert(m2.removedFiles.forall(_.contains("day=d1")),
      s"scoped OPTIMIZE must not touch other partitions: ${m2.removedFiles}")
    assert(m2.removedFiles.size === 2 && m2.addedFiles.size === 1)
    assert(m2.dataFiles.map(_.path).toSet !== before)
    assert(spark.sql("SELECT count(*) FROM graft.db7.p").head().getLong(0) === 400L)
    assert(spark.sql("SELECT count(*) FROM graft.db7.p WHERE day='d1'")
      .head().getLong(0) === 200L)
  }

  test("merge-on-read DELETE through SQL; reads subtract via the extension rule") {
    val wh = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mordb")
    spark.sql("CREATE TABLE graft.mordb.m (id BIGINT, v STRING) " +
      s"TBLPROPERTIES ('${VersionedTable.PROP_DELETE_MODE}'='mor')")
    val t = VersionedTable.load(spark, s"$wh/mordb/m")
    t.append((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"))
    val pathsBefore = t.latestManifest.dataFiles.map(_.path).toSet

    spark.sql("DELETE FROM graft.mordb.m WHERE id <= 10")
    assert(t.latestManifest.dataFiles.map(_.path).toSet === pathsBefore,
      "SQL DELETE under mor must not rewrite data files")
    assert(t.latestManifest.dataFiles.exists(_.dvs.nonEmpty))

    // a session WITHOUT the extension refuses loudly — never a silent
    // read that resurrects the tombstoned rows
    val e = intercept[Throwable](spark.sql("SELECT * FROM graft.mordb.m").collect())
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(chain.contains("deletion vectors"), s"unexpected failure:\n$chain")

    // a session WITH GraftExtensions serves the DV-subtracting read
    withExtendedSession { s =>
      s.conf.set("spark.sql.catalog.graft", classOf[GraftSparkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      assert(s.sql("SELECT id FROM graft.mordb.m ORDER BY id")
        .collect().map(_.getLong(0)).toSeq === (11L to 40L))
      // filters/aggregates compose through the rewritten plan
      assert(s.sql("SELECT count(*) FROM graft.mordb.m WHERE id <= 10")
        .head().getLong(0) === 0L)
      assert(s.sql("SELECT sum(id) FROM graft.mordb.m").head().getLong(0)
        === (11L to 40L).sum)
      // time travel onto the DV'd version subtracts too
      assert(s.sql("SELECT count(*) FROM graft.mordb.m VERSION AS OF 2")
        .head().getLong(0) === 30L)
    }
  }
}
