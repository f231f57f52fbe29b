package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, concat, lit, sum}

import graft.SparkSpec
import graft.table._

/** The maintenance-statement parser (VACUUM / OPTIMIZE / RESTORE as
  * SQL) through a session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions`; regular SQL
  * must fall through to Spark's parser untouched. */
class GraftSqlParserSpec extends SparkSpec {

  test("VACUUM / OPTIMIZE / RESTORE statements execute against the engine") {
    withExtendedSession { s =>
      import s.implicits._
      val path = Files.createTempDirectory("sqlparse").resolve("t").toString
      val t = VersionedTable.create(s, path,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType))))
      t.append((1L to 500L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)) // v1
      (1 to 6).foreach(i => t.append(Seq((1000L + i, "s")).toDF("id", "v")))   // v2..v7

      // OPTIMIZE: bin-packs the six 1-row files, inherits the big one
      val ov = s.sql(s"OPTIMIZE '$path' TARGET 100 ROWS").collect()
      assert(ov.map(_.getLong(0)).toSeq === Seq(8L))
      assert(t.latestManifest.addedFiles.size === 1)
      assert(t.snapshot().count() === 506L)

      // RESTORE back to v1
      assert(s.sql(s"RESTORE TABLE '$path' TO VERSION AS OF 1").collect()
        .map(_.getLong(0)).toSeq === Seq(9L))
      assert(t.snapshot().count() === 500L)

      // VACUUM: drop history, keep the restored state readable
      val removed = s.sql(s"VACUUM '$path' RETAIN 2 VERSIONS").collect()
        .map(_.getLong(0)).toSeq
      assert(removed === (0L to 7L))
      assert(t.versions === Seq(8L, 9L))
      assert(t.snapshot().count() === 500L)

      // ordinary SQL still parses through Spark's grammar
      assert(s.sql("SELECT 1 + 1").head().getInt(0) === 2)
      // and the injected function surface rides the same extensions
      assert(s.sql("SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f))")
        .head().getDouble(0) === 1.0)
      VersionedTable.deleteRecursively(java.nio.file.Paths.get(path).getParent)
    }
  }

  test("DESCRIBE HISTORY returns the commit log newest-first") {
    withExtendedSession { s =>
      import s.implicits._
      val path = Files.createTempDirectory("history").resolve("t").toString
      val t = VersionedTable.create(s, path,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
      t.append(Seq(1L, 2L).toDF("id"))          // v1 append
      t.append(Seq(3L).toDF("id"))              // v2 append
      t.deleteWhere($"id" === 1L)               // v3 delete

      val h = s.sql(s"DESCRIBE HISTORY '$path'").collect()
      assert(h.map(_.getLong(0)).toSeq === Seq(3L, 2L, 1L, 0L))
      assert(h.map(_.getString(2)).toSeq ===
        Seq("delete", "append", "append", "create"))
      assert(h.head.getLong(6) === 2L, "latest version holds 2 rows")
      // timestamps strictly increase with version
      val ts = h.map(_.getTimestamp(1).getTime).toSeq.reverse
      assert(ts === ts.sorted && ts.distinct === ts)
      VersionedTable.deleteRecursively(java.nio.file.Paths.get(path).getParent)
    }
  }

  test("DESCRIBE DIFF nets a release span from the change feed: add/change/revert/remove") {
    withExtendedSession { s =>
      import s.implicits._
      val path = Files.createTempDirectory("sqldiff").resolve("t").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))
      val t = VersionedTable.create(s, path, schema,
        Map(VersionedTable.PROP_CDF -> "true"))
      t.append(Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"))
        .toDF("id", "grp", "v"))                       // release A = v1
      val v1 = t.latestVersion
      t.updateWhere($"id" === 1L, Map("v" -> lit("x2")))   // change
      t.updateWhere($"id" === 2L, Map("v" -> lit("y2")))
      t.updateWhere($"id" === 2L, Map("v" -> lit("y")))    // revert
      t.deleteWhere($"id" === 3L)                          // remove
      t.append(Seq((4L, "b", "w")).toDF("id", "grp", "v")) // add

      val got = s.sql(s"DESCRIBE DIFF '$path' KEY id " +
          s"FROM VERSION ${v1 + 1} GROUP BY grp").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got === Map(
        "a" -> ((0L, 0L, 1L, 1L)),
        "b" -> ((1L, 1L, 0L, 0L))))
      // ungrouped: one global row with the same totals
      val all = s.sql(s"DESCRIBE DIFF '$path' KEY id " +
        s"FROM VERSION ${v1 + 1}").collect()
      assert(all.length === 1)
      assert((all.head.getLong(1), all.head.getLong(2),
        all.head.getLong(3), all.head.getLong(4)) === ((1L, 1L, 1L, 1L)))
      VersionedTable.deleteRecursively(java.nio.file.Paths.get(path).getParent)
    }
  }

  test("DESCRIBE DETAIL reports layout, live counts, and properties in one row") {
    withExtendedSession { s =>
      import s.implicits._
      val path = Files.createTempDirectory("detail").resolve("t").toString
      val t = VersionedTable.create(s, path,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("day",
            org.apache.spark.sql.types.StringType))),
        properties = Map(VersionedTable.PROP_DELETE_MODE -> "mor"),
        partitionBy = Some(Seq("day")))
      t.append((1L to 20L).map(i => (i, s"d${i % 2}")).toDF("id", "day")) // v1
      t.deleteWhere($"id" <= 5L)                                          // v2 (mor)

      val d = s.sql(s"DESCRIBE DETAIL '$path'").collect()
      assert(d.length === 1)
      val row = d.head
      assert(row.getString(0).endsWith("/t"))
      assert(row.getLong(2) === 15L, "num_rows must be LIVE (DV-subtracted)")
      assert(row.getLong(3) > 0L)
      assert(row.getString(4) === "day")
      assert(row.getString(5) === "")
      assert(row.getLong(6) === 3L) // v0..v2
      assert(row.getString(7).contains("graft.delete.mode=mor"))
      VersionedTable.deleteRecursively(java.nio.file.Paths.get(path).getParent)
    }
  }

  test("UPDATE statement maps onto touched-file updateWhere with CDF rows") {
    withExtendedSession { s =>
      import s.implicits._
      val path = Files.createTempDirectory("sqlupd").resolve("t").toString
      val t = VersionedTable.create(s, path,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType))),
        Map(VersionedTable.PROP_CDF -> "true"))
      t.append((1L to 100L).map(i => (i, s"v$i", i)).toDF("id", "v", "n"))

      // top-level split hardening: a comma inside a function call and a
      // quoted 'WHERE' inside a SET expression must not confuse parsing
      val out = s.sql(s"UPDATE '$path' " +
        "SET v = concat(v, ',', 'WHERE'), n = n * 10 WHERE id <= 3").collect()
      assert(out.map(_.getLong(0)).toSeq === Seq(2L))
      assert(t.snapshot().filter($"id" <= 3 && $"n" === $"id" * 10 &&
        $"v" === concat(lit("v"), $"id", lit(",WHERE"))).count() === 3L)
      assert(t.snapshot().filter($"id" > 3 && $"n" === $"id").count() === 97L)
      assert(t.changes(2).filter($"_change_type".isin(
        "update_preimage", "update_postimage")).count() === 6L)

      // no WHERE -> every row; no matching file -> no new version
      assert(s.sql(s"UPDATE '$path' SET n = n + 1").collect()
        .map(_.getLong(0)).toSeq === Seq(3L))
      assert(t.snapshot().agg(sum($"n")).head().getLong(0) ===
        (1L to 100L).map(i => if (i <= 3) i * 10 else i).sum + 100L)
      assert(s.sql(s"UPDATE '$path' SET n = 0 WHERE id > 1000").collect()
        .isEmpty)
      assert(t.latestVersion === 3L)

      // the extension-free entry point drives the same command
      assert(GraftSql.execute(s, s"UPDATE '$path' SET n = 0 WHERE id = 1")
        .map(_.getLong(0)) === Seq(4L))
      assert(t.snapshot().filter($"id" === 1).head().getLong(2) === 0L)
      VersionedTable.deleteRecursively(java.nio.file.Paths.get(path).getParent)
    }
  }

  test("index DDL: CREATE / REFRESH / DESCRIBE / REINDEX INDEX round-trip") {
    withExtendedSession { s =>
      import s.implicits._
      val base = Files.createTempDirectory("sqlidx")
      val src = VersionedTable.create(s, base.resolve("docs").toString,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))),
        Map(VersionedTable.PROP_CDF -> "true"))
      src.append((1L to 20L).map(i => (i, s"alpha beta gamma delta token$i end"))
        .toDF("doc_id", "text"))
      val idxPath = base.resolve("idx").toString

      val v0 = s.sql(s"CREATE SIGNATURE INDEX '$idxPath' " +
        s"ON '${src.root}' (text) USING MINHASH").collect()
      assert(v0.head.getLong(0) >= 1L)
      assert(graft.llm.SignatureIndex.load(s, idxPath)
        .table.snapshot().count() === 20L)

      // self-describing: REFRESH INDEX finds the source in the
      // index's own properties and drains new changes
      src.append(Seq((21L, "alpha beta gamma delta extra end"))
        .toDF("doc_id", "text"))
      s.sql(s"REFRESH INDEX '$idxPath'").collect()
      assert(graft.llm.SignatureIndex.load(s, idxPath)
        .table.snapshot().count() === 21L)

      val d = s.sql(s"DESCRIBE INDEX '$idxPath'").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(d("method") === Some("minhash"))
      assert(d("column") === Some("text"))
      assert(d("key") === Some("doc_id"))
      assert(d("source") === Some(src.root.toAbsolutePath.toString))

      // REINDEX: full re-derivation reproduces incremental state
      // (signatures are exact)
      s.sql(s"REINDEX INDEX '$idxPath'").collect()
      assert(graft.llm.SignatureIndex.load(s, idxPath)
        .table.snapshot().count() === 21L)

      // the image-signature method rides the same SIGNATURE DDL verb
      val phPath = base.resolve("phidx").toString
      s.sql(s"CREATE SIGNATURE INDEX '$phPath' " +
        s"ON '${src.root}' (text) USING PHASH").collect()
      assert(graft.llm.ImageHashIndex.load(s, phPath)
        .table.snapshot().count() === 21L)
      src.append(Seq((22L, "alpha beta gamma delta more end"))
        .toDF("doc_id", "text"))
      s.sql(s"REFRESH INDEX '$phPath'").collect()
      val ph = graft.llm.ImageHashIndex.load(s, phPath)
      assert(ph.table.snapshot().count() === 22L)
      val dp = s.sql(s"DESCRIBE INDEX '$phPath'").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(dp("method") === Some("phash"))
      s.sql(s"REINDEX INDEX '$phPath'").collect()
      assert(graft.llm.ImageHashIndex.load(s, phPath)
        .table.snapshot().count() === 22L)
      // boundary errors: kind/method and column mismatches refuse
      val e1 = intercept[Exception] {
        s.sql(s"CREATE VECTOR INDEX '${base.resolve("x1")}' " +
          s"ON '${src.root}' (text) USING MINHASH").collect()
      }
      assert(e1.getMessage.contains("SIGNATURE"), e1.getMessage)
      val e2 = intercept[Exception] {
        s.sql(s"CREATE SIGNATURE INDEX '${base.resolve("x2")}' " +
          s"ON '${src.root}' (body) USING MINHASH").collect()
      }
      assert(e2.getMessage.contains("text"), e2.getMessage)

      // DROP INDEX removes the index + sidecars, and refuses to drop
      // a table that is not an index
      s.sql(s"DROP INDEX '$idxPath'").collect()
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idxPath)))
      val e3 = intercept[Exception] {
        s.sql(s"DROP INDEX '${src.root}'").collect()
      }
      assert(e3.getMessage.contains("not an index"), e3.getMessage)
      assert(src.snapshot().count() === 22L, "the refused drop must not touch data")
      VersionedTable.deleteRecursively(base)
    }
  }

  test("CREATE TOPK VIEW ... / REFRESH MATERIALIZED VIEW round-trip") {
    withExtendedSession { s =>
      import s.implicits._
      val base = Files.createTempDirectory("sqltopk")
      val src = VersionedTable.create(s, base.resolve("docs").toString,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.LongType))),
        Map(VersionedTable.PROP_CDF -> "true"))
      src.append((1L to 30L).map(i =>
          (if (i % 2 == 0) "en" else "fr", i, (i * 37) % 100))
        .toDF("lang", "doc_id", "score"))
      val vPath = base.resolve("v").toString

      val v0 = s.sql(s"CREATE TOPK VIEW '$vPath' ON '${src.root}' " +
        "GROUP BY lang ORDER BY score DESC KEY doc_id LIMIT 3").collect()
      assert(v0.head.getLong(0) >= 1L)
      def topk() = TopKViewOps.load(s, vPath).topk().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
      def expected() = {
        import org.apache.spark.sql.expressions.Window
        src.snapshot().withColumn("rnk",
            org.apache.spark.sql.functions.row_number().over(
              Window.partitionBy(col("lang"))
                .orderBy(col("score").desc, col("doc_id").asc)))
          .filter(col("rnk") <= 3).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(3).toLong)).toSet
      }
      assert(topk() === expected())
      assert(topk().count(_._1 == "en") === 3)

      // self-describing refresh: new leaders arrive, SQL REFRESH drains
      src.append(Seq(("en", 100L, 999L), ("fr", 101L, 998L))
        .toDF("lang", "doc_id", "score"))
      s.sql(s"REFRESH MATERIALIZED VIEW '$vPath'").collect()
      assert(topk() === expected())
      assert(topk().exists(_._2 == 100L))
      VersionedTable.deleteRecursively(base)
    }
  }

  test("index DDL: CREATE TEXT INDEX ... USING BM25 round-trip over the composite root") {
    withExtendedSession { s =>
      import s.implicits._
      val base = Files.createTempDirectory("sqlbm25")
      val src = VersionedTable.create(s, base.resolve("docs").toString,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))),
        Map(VersionedTable.PROP_CDF -> "true"))
      src.append((1L to 20L).map(i => (i, s"alpha beta gamma delta token$i end"))
        .toDF("doc_id", "text"))
      val idxPath = base.resolve("bm25").toString

      assert(s.sql(s"CREATE TEXT INDEX '$idxPath' " +
        s"ON '${src.root}' (text) USING BM25").collect().head.getLong(0) >= 1L)
      val idx0 = graft.llm.Bm25Index.load(s, idxPath)
      // every doc shares 5 common tokens + 1 unique + 'end' -> postings
      assert(idx0.postings.snapshot().count() === 20L * 6L)
      assert(idx0.score(Seq("alpha")).count() === 20L)

      // self-describing REFRESH over the composite root
      src.append(Seq((21L, "alpha beta fresh words end"))
        .toDF("doc_id", "text"))
      s.sql(s"REFRESH INDEX '$idxPath'").collect()
      val idx1 = graft.llm.Bm25Index.load(s, idxPath)
      assert(idx1.corpusStats.table.snapshot()
        .head().getAs[Long]("n_rows") === 21L)
      assert(idx1.score(Seq("alpha")).count() === 21L)

      val d = s.sql(s"DESCRIBE INDEX '$idxPath'").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(d("method") === Some("bm25"))
      assert(d("column") === Some("text"))

      // REINDEX reproduces incremental state (exact derivations)
      s.sql(s"REINDEX INDEX '$idxPath'").collect()
      val idx2 = graft.llm.Bm25Index.load(s, idxPath)
      // docs 1-20 carry 6 distinct tokens, doc 21 carries 5
      assert(idx2.postings.snapshot().count() === 20L * 6L + 5L)
      assert(idx2.termStats.table.snapshot()
        .filter(col("tok") === "alpha").head().getAs[Long]("n_rows") === 21L)

      // kind mismatch refuses
      val e = intercept[Exception] {
        s.sql(s"CREATE VECTOR INDEX '${base.resolve("x3")}' " +
          s"ON '${src.root}' (text) USING BM25").collect()
      }
      assert(e.getMessage.contains("TEXT"), e.getMessage)

      // DROP removes the whole composite root
      s.sql(s"DROP INDEX '$idxPath'").collect()
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idxPath)))
      assert(src.snapshot().count() === 21L)
      VersionedTable.deleteRecursively(base)
    }
  }

  test("ANALYZE TABLE / DESCRIBE STATS: persisted sidecar, approx default, staleness") {
    withExtendedSession { s =>
      import s.implicits._
      val base = Files.createTempDirectory("sqlstats")
      val dir = base.resolve("t").toString
      val t = VersionedTable.create(s, dir,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.StringType))))
      t.append((1L to 1000L).map(i => (i, if (i % 10 == 0) null else s"v${i % 7}"))
        .toDF("k", "v"))

      // never analyzed: DESCRIBE STATS is empty, not an error
      assert(s.sql(s"DESCRIBE STATS '$dir'").collect().isEmpty)

      // default mode is approximate NDV (HLL): close, not necessarily
      // exact, and flagged exact=false
      val approx = s.sql(s"ANALYZE TABLE '$dir'").collect()
        .map(r => r.getString(0) -> r).toMap
      assert(approx.keySet === Set("k", "v"))
      assert(approx("k").getLong(1) === 1000L)             // n_rows
      assert(approx("v").getLong(2) === 100L)              // n_nulls
      assert(math.abs(approx("k").getLong(3) - 1000L) <= 50L,
        "HLL NDV should be within a few percent")
      assert(!approx("k").getBoolean(7), "default mode must record exact=false")

      // EXACT mode: NDV exact, min/max as strings
      val exact = s.sql(s"ANALYZE TABLE '$dir' FOR COLUMNS (k, v) EXACT")
        .collect().map(r => r.getString(0) -> r).toMap
      assert(exact("k").getLong(3) === 1000L)
      assert(exact("v").getLong(3) === 7L)                 // v0..v6
      assert(exact("k").getString(4) === "1")
      assert(exact("k").getString(5) === "1000")
      assert(exact("k").getBoolean(7))

      // staleness: a write after ANALYZE flips stale=true, stats kept
      t.append(Seq((1001L, "fresh")).toDF("k", "v"))
      val described = s.sql(s"DESCRIBE STATS '$dir'").collect()
      assert(described.forall(_.getBoolean(8)), "stats must read as stale")
      assert(described.map(_.getString(0)).toSet === Set("k", "v"))

      // unknown column is a named error
      val e = intercept[Exception] {
        s.sql(s"ANALYZE TABLE '$dir' FOR COLUMNS (nope)").collect()
      }
      assert(e.getMessage.contains("nope"), e.getMessage)
      VersionedTable.deleteRecursively(base)
    }
  }

  test("DESCRIBE SHAPE: risk rows name the scale-killers; clean plans have none") {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "v")
      .createOrReplaceTempView("shape_t")

    // a partition-less window is flagged
    val risky = GraftSql.execute(spark,
      "DESCRIBE SHAPE SELECT id, row_number() OVER (ORDER BY id) AS rn FROM shape_t")
    assert(risky.exists(r => r.getString(0) == "risk" &&
      r.getString(1) == "partition-less window"), risky.mkString("\n"))
    assert(risky.exists(r => r.getString(0) == "window" &&
      r.getString(1) == "partition-less"))

    // a cartesian product is flagged (broadcast disabled so the tiny
    // test table doesn't plan the benign BroadcastNestedLoop instead)
    val bThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val cart =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        GraftSql.execute(spark,
          "DESCRIBE SHAPE SELECT a.id FROM shape_t a CROSS JOIN shape_t b")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bThr)
    assert(cart.exists(r => r.getString(0) == "risk" &&
      r.getString(1) == "cartesian product"), cart.mkString("\n"))

    // a partitioned window + aggregate plan carries NO risk rows and
    // reports its single hash shuffle
    val clean = GraftSql.execute(spark,
      """DESCRIBE SHAPE SELECT v, count(*) AS n,
        |  max(id) AS m FROM shape_t GROUP BY v""".stripMargin)
    assert(!clean.exists(_.getString(0) == "risk"), clean.mkString("\n"))
    assert(clean.exists(r => r.getString(0) == "exchange" &&
      r.getString(1) == "hashpartitioning" && r.getLong(2) == 1L))

    // compile-only: a query over a missing view fails fast with the
    // analyzer's error, not an execution error
    intercept[Exception] {
      GraftSql.execute(spark, "DESCRIBE SHAPE SELECT * FROM no_such_view_xyz")
    }
    // AQE setting is restored afterwards
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("QUALIFY: alias predicate, raw window predicate, trailing clauses") {
    withExtendedSession { s =>
      import s.implicits._
      (1L to 40L).map(i => (i, i % 5, i % 3))
        .toDF("id", "g", "v").createOrReplaceTempView("qual_t")
      val want = s.sql(
        """SELECT id, g FROM (
          |  SELECT id, g, row_number() OVER
          |    (PARTITION BY g ORDER BY id DESC) AS rnk FROM qual_t)
          |WHERE rnk = 1""".stripMargin).orderBy("g")
        .collect().map(_.toSeq).toSeq

      // the reference's literal idiom: alias in the select list
      val alias = s.sql(
        """SELECT id, g, row_number() OVER
          |  (PARTITION BY g ORDER BY id DESC) AS rnk
          |FROM qual_t QUALIFY rnk = 1""".stripMargin)
      assert(alias.columns.toSeq == Seq("id", "g", "rnk"))
      assert(alias.select("id", "g").orderBy("g")
        .collect().map(_.toSeq).toSeq == want)

      // raw window expression in the predicate: spliced hidden column,
      // output columns unchanged (no __qualify leak)
      val raw = s.sql(
        """SELECT id, g FROM qual_t
          |QUALIFY row_number() OVER
          |  (PARTITION BY g ORDER BY id DESC) = 1""".stripMargin)
      assert(raw.columns.toSeq == Seq("id", "g"))
      assert(raw.orderBy("g").collect().map(_.toSeq).toSeq == want)

      // ORDER BY / LIMIT after QUALIFY see the FILTERED rows
      val limited = s.sql(
        """SELECT id, g, row_number() OVER
          |  (PARTITION BY g ORDER BY id DESC) AS rnk
          |FROM qual_t QUALIFY rnk = 1 ORDER BY g DESC LIMIT 2""".stripMargin)
        .collect()
      assert(limited.length == 2)
      assert(limited.map(_.getLong(1)).toSeq == Seq(4L, 3L))

      // predicates beyond rank-filters work (any window alias math)
      val topHalf = s.sql(
        """SELECT id, g, avg(id) OVER (PARTITION BY g) AS ga
          |FROM qual_t QUALIFY id > ga""".stripMargin)
      assert(topHalf.count() == 20)

      // CTE head wraps too
      val cte = s.sql(
        """WITH base AS (SELECT id, g FROM qual_t WHERE id <= 20)
          |SELECT id, g, row_number() OVER
          |  (PARTITION BY g ORDER BY id DESC) AS rnk
          |FROM base QUALIFY rnk = 1""".stripMargin)
      assert(cte.count() == 5)
      assert(cte.agg(org.apache.spark.sql.functions.max("id"))
        .collect().head.getLong(0) == 20L)

      // DISTINCT + raw window is the documented unsupported corner
      val e = intercept[Exception](s.sql(
        """SELECT DISTINCT g FROM qual_t
          |QUALIFY row_number() OVER (ORDER BY g) = 1""".stripMargin))
      assert(e.getMessage.contains("DISTINCT"))

      // a QUALIFY string literal is NOT treated as the keyword
      assert(s.sql("SELECT 'QUALIFY rnk = 1' AS s FROM qual_t LIMIT 1")
        .collect().head.getString(0) == "QUALIFY rnk = 1")
    }
  }

  test("QUALIFY scan masks comments, set ops reject, identifiers fall back") {
    withExtendedSession { s =>
      import s.implicits._
      (1L to 12L).map(i => (i, i % 4)).toDF("id", "g")
        .createOrReplaceTempView("qual_c")

      // ADVICE r12: the word QUALIFY inside `--` and `/* */` comments
      // must NOT trigger the rewrite — these are valid statements and
      // used to become parse errors when the wrap landed in a comment
      assert(s.sql(
        """SELECT id, g FROM qual_c -- no QUALIFY here, just a comment
          |WHERE id <= 6""".stripMargin).count() == 6)
      assert(s.sql(
        """SELECT id, g /* QUALIFY rnk = 1 (commented out) */
          |FROM qual_c WHERE id <= 4""".stripMargin).count() == 4)
      // a comment BEFORE a real QUALIFY does not break the rewrite
      assert(s.sql(
        """SELECT id, g, row_number() OVER
          |  (PARTITION BY g ORDER BY id DESC) AS rnk -- keep leaders
          |FROM qual_c QUALIFY rnk = 1""".stripMargin).count() == 4)

      // ADVICE r12: a top-level set operation cannot host QUALIFY —
      // clear diagnostic instead of a wrong filter / broken arity
      for (op <- Seq("UNION", "UNION ALL", "INTERSECT", "EXCEPT")) {
        val e = intercept[Exception](s.sql(
          s"""SELECT id, g FROM qual_c $op
            |SELECT id, g, row_number() OVER (ORDER BY id) AS rnk
            |FROM qual_c QUALIFY rnk = 1""".stripMargin))
        assert(e.getMessage.contains("query block"),
          s"$op must reject with the last-query-block message: " +
            e.getMessage)
      }
      // ADVICE r13: the guard scans ALL top-level occurrences — a
      // star-except projection FOLLOWED by a genuine set-op EXCEPT
      // must still reject (the first occurrence being star-except
      // used to mask the second from the guard)
      val eMixed = intercept[Exception](s.sql(
        """SELECT * EXCEPT(g) FROM qual_c EXCEPT
          |SELECT id FROM qual_c WHERE id > 6
          |QUALIFY row_number() OVER (ORDER BY id) <= 3""".stripMargin))
      assert(eMixed.getMessage.contains("query block"),
        "star-except THEN set-op EXCEPT must reject: " + eMixed.getMessage)
      // …while a star-except ALONE stays legal with QUALIFY
      assert(s.sql(
        """SELECT * EXCEPT(g), row_number() OVER (ORDER BY id) AS rnk
          |FROM qual_c QUALIFY rnk <= 3""".stripMargin).count() == 3)
      // ADVICE r14: a genuine set op with a PARENTHESIZED right
      // operand — `EXCEPT (SELECT …)` — is not a star-except
      // projection and must reject too (the '(' used to misclassify
      // it and bypass the guard)
      for (rhs <- Seq("(SELECT id, g FROM qual_c WHERE id > 6)",
                      "ALL (SELECT id, g FROM qual_c WHERE id > 6)")) {
        val eParen = intercept[Exception](s.sql(
          s"""SELECT id, g FROM qual_c EXCEPT $rhs
            |QUALIFY row_number() OVER (ORDER BY id) <= 3""".stripMargin))
        assert(eParen.getMessage.contains("query block"),
          s"EXCEPT $rhs must reject: " + eParen.getMessage)
      }

      // …but a set op INSIDE a subquery is fine (parens mask it)
      assert(s.sql(
        """SELECT id, g, row_number() OVER
          |  (PARTITION BY g ORDER BY id DESC) AS rnk
          |FROM (SELECT id, g FROM qual_c WHERE id <= 4
          |      UNION ALL SELECT id, g FROM qual_c WHERE id > 8)
          |QUALIFY rnk = 1""".stripMargin).count() == 4)

      // `qualify` used as a plain identifier (not reserved in vanilla
      // Spark): the rewrite output fails to parse, so the original
      // statement gets the delegate — it must still work
      (1L to 3L).map(i => (i, i * 10)).toDF("id", "qualify")
        .createOrReplaceTempView("qual_ident")
      assert(s.sql("SELECT id, qualify FROM qual_ident").count() == 3)
    }
  }

  test("QUALIFY executes through GraftSql.execute on a PLAIN session") {
    import spark.implicits._
    (1L to 12L).map(i => (i, i % 4)).toDF("id", "g")
      .createOrReplaceTempView("qual_plain")
    val rows = GraftSql.execute(spark,
      """SELECT id, g, row_number() OVER
        |  (PARTITION BY g ORDER BY id DESC) AS rnk
        |FROM qual_plain QUALIFY rnk = 1""".stripMargin)
    assert(rows.length == 4)
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(9L, 10L, 11L, 12L))
  }
}
