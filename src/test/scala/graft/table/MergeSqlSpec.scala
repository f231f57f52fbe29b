package graft.table

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.pipeline.CdcPipeline

/** Drives the merge engine through literal `MERGE INTO` SQL text — the
  * statement shape of the reference's Silver and Gold merges
  * (/root/reference/notebooks/demo-notebook.py:245-280 and :394-425;
  * QUALIFY rewritten as the ROW_NUMBER subquery per SURVEY §2.5) —
  * replaying the §5 fixture and asserting the documented outcomes. */
class MergeSqlSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): String =
    Paths.get(getClass.getResource(s"/cdc/$name").toURI).toString

  // the Silver statement (demo-notebook.py:245-280), QUALIFY rewritten
  private val silverMergeSql =
    """MERGE INTO silver target
      |USING (
      |  SELECT id, country, district, visit_timestamp,
      |         to_utc_timestamp(visit_timestamp, 'Europe/Paris') AS utc_visit_timestamp,
      |         num_visitors, file_name, data_hash, cdc_timestamp,
      |         insert_timestamp, cdc_operation
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
      |                                     ORDER BY cdc_timestamp DESC) AS rnk
      |        FROM silver_microbatch)
      |  WHERE rnk = 1
      |) source
      |ON source.id = target.id
      |WHEN MATCHED AND source.cdc_operation = 'DELETE'
      |  THEN DELETE
      |WHEN MATCHED AND source.cdc_operation = 'UPDATE'
      |              AND source.data_hash <> target.data_hash
      |  THEN UPDATE SET *
      |WHEN NOT MATCHED
      |  THEN INSERT *""".stripMargin

  // the Gold statement (demo-notebook.py:394-425)
  private val goldMergeSql =
    """MERGE INTO gold target
      |USING (
      |  SELECT country, sum(delta_visitors) AS delta_visitors
      |  FROM (
      |    SELECT country,
      |           CASE WHEN _change_type = 'update_preimage' THEN -1 * num_visitors
      |                WHEN _change_type = 'delete' THEN -1 * num_visitors
      |                ELSE num_visitors END AS delta_visitors
      |    FROM gold_microbatch)
      |  GROUP BY country
      |) AS source
      |ON source.country = target.country
      |WHEN MATCHED
      |  THEN UPDATE SET target.sum_visitors = target.sum_visitors + source.delta_visitors
      |WHEN NOT MATCHED
      |  THEN INSERT (country, sum_visitors) VALUES (source.country, source.delta_visitors)""".stripMargin

  test("the reference's MERGE statements replay the fixture through the SQL front-end") {
    val base = Files.createTempDirectory("merge-sql")
    val silver = CdcPipeline.createSilver(spark, s"$base/silver")
    val gold = CdcPipeline.createGold(spark, s"$base/gold")
    val tables = Map("silver" -> silver, "gold" -> gold)

    def processBatch(file: String): Unit = {
      CdcPipeline.withLineage(CdcPipeline.readCdcJson(spark, fixture(file)))
        .createOrReplaceTempView("silver_microbatch")
      val stats = MergeSql.run(spark, silverMergeSql, tables)
      silver.changes(stats.version.get, stats.version)
        .createOrReplaceTempView("gold_microbatch")
      MergeSql.run(spark, goldMergeSql, tables)
    }

    processBatch("seed.json")
    def goldMap = gold.snapshot().select("country", "sum_visitors")
      .as[(String, Long)].collect().toMap
    assert(goldMap === Map("England" -> 4170L, "Wales" -> 3903L,
      "Northern Ireland" -> 3351L, "Scotland" -> 1934L))

    processBatch("edge.json")
    assert(goldMap === Map("Australia" -> 10000L, "England" -> 14170L,
      "Wales" -> 3903L, "Northern Ireland" -> 3351L, "Scotland" -> 1934L))
    assert(silver.snapshot().count() === 19L)

    VersionedTable.deleteRecursively(base)
  }

  test("unsupported MERGE shapes are rejected with clear errors") {
    val base = Files.createTempDirectory("merge-sql-err")
    val silver = CdcPipeline.createSilver(spark, s"$base/silver")
    val tables = Map("silver" -> silver)
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("src_v")
    intercept[IllegalArgumentException] {
      MergeSql.run(spark,
        "MERGE INTO silver t USING src_v s ON s.id > t.id " +
          "WHEN MATCHED THEN DELETE", tables)
    }
    intercept[IllegalArgumentException] {
      MergeSql.run(spark,
        "MERGE INTO unknown_t t USING src_v s ON s.id = t.id " +
          "WHEN MATCHED THEN DELETE", tables)
    }
    VersionedTable.deleteRecursively(base)
  }

  test("WHEN NOT MATCHED BY SOURCE is rejected before anything commits") {
    val base = Files.createTempDirectory("merge-sql-bysrc")
    val silver = CdcPipeline.createSilver(spark, s"$base/silver")
    val v0 = silver.latestVersion
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("src_bysrc")
    val e = intercept[IllegalArgumentException] {
      MergeSql.run(spark,
        "MERGE INTO silver t USING src_bysrc s ON s.id = t.id " +
          "WHEN MATCHED THEN DELETE " +
          "WHEN NOT MATCHED BY SOURCE THEN DELETE", Map("silver" -> silver))
    }
    assert(e.getMessage.contains("WHEN NOT MATCHED BY SOURCE is not supported"),
      e.getMessage)
    assert(silver.latestVersion === v0, "the rejected MERGE must not commit")
    VersionedTable.deleteRecursively(base)
  }

  test("an unqualified column resolves to the side that has it; on both sides it is ambiguous") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("merge-sql-unq")
    val t = VersionedTable.create(spark, s"$base/t", StructType(Seq(
      StructField("k", LongType), StructField("total", LongType))))
    val tables = Map("t" -> t)
    Seq((1L, 5L), (2L, 7L)).toDF("k", "delta").createOrReplaceTempView("src_unq")
    // `total` is a target column only, `delta` a source column only
    val upsert = "MERGE INTO t USING src_unq s ON s.k = t.k " +
      "WHEN MATCHED THEN UPDATE SET total = total + delta " +
      "WHEN NOT MATCHED THEN INSERT (k, total) VALUES (s.k, delta)"
    MergeSql.run(spark, upsert, tables)
    MergeSql.run(spark, upsert, tables)
    assert(t.snapshot().as[(Long, Long)].collect().toMap === Map(1L -> 10L, 2L -> 14L))

    // `k` is on both sides: unqualified, it names neither
    val e = intercept[IllegalArgumentException] {
      MergeSql.run(spark, "MERGE INTO t USING src_unq s ON s.k = t.k " +
        "WHEN MATCHED AND k > 1 THEN DELETE", tables)
    }
    assert(e.getMessage.contains("ambiguous column 'k'"), e.getMessage)
    assert(t.latestVersion === 2L, "the rejected MERGE must not commit")
    VersionedTable.deleteRecursively(base)
  }
}
