package graft.catalog

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.llm.{IndexDrift, IndexMethod}
import graft.table.{Merge, VersionedTable}

/** Every index method of [[IndexMethod.all]] through the SQL surface,
  * one test per method (a method added to the table is covered without
  * touching this spec): CREATE on a CDF source; REINDEX of the unchanged
  * source reproduces the built rows and sidecars exactly (training is
  * deterministic on a snapshot); DESCRIBE reports a fresh drift
  * baseline for quantized methods and no drift metric for exact ones;
  * after a source commit that inserts, updates and deletes, REFRESH
  * leaves the index keyed exactly like the source; and for exact
  * derivations a REINDEX then equals the refreshed rows. */
class IndexDdlSpec extends SparkSpec {
  import spark.implicits._

  private def sql(q: String): Seq[Row] = GraftSql.execute(spark, q)

  private def describe(path: String): Map[String, Option[String]] =
    sql(s"DESCRIBE INDEX '$path'")
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def indexRows(path: String): Seq[Row] =
    sorted(IndexDdl.loadIndexTable(spark, path).snapshot())

  /** The frozen quantizer files under an index root: every directory
    * the table layout and the drift log do not own. */
  private def sidecars(root: Path): Map[String, Seq[Row]] = {
    val owned = Set(VersionedTable.COMMITS_DIR, VersionedTable.CHANGES_DIR,
      VersionedTable.STAGING_DIR, VersionedTable.DATA_DIR,
      VersionedTable.DV_DIR, VersionedTable.BLOOM_DIR, IndexDrift.DIR)
    Files.list(root).iterator.asScala.toSeq
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("_") &&
        !owned(p.getFileName.toString))
      .map(p => p.getFileName.toString -> sorted(spark.read.parquet(p.toString)))
      .toMap
  }

  private def roundTrip(m: IndexMethod): Unit = {
    val base = Files.createTempDirectory(s"idx-ddl-${m.name}")
    val vector = m.kind == "VECTOR"
    val key = if (vector) "vec_id" else "doc_id"
    val corpus = (if (vector) Tables.embeddings(spark, sf)
      else Tables.documents(spark, sf))
      .select(col(key), col(m.column)).filter(col(key) < 100)
    val src = VersionedTable.create(spark, s"$base/src", corpus.schema,
      Map(VersionedTable.PROP_CDF -> "true"))
    src.append(corpus.filter(col(key) % 10 =!= 0))
    val path = s"$base/idx"

    assert(sql(s"CREATE ${m.kind} INDEX '$path' ON '${src.root}' " +
      s"(${m.column}) USING ${m.name.toUpperCase}").head.getLong(0) >= 1L)
    val built = indexRows(path)
    val builtSidecars = sidecars(base.resolve("idx"))
    assert(built.nonEmpty)
    assert(vector === builtSidecars.nonEmpty,
      s"quantized methods freeze sidecars, exact ones none: ${builtSidecars.keys}")

    sql(s"REINDEX INDEX '$path'")
    assert(indexRows(path) === built,
      "REINDEX of an unchanged source must reproduce the built rows")
    assert(sidecars(base.resolve("idx")) === builtSidecars,
      "REINDEX of an unchanged source must retrain identical sidecars")

    val d = describe(path)
    assert(d("method") === Some(m.name))
    assert(d("column") === Some(m.column))
    if (vector) {
      assert(d("drift_metric").isDefined)
      assert(d("drift_baseline") === d("drift_latest"),
        "REINDEX starts a baseline epoch: latest IS the baseline")
    } else assert(d("drift_metric") === None, "exact derivations log no drift")

    // one source commit that inserts, updates and deletes, then REFRESH
    val changed =
      if (vector) reverse(col(m.column))
      else concat(col(m.column), lit(" and a changed ending"))
    Merge.run(src, corpus.filter(col(key) % 10 === 0)
        .unionByName(corpus.filter(col(key) % 10 === 1)
          .withColumn(m.column, changed))
        .withColumn("__op", lit("UPSERT"))
        .unionByName(corpus.filter(col(key) % 10 === 2)
          .withColumn("__op", lit("DELETE"))),
      Seq(key), Merge.upsertDeleteClauses)
    sql(s"REFRESH INDEX '$path'")
    val refreshed = indexRows(path)
    val idxKeys = IndexDdl.loadIndexTable(spark, path).snapshot()
      .select(col(key)).distinct().as[Long].collect().sorted.toSeq
    assert(idxKeys === src.snapshot().select(col(key)).as[Long].collect()
      .sorted.toSeq, "REFRESH must leave the index keyed like the source")

    if (!vector) {
      sql(s"REINDEX INDEX '$path'")
      assert(indexRows(path) === refreshed,
        "an exact derivation's REINDEX must equal its refreshed rows")
    }
    VersionedTable.deleteRecursively(base)
  }

  /** The round trips run side by side, each on its own source and
    * index: the commit path is driver-bound, so overlapping them keeps
    * the spec inside its time budget. Each method's test reports its own
    * outcome. */
  private lazy val roundTrips: Map[String, Future[Unit]] =
    IndexMethod.all.map(m => m.name -> Future(roundTrip(m))).toMap

  for (m <- IndexMethod.all) test(s"USING ${m.name.toUpperCase}: CREATE / " +
      "REINDEX / DESCRIBE / REFRESH round-trip through SQL") {
    Await.result(roundTrips(m.name), 10.minutes)
  }

  test("drift log: a refresh orders after rows another process wrote") {
    val base = Files.createTempDirectory("idx-drift-order")
    val src = VersionedTable.create(spark, s"$base/src",
      Tables.embeddings(spark, sf).select($"vec_id", $"embedding").schema,
      Map(VersionedTable.PROP_CDF -> "true"))
    def vec(x: Float) = Array.fill(64)(x)
    src.append(Seq((1L, vec(-1.0f)), (2L, vec(1.0f)))
      .toDF("vec_id", "embedding"))
    val path = s"$base/idx"
    sql(s"CREATE VECTOR INDEX '$path' ON '${src.root}' (embedding) USING SQ8")
    assert(describe(path)("drift_latest") === Some("0.0"))

    // a row as another JVM could have appended it: its seq came from
    // that JVM's clock, which may read far ahead of this one
    Seq((System.nanoTime() + 1000000000000000L, 1L, "clamp_rate", 0.5, 2L,
        false))
      .toDF("seq", "at_version", "metric", "value", "n_rows", "baseline")
      .write.mode("append").parquet(s"$path/${IndexDrift.DIR}")

    // every value of the new batch lies outside the frozen stats
    src.append(Seq((3L, vec(5.0f))).toDF("vec_id", "embedding"))
    sql(s"REFRESH INDEX '$path'")
    val d = describe(path)
    assert(d("drift_latest") === Some("1.0"),
      "the latest refresh batch must be the latest drift row")
    assert(d("drift_baseline") === Some("0.0"))
    VersionedTable.deleteRecursively(base)
  }
}
