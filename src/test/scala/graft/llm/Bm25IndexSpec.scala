package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.table.VersionedTable

/** Incrementally-maintained BM25 index: maintained scores ≡ the batch
  * formulation recomputed from scratch after inserts, updates (token
  * sets shrinking AND growing), and deletes; the chained stats views
  * track exactly; refreshes are idempotent and bucket-scoped. The
  * end-to-end score correctness against DuckDB is oracle-checked by
  * `q_bm25_index` / `q_bm25_refresh`. */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  private val srcSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The query-path BM25 formulation (TextOps.qBm25) over an arbitrary
    * (doc_id, text) corpus — the from-scratch reference the maintained
    * index must reproduce bit-for-bit. */
  private def batchBm25(corpus: DataFrame, terms: Seq[String]): DataFrame = {
    val dl = corpus.select($"doc_id",
      size(split(lower($"text"), " ")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    val tf = corpus
      .select($"doc_id", explode(split(lower($"text"), " ")).as("tok"))
      .filter($"tok".isin(terms: _*))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df_), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) + lit(1.0)))
      .withColumn("part",
        $"idf" * ($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" * $"n_docs" / $"sum_dl")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_terms"),
        round(sum($"part"), 4).as("score"))
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, hint)

  test("bm25 index: maintained scores equal batch recompute through insert/update/delete churn") {
    val base = Files.createTempDirectory("bm25-idx")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val terms = TextOps.BM25_TERMS

    src.append(docs.filter($"doc_id" % 2 === 0))
    val idx = Bm25Index.build(src, s"$base/idx")
    assertSameRows(idx.score(terms), batchBm25(src.snapshot(), terms),
      "scores after build")

    // insert the other half
    src.append(docs.filter($"doc_id" % 2 === 1))
    assert(idx.refresh(src).isDefined)
    assertSameRows(idx.score(terms), batchBm25(src.snapshot(), terms),
      "scores after insert refresh")

    // idempotence: nothing new -> no postings commit
    val v = idx.postings.latestVersion
    assert(idx.refresh(src).isEmpty)
    assert(idx.postings.latestVersion === v)

    // a source commit with no change rows still advances every index
    // table's watermark, so no later refresh rescans its span
    src.commitFiles(Seq.empty, Seq.empty, None, "metadata-only")
    assert(idx.refresh(src).isDefined)
    assert(idx.postings.lastTxn(Bm25Ops.APP) === Some(src.latestVersion),
      "postings watermark must reach the change-less source version")
    assert(idx.doclens.lastTxn(Bm25Ops.APP) === Some(src.latestVersion),
      "doclens watermark must reach the change-less source version")
    assert(idx.refresh(src).isEmpty)

    // UPDATE shrinking token sets: stale pairs must leave the postings
    src.deleteWhere($"doc_id" % 5 === 0)
    src.append(docs.filter($"doc_id" % 5 === 0).withColumn("text",
      concat_ws(" ", slice(split($"text", " "), 1, 4))))
    assert(idx.refresh(src).isDefined)
    assertSameRows(idx.score(terms), batchBm25(src.snapshot(), terms),
      "scores after shrink refresh")
    val shrunk = idx.postings.snapshot().filter($"doc_id" % 5 === 0)
      .groupBy($"doc_id").agg(sum($"tf").as("n")).filter($"n" > 4).count()
    assert(shrunk === 0L, "truncated docs must keep at most 4 posting tokens")

    // UPDATE growing back + DELETE another slice
    src.deleteWhere($"doc_id" % 5 === 0)
    src.append(docs.filter($"doc_id" % 5 === 0))
    src.deleteWhere($"doc_id" % 11 === 3)
    assert(idx.refresh(src).isDefined)
    assertSameRows(idx.score(terms), batchBm25(src.snapshot(), terms),
      "scores after grow+delete refresh")
    assert(idx.postings.snapshot().filter($"doc_id" % 11 === 3).count() === 0L,
      "deleted docs must leave no postings")

    // chained stats views track exactly
    val expectedDf = idx.postings.snapshot().groupBy($"tok")
      .agg(count(lit(1)).as("n_rows"))
    assertSameRows(
      idx.termStats.table.snapshot().select($"tok", $"n_rows"),
      expectedDf, "term df view equals postings recompute")
    val cs = idx.corpusStats.table.snapshot()
      .select($"n_rows", $"sum_dl").as[(Long, Long)].collect()
    val (nDocs, sumDl) = src.snapshot()
      .select(count(lit(1)),
        sum(size(split(lower($"text"), " ")).cast("long")))
      .as[(Long, Long)].head()
    assert(cs.toSeq === Seq((nDocs, sumDl)),
      s"corpus stats view ${cs.toSeq} != recomputed ($nDocs, $sumDl)")
  }

  test("bm25 index: a small-slice refresh is a bucket-scoped CoW merge") {
    val base = Files.createTempDirectory("bm25-cow")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    src.append(docs)
    val idx = Bm25Index.build(src, s"$base/idx")

    // churn ONE document
    src.deleteWhere($"doc_id" === 0L)
    src.append(docs.filter($"doc_id" === 0L))
    assert(idx.refresh(src).isDefined)
    val m = idx.postings.latestManifest
    assert(m.addedFiles.size <= IncrementalIndex.BUCKETS,
      s"one-doc refresh must stay bucket-bounded, rewrote ${m.addedFiles.size}")
  }
}
