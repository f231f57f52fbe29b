package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.table.VersionedTable

/** Incrementally-maintained chunk-BM25 index: maintained retrieval ≡
  * the batch `q_chunk_bm25` formulation recomputed from scratch after
  * inserts, updates (chunk COUNTS shrinking and regrowing — the hazard
  * the doc-level index does not have), and deletes; context expansion
  * matches the batch composition; the chained stats views track
  * exactly; small refreshes stay bucket-scoped. End-to-end score
  * correctness against DuckDB is oracle-checked by `q_chunk_index` /
  * `q_chunk_refresh` / `q_context_refresh`. */
class ChunkBm25IndexSpec extends SparkSpec {
  import spark.implicits._
  import TextOps.{CHUNK, STRIDE, CHUNK_K}

  private val srcSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The batch q_chunk_bm25 formulation over an arbitrary corpus — the
    * from-scratch reference the maintained index must reproduce. */
  private def batchChunkBm25(corpus: DataFrame, terms: Seq[String]): DataFrame = {
    val chunks = corpus
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(sequence(lit(0), size($"toks") - 1, lit(STRIDE))).as("start"))
      .select($"doc_id",
        $"start".cast("long").as("chunk_start"),
        least(size($"toks") - $"start", lit(CHUNK)).cast("long").as("dl"),
        concat_ws(" ", slice($"toks", $"start" + 1, lit(CHUNK)))
          .as("chunk_text"))
    val dl = chunks.select($"doc_id", $"chunk_start", $"dl")
    val stats = dl.agg(count(lit(1)).as("n_chunks"), sum($"dl").as("sum_dl"))
    val tf = chunks
      .select($"doc_id", $"chunk_start",
        explode(split(lower($"chunk_text"), " ")).as("tok"))
      .filter($"tok".isin(terms: _*))
      .groupBy($"doc_id", $"chunk_start", $"tok").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df_), "tok")
      .join(dl, Seq("doc_id", "chunk_start"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(($"n_chunks" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) + lit(1.0)))
      .withColumn("part",
        $"idf" * ($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) +
            lit(0.75) * $"dl" * $"n_chunks" / $"sum_dl")))
      .groupBy($"doc_id", $"chunk_start")
      .agg(count(lit(1)).cast("long").as("n_terms"),
        round(sum($"part"), 4).as("score"))
    graft.operators.RankOps.topK(scored, CHUNK_K,
        Seq(("score", false), ("doc_id", true), ("chunk_start", true)),
        rankName = "rnk")
      .select($"rnk", $"doc_id", $"chunk_start", $"n_terms", $"score")
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, hint)

  test("chunk index: maintained retrieval equals batch recompute through churn") {
    val base = Files.createTempDirectory("chunk-idx")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val terms = TextOps.BM25_TERMS

    src.append(docs.filter($"doc_id" % 2 === 0))
    val idx = ChunkBm25Index.build(src, s"$base/idx")
    assertSameRows(idx.score(terms), batchChunkBm25(src.snapshot(), terms),
      "hits after build")

    src.append(docs.filter($"doc_id" % 2 === 1))
    assert(idx.refresh(src).isDefined)
    assertSameRows(idx.score(terms), batchChunkBm25(src.snapshot(), terms),
      "hits after insert refresh")

    // idempotence: nothing new -> no postings commit
    val v = idx.postings.latestVersion
    assert(idx.refresh(src).isEmpty)
    assert(idx.postings.latestVersion === v)

    // a source commit with no change rows still advances every index
    // table's watermark, so no later refresh rescans its span
    src.commitFiles(Seq.empty, Seq.empty, None, "metadata-only")
    assert(idx.refresh(src).isDefined)
    assert(idx.postings.lastTxn(ChunkBm25Index.APP) === Some(src.latestVersion),
      "postings watermark must reach the change-less source version")
    assert(idx.chunklens.lastTxn(ChunkBm25Index.APP) === Some(src.latestVersion),
      "chunklens watermark must reach the change-less source version")
    assert(idx.refresh(src).isEmpty)

    // UPDATE shrinking docs to 5 tokens: chunk COUNTS collapse to one
    // chunk per doc — trailing chunk rows must leave BOTH index tables
    src.deleteWhere($"doc_id" % 5 === 0)
    src.append(docs.filter($"doc_id" % 5 === 0).withColumn("text",
      concat_ws(" ", slice(split($"text", " "), 1, 5))))
    assert(idx.refresh(src).isDefined)
    assertSameRows(idx.score(terms), batchChunkBm25(src.snapshot(), terms),
      "hits after shrink refresh")
    assert(idx.chunklens.snapshot().filter($"doc_id" % 5 === 0)
      .filter($"chunk_start" > 0).count() === 0L,
      "shrunk docs must keep only their chunk_start=0 length row")
    assert(idx.postings.snapshot().filter($"doc_id" % 5 === 0)
      .filter($"chunk_start" > 0).count() === 0L,
      "shrunk docs must keep no trailing-chunk postings")

    // grow back + delete another slice
    src.deleteWhere($"doc_id" % 5 === 0)
    src.append(docs.filter($"doc_id" % 5 === 0))
    src.deleteWhere($"doc_id" % 11 === 3)
    assert(idx.refresh(src).isDefined)
    assertSameRows(idx.score(terms), batchChunkBm25(src.snapshot(), terms),
      "hits after grow+delete refresh")
    assert(idx.postings.snapshot().filter($"doc_id" % 11 === 3).count() === 0L,
      "deleted docs must leave no postings")

    // chained stats views track exactly
    assertSameRows(
      idx.termStats.table.snapshot().select($"tok", $"n_rows"),
      idx.postings.snapshot().groupBy($"tok").agg(count(lit(1)).as("n_rows")),
      "chunk-df view equals postings recompute")
    val cs = idx.corpusStats.table.snapshot()
      .select($"n_rows", $"sum_dl").as[(Long, Long)].collect()
    val (nChunks, sumDl) = idx.chunklens.snapshot()
      .select(count(lit(1)), sum($"dl")).as[(Long, Long)].head()
    assert(cs.toSeq === Seq((nChunks, sumDl)))

    // context expansion matches the batch composition over the source
    val gotCtx = idx.expand(src, terms)
    val hits = batchChunkBm25(src.snapshot(), terms)
      .select($"rnk", $"doc_id", $"chunk_start", $"score")
    val wantCtx = src.snapshot()
      .select($"doc_id", split($"text", " ").as("toks"))
      .join(broadcast(hits), "doc_id")
      .withColumn("ctx_start", greatest($"chunk_start" - STRIDE, lit(0L)))
      .withColumn("n_ctx_tokens",
        least($"chunk_start" + (CHUNK + STRIDE),
          size($"toks").cast("long")) - $"ctx_start")
      .select($"rnk", $"doc_id", $"chunk_start", $"score",
        $"ctx_start", $"n_ctx_tokens",
        concat_ws(" ", slice($"toks", ($"ctx_start" + 1).cast("int"),
          $"n_ctx_tokens".cast("int"))).as("ctx_text"))
    assertSameRows(gotCtx, wantCtx, "maintained context expansion")
  }

  test("chunk index: a one-doc refresh is a bucket-scoped CoW merge") {
    val base = Files.createTempDirectory("chunk-cow")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    src.append(docs)
    val idx = ChunkBm25Index.build(src, s"$base/idx")
    src.deleteWhere($"doc_id" === 0L)
    src.append(docs.filter($"doc_id" === 0L))
    assert(idx.refresh(src).isDefined)
    val m = idx.postings.latestManifest
    assert(m.addedFiles.size <= IncrementalIndex.BUCKETS,
      s"one-doc refresh must stay bucket-bounded, rewrote ${m.addedFiles.size}")
  }

  test("chunk index rides the continuous-maintenance stream exactly-once") {
    // VERDICT r13 #6: the doc-level Bm25Index and the event/state
    // views ride the generic startIndexMaintenance drain; the chunk
    // index's composite refresh (postings → chunklens → stats views)
    // must slot into the same wake-up contract — the stream signals,
    // the per-table txn watermarks make the composite idempotent.
    val base = Files.createTempDirectory("chunk-stream")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val terms = TextOps.BM25_TERMS
    src.append(docs.filter($"doc_id" % 2 === 0))
    val idx = ChunkBm25Index.build(src, s"$base/idx")

    src.append(docs.filter($"doc_id" % 2 === 1))
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => idx.refresh(src), s"$base/_cp")
      .awaitTermination()
    assertSameRows(idx.score(terms),
      batchChunkBm25(src.snapshot(), terms), "post-drain retrieval")

    // restart with nothing new: checkpoint + watermarks → no commits
    val vs = (idx.postings.latestVersion, idx.chunklens.latestVersion,
      idx.termStats.table.latestVersion, idx.corpusStats.table.latestVersion)
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => idx.refresh(src), s"$base/_cp")
      .awaitTermination()
    assert((idx.postings.latestVersion, idx.chunklens.latestVersion,
      idx.termStats.table.latestVersion,
      idx.corpusStats.table.latestVersion) === vs,
      "an empty drain must commit nothing anywhere in the chain")

    // a further churn batch (delete + shrunken re-add — the
    // chunk-count-shrink hazard) is picked up by the next drain
    val victim = docs.orderBy($"doc_id").limit(1)
      .select($"doc_id").as[Long].head()
    src.deleteWhere($"doc_id" === victim)
    src.append(docs.filter($"doc_id" === victim)
      .withColumn("text", concat_ws(" ", slice(split($"text", " "), 1, 5))))
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => idx.refresh(src), s"$base/_cp")
      .awaitTermination()
    assertSameRows(idx.score(terms),
      batchChunkBm25(src.snapshot(), terms), "post-churn retrieval")
    VersionedTable.deleteRecursively(base)
  }
}
