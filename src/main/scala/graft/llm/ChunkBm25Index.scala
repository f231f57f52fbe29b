package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{QueryModule, Tables}
import graft.table._

/** An incrementally-maintained CHUNK-granular BM25 index — the RAG
  * retrieval layer as a persisted, CDF-maintained artifact (VERDICT
  * r12 next #8). The batch rows `q_chunk_bm25` / `q_expand_context`
  * re-chunk and re-tokenize the whole corpus per query; a serving
  * pipeline instead keeps chunk postings beside the corpus and folds
  * only changed documents. Chunks are DOCUMENT-LOCAL (CHUNK-token
  * windows every STRIDE tokens over one document's token array), so a
  * changed document invalidates exactly its own chunk rows — the same
  * single-key maintenance contract as the doc-level [[Bm25Index]],
  * with the chunk grain carried in the key.
  *
  * Three chained artifacts, each with its own upstream watermark
  * (the [[Bm25Index]] protocol):
  *
  *   - '''postings''' `(pkey, doc_id, chunk_start, tok, tf, dl)` — one
  *     row per (chunk, distinct token), `pkey = doc|start|tok`,
  *     hash-bucketed by pkey so merges rewrite only buckets holding
  *     changed pairs. Maintained from the source CDF by
  *     [[graft.table.KeyedRefresh.rederive]]: a changed doc's chunks
  *     re-derive, pairs the re-derivation does not re-assert (deleted
  *     docs: all; shortened docs: trailing chunks and vanished tokens)
  *     become explicit DELETEs via a key-pruned anti-join.
  *   - '''chunklens''' `(ckey, doc_id, chunk_start, dl, k)` — per-chunk
  *     token length (the BM25 `dl`), same derive + anti-join shape
  *     (a document's CHUNK COUNT can shrink, so single-key upserts are
  *     not enough — unlike [[Bm25Index]]'s one-row-per-doc doclens).
  *   - '''term/corpus statistics''' — [[AggView]]s over the index
  *     tables' own CDF: chunk-df per token (each postings row is a
  *     distinct chunk by construction) and the 1-row
  *     `(n_chunks, Σdl)` corpus stats.
  *
  * == 100 TB design ==
  * Refresh is O(changed docs × their chunk-tokens + touched buckets);
  * the stale-pair read is key-pruned ([[VersionedTable.snapshotForKeys]]
  * on doc_id, semi-join past [[VersionedTable.KEY_PRUNE_MAX]]). Scoring
  * reads postings filtered to the |Q| query terms, joins the |Q|-row
  * broadcast df slice and the 1-row broadcast stats, and takes the
  * global top-K via [[graft.operators.RankOps.topK]]
  * (TakeOrderedAndProject — never a single-partition sort). Context
  * expansion broadcasts the K-row hit set onto one pruned source scan.
  * A crash between stages re-runs only the stage whose watermark lags;
  * every stage is idempotent under replay.
  *
  * Scoring is expression-for-expression the batch `q_chunk_bm25`
  * (idf/part shapes, 4dp rounding, (score, doc_id, chunk_start) tie
  * order), and context expansion mirrors `q_expand_context` — so with
  * the fixture's end state equal to the full corpus, both maintained
  * paths share the batch rows' DuckDB oracles.
  *
  * Reference anchor: the reference's incremental Silver/Gold
  * maintenance (notebooks/demo-notebook.py:349-435) applied to the
  * RAG retrieval index shape. */
final class ChunkBm25Index private (
    val postings: VersionedTable,
    val chunklens: VersionedTable,
    val termStats: AggView,
    val corpusStats: AggView) {
  import ChunkBm25Index.{APP, deriveChunkPostings, deriveChunklens}
  import IncrementalIndex.refreshDerived
  import TextOps.{CHUNK, STRIDE, CHUNK_K}

  /** Applies all source changes not yet reflected, stage by stage. */
  def refresh(source: VersionedTable): Option[Long] = {
    val committed = refreshDerived(postings, source, deriveChunkPostings, "pkey", APP)
    refreshDerived(chunklens, source, deriveChunklens, "ckey", APP)
    termStats.refresh(postings)
    corpusStats.refresh(chunklens)
    committed
  }

  /** Chunk-BM25 scores of the global top-[[TextOps.CHUNK_K]] chunks
    * matching any of `terms`, from the PERSISTED index — the
    * `q_chunk_bm25` expressions verbatim with df/n_chunks/Σdl read
    * from the maintained stats views. */
  def score(terms: Seq[String]): DataFrame = {
    val p = postings.snapshot().filter(col("tok").isin(terms: _*))
    val dfT = termStats.table.snapshot()
      .filter(col("tok").isin(terms: _*))
      .select(col("tok"), col("n_rows").as("df"))
    val stats = corpusStats.table.snapshot()
      .select(col("n_rows").as("n_chunks"), col("sum_dl"))
    val scored = p.join(broadcast(dfT), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_chunks") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("part",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") * col("n_chunks") / col("sum_dl"))))
      .groupBy(col("doc_id"), col("chunk_start"))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        round(sum(col("part")), 4).as("score"))
    graft.operators.RankOps.topK(scored, CHUNK_K,
        Seq(("score", false), ("doc_id", true), ("chunk_start", true)),
        rankName = "rnk")
      .select(col("rnk"), col("doc_id"), col("chunk_start"),
        col("n_terms"), col("score"))
  }

  /** RAG context expansion of the maintained hits — `q_expand_context`
    * verbatim: each hit widens to a STRIDE-token margin sliced from
    * the source document's token array (the K-row hit set broadcasts
    * onto one pruned source scan). */
  def expand(source: VersionedTable, terms: Seq[String]): DataFrame = {
    val hits = score(terms)
      .select(col("rnk"), col("doc_id"), col("chunk_start"), col("score"))
    source.snapshot()
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(broadcast(hits), "doc_id")
      .withColumn("ctx_start", greatest(col("chunk_start") - STRIDE, lit(0L)))
      .withColumn("n_ctx_tokens",
        least(col("chunk_start") + (CHUNK + STRIDE),
          size(col("toks")).cast("long")) - col("ctx_start"))
      .select(col("rnk"), col("doc_id"), col("chunk_start"), col("score"),
        col("ctx_start"), col("n_ctx_tokens"),
        concat_ws(" ", slice(col("toks"), (col("ctx_start") + 1).cast("int"),
          col("n_ctx_tokens").cast("int"))).as("ctx_text"))
  }
}

object ChunkBm25Index {
  import TextOps.{CHUNK, STRIDE}

  private[llm] val APP = "chunk-bm25-index"

  /** `(pkey, doc_id, chunk_start, tok, tf, dl)` pairs of a batch of
    * `(doc_id, text)` rows — chunking identical to `q_doc_chunks`
    * (CHUNK-token windows every STRIDE tokens), tokenization identical
    * to `q_chunk_bm25` (lowercase, single-space split; `dl` counts the
    * chunk's tokens). */
  private[llm] def deriveChunkPostings(rows: DataFrame): DataFrame = rows
    .select(col("doc_id"), split(col("text"), " ").as("toks"))
    .select(col("doc_id"), col("toks"),
      explode(sequence(lit(0), size(col("toks")) - 1, lit(STRIDE)))
        .as("start"))
    .select(col("doc_id"),
      col("start").cast("long").as("chunk_start"),
      least(size(col("toks")) - col("start"), lit(CHUNK)).cast("long")
        .as("dl"),
      explode(split(lower(concat_ws(" ",
        slice(col("toks"), col("start") + 1, lit(CHUNK)))), " ")).as("tok"))
    .groupBy(col("doc_id"), col("chunk_start"), col("tok"))
    .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    .select(
      concat(col("doc_id"), lit("|"), col("chunk_start"), lit("|"),
        col("tok")).as("pkey"),
      col("doc_id"), col("chunk_start"), col("tok"), col("tf"), col("dl"))

  /** `(ckey, doc_id, chunk_start, dl, k)` chunk lengths of a batch —
    * `k` is the constant grouping column the corpus-stats view groups
    * by (the [[Bm25Index]] doclens idiom). */
  private[llm] def deriveChunklens(rows: DataFrame): DataFrame = rows
    .select(col("doc_id"), split(col("text"), " ").as("toks"))
    .select(col("doc_id"), size(col("toks")).as("n"),
      explode(sequence(lit(0), size(col("toks")) - 1, lit(STRIDE)))
        .as("start"))
    .select(concat(col("doc_id"), lit("|"), col("start")).as("ckey"),
      col("doc_id"), col("start").cast("long").as("chunk_start"),
      least(col("n") - col("start"), lit(CHUNK)).cast("long").as("dl"),
      lit(0).as("k"))

  private def postingsSchema = StructType(Seq(
    StructField("pkey", StringType),
    StructField("doc_id", LongType),
    StructField("chunk_start", LongType),
    StructField("tok", StringType),
    StructField("tf", LongType),
    StructField("dl", LongType)))

  private def chunklensSchema = StructType(Seq(
    StructField("ckey", StringType),
    StructField("doc_id", LongType),
    StructField("chunk_start", LongType),
    StructField("dl", LongType),
    StructField("k", IntegerType)))

  /** Indexes the source's current snapshot through the same refresh
    * path that maintains it (the [[Bm25Index]]/[[SignatureIndex]]
    * contract) and builds the chained stats views. Source needs CDF. */
  def build(source: VersionedTable, path: String): ChunkBm25Index = {
    val s = source.spark
    val root = java.nio.file.Paths.get(path)
    val post = VersionedTable.create(s, root.resolve("postings").toString,
      postingsSchema,
      IncrementalIndex.indexProps("chunk-bm25", source, "text", "pkey") +
        (VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("pkey"), IncrementalIndex.BUCKETS)))
    IncrementalIndex.refreshDerived(post, source, deriveChunkPostings, "pkey", APP)
    val cls = VersionedTable.create(s, root.resolve("chunklens").toString,
      chunklensSchema,
      IncrementalIndex.indexProps("chunk-bm25-len", source, "text", "ckey") +
        (VersionedTable.PROP_CDF -> "true"),
      bucketBy = Some(BucketSpec(Seq("ckey"), IncrementalIndex.BUCKETS)))
    IncrementalIndex.refreshDerived(cls, source, deriveChunklens, "ckey", APP)
    val term = AggView.build(post, root.resolve("termstats").toString,
      Seq("tok"), sums = Seq.empty)
    val corpus = AggView.build(cls, root.resolve("corpusstats").toString,
      Seq("k"), sums = Seq("dl" -> "dl"))
    new ChunkBm25Index(post, cls, term, corpus)
  }

  def load(spark: SparkSession, path: String): ChunkBm25Index = {
    val root = java.nio.file.Paths.get(path)
    new ChunkBm25Index(
      VersionedTable.load(spark, root.resolve("postings").toString),
      VersionedTable.load(spark, root.resolve("chunklens").toString),
      AggView.load(spark, root.resolve("termstats").toString),
      AggView.load(spark, root.resolve("corpusstats").toString))
  }
}

/** Oracle-gated rows for the persisted chunk-BM25 index
  * (`q_chunk_index`), its steady-state maintenance + retrieval cost
  * (`q_chunk_refresh`), and the maintained RAG context expansion
  * (`q_context_refresh`) — all sharing the batch rows' declarative
  * oracles because the fixture's end state equals the full corpus. */
object ChunkBm25Ops extends QueryModule {
  import Tables._

  private def srcSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Fixture cached per (session, sf dir) — the [[Bm25Ops]] lifecycle:
    * two appends around the build, then one slice truncated to 5
    * tokens and restored (chunk COUNTS shrink and regrow, tokens leave
    * and return, chunk-df moves), END STATE = the full documents
    * table. */
  private val cache = scala.collection.concurrent.TrieMap.empty[
    (SparkSession, String),
    (VersionedTable, ChunkBm25Index, java.util.concurrent.atomic.AtomicLong)]

  private def fixture(s: SparkSession, d: String)
      : (VersionedTable, ChunkBm25Index,
         java.util.concurrent.atomic.AtomicLong) =
    cache.synchronized {
      cache.getOrElseUpdate((s, d), {
        val root = graft.Scratch.dir("graft-chunk-bm25")
        val src = VersionedTable.create(s, root.resolve("src").toString,
          srcSchema, Map(VersionedTable.PROP_CDF -> "true"))
        val docs = documents(s, d).select(col("doc_id"), col("text"))
        src.append(docs.filter(col("doc_id") % 3 < 2))
        val idx = ChunkBm25Index.build(src, root.resolve("idx").toString)
        src.append(docs.filter(col("doc_id") % 3 === 2))
        idx.refresh(src)
        val churned = col("doc_id") % 7 === 0
        src.deleteWhere(churned)
        src.append(docs.filter(churned).withColumn("text",
          concat_ws(" ", slice(split(col("text"), " "), 1, 5))))
        idx.refresh(src)
        src.deleteWhere(churned)
        src.append(docs.filter(churned))
        idx.refresh(src)
        (src, idx, new java.util.concurrent.atomic.AtomicLong)
      })
    }

  private def qChunkIndex(s: SparkSession, d: String): DataFrame =
    fixture(s, d)._2.score(TextOps.BM25_TERMS)

  /** Untimed staging shared by the two `_refresh` rows: delete and
    * re-append a small doc slice — nets to content-identical UPSERTs
    * (real CDF rows, real chunk re-derivation and bucket rewrites,
    * provably unchanged scores). */
  private def prepare(s: SparkSession, d: String): Unit = {
    val (src, _, calls) = fixture(s, d)
    calls.getAndIncrement(): Unit
    val churned = col("doc_id") % 50 === 0
    src.deleteWhere(churned)
    src.append(documents(s, d).select(col("doc_id"), col("text"))
      .filter(churned)): Unit
  }

  private def qChunkRefresh(s: SparkSession, d: String): DataFrame = {
    val (src, idx, _) = fixture(s, d)
    idx.refresh(src)
    idx.score(TextOps.BM25_TERMS)
  }

  private def qContextRefresh(s: SparkSession, d: String): DataFrame = {
    val (src, idx, _) = fixture(s, d)
    idx.refresh(src)
    idx.expand(src, TextOps.BM25_TERMS)
  }

  override val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_chunk_index"     -> qChunkIndex _,
    "q_chunk_refresh"   -> qChunkRefresh _,
    "q_context_refresh" -> qContextRefresh _)

  override val oracles: Seq[(String, String)] = Seq(
    "q_chunk_index"     -> TextOps.qChunkBm25Sql,
    "q_chunk_refresh"   -> TextOps.qChunkBm25Sql,
    "q_context_refresh" -> TextOps.qExpandContextSql)

  override val prepares: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "q_chunk_refresh"   -> (prepare _),
    "q_context_refresh" -> (prepare _))
}
