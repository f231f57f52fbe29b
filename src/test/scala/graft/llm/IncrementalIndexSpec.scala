package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.table.VersionedTable

/** CDF-maintained index tables: refresh ≡ rebuild under the frozen
  * codebook, deletes propagate, refreshes are O(delta) CoW merges, and
  * re-running a refresh is a no-op (the txn guard). The end-to-end
  * search/pairs correctness is oracle-checked by `q_ivf_index` /
  * `q_minhash_index`. */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._

  private val srcSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  test("vector index: incremental refresh equals frozen-codebook rebuild; deletes propagate") {
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("vec-index")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" >= 8)
    src.append(corpus.filter($"vec_id" % 2 === 0))
    val idx = VectorIndex.build(src, s"$base/idx")

    src.append(corpus.filter($"vec_id" % 2 === 1))
    assert(idx.refresh(src).isDefined)
    val m = idx.table.latestManifest
    assert(m.addedFiles.size <= IncrementalIndex.BUCKETS,
      s"refresh must be a bucket-scoped CoW merge, rewrote ${m.addedFiles.size} files")

    // refresh ≡ rebuild: assignment of the FULL corpus under the frozen
    // codebook matches the incrementally maintained table
    val expected = SimilarityOps.nearest(
        src.snapshot().select($"vec_id".as("__vid"), $"embedding".as("ce")),
        idx.codebook, "ce", 1, "__r")
      .select($"__vid".as("vec_id"), $"c_id")
    val actual = idx.table.snapshot().select($"vec_id", $"c_id")
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty)

    // idempotence: nothing new -> no commit
    val v = idx.table.latestVersion
    assert(idx.refresh(src).isEmpty)
    assert(idx.table.latestVersion === v)

    // deletes propagate through the CDF into the index and its searches
    val victims = corpus.orderBy($"vec_id").limit(2)
      .select($"vec_id").as[Long].collect().toSeq
    src.deleteWhere($"vec_id".isin(victims: _*))
    assert(idx.refresh(src).isDefined)
    assert(idx.table.snapshot()
      .filter($"vec_id".isin(victims: _*)).count() === 0L)
    val res = idx.search(
      Tables.embeddings(spark, sf).filter($"vec_id" < 8)
        .select($"vec_id".as("q_id"), $"embedding".as("qe")), 5)
    assert(res.filter($"vec_id".isin(victims: _*)).count() === 0L)
    VersionedTable.deleteRecursively(base)
  }

  test("PQ index: refresh encodes only the delta with frozen codebooks; search matches the inline path") {
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("pq-index")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" >= 8)
    src.append(corpus.filter($"vec_id" % 2 === 0))
    val idx = PqIndex.build(src, s"$base/idx")
    def snapCodebook() = idx.codebook.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).toSet
    val frozen = snapCodebook()

    src.append(corpus.filter($"vec_id" % 2 === 1))
    assert(idx.refresh(src).isDefined)
    assert(idx.table.latestManifest.addedFiles.size <= IncrementalIndex.BUCKETS,
      "refresh must be a bucket-scoped CoW merge")
    // the codebook did NOT retrain on refresh
    assert(snapCodebook() === frozen)
    // every corpus vector is encoded: PQ_M codes, each a codebook cell
    assert(idx.table.snapshot().count() === corpus.count())
    val cells = idx.codebook.select($"c_id").distinct().as[Long].collect().toSet
    val allCodes = idx.table.snapshot().select($"codes")
      .as[Seq[Long]].collect()
    assert(allCodes.forall(cs =>
      cs.length === SimilarityOps.PQ_M && cs.forall(cells.contains)))

    // idempotence + delete propagation
    val v = idx.table.latestVersion
    assert(idx.refresh(src).isEmpty)
    assert(idx.table.latestVersion === v)
    val victim = corpus.orderBy($"vec_id").limit(1)
      .select($"vec_id").as[Long].head()
    src.deleteWhere($"vec_id" === victim)
    assert(idx.refresh(src).isDefined)
    val res = idx.search(
      Tables.embeddings(spark, sf).filter($"vec_id" < 8)
        .select($"vec_id".as("q_id"), $"embedding".as("qe")), 5)
    assert(res.filter($"vec_id" === victim).count() === 0L)
    assert(res.groupBy($"q_id").count().filter($"count" =!= 5).count() === 0L)
    VersionedTable.deleteRecursively(base)
  }

  test("IVFPQ index: refresh derives cell + codes with both codebooks frozen; " +
      "search equals exact-within-probed-cells at sub-shortlist scale") {
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("ivfpq-index")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" >= 8)
    src.append(corpus.filter($"vec_id" % 2 === 0))
    val idx = IvfPqIndex.build(src, s"$base/idx")
    def ivfFrozen() = idx.ivfCodebook.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    def pqFrozen() = idx.pqCodebook.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).toSet
    val (vf, pf) = (ivfFrozen(), pqFrozen())

    src.append(corpus.filter($"vec_id" % 2 === 1))
    assert(idx.refresh(src).isDefined)
    assert(idx.table.latestManifest.addedFiles.size <= IncrementalIndex.BUCKETS,
      "refresh must be a bucket-scoped CoW merge")
    // NEITHER codebook retrained on refresh
    assert(ivfFrozen() === vf && pqFrozen() === pf)

    // refresh ≡ rebuild: the maintained cell column matches assigning
    // the FULL corpus under the frozen IVF codebook, and every row
    // carries PQ_M codes drawn from the PQ codebook's cells
    val expectedCells = SimilarityOps.nearest(
        src.snapshot().select($"vec_id".as("__vid"), $"embedding".as("ce")),
        idx.ivfCodebook, "ce", 1, "__r")
      .select($"__vid".as("vec_id"), $"c_id".as("cell"))
    val actualCells = idx.table.snapshot().select($"vec_id", $"cell")
    assert(actualCells.exceptAll(expectedCells).isEmpty &&
      expectedCells.exceptAll(actualCells).isEmpty)
    val pqCells = idx.pqCodebook.select($"c_id").distinct()
      .as[Long].collect().toSet
    assert(idx.table.snapshot().select($"codes").as[Seq[Long]].collect()
      .forall(cs => cs.length === SimilarityOps.PQ_M &&
        cs.forall(pqCells.contains)))

    // idempotence
    val v = idx.table.latestVersion
    assert(idx.refresh(src).isEmpty)
    assert(idx.table.latestVersion === v)

    // At this corpus scale every query's probed-cell candidate set is
    // smaller than PQ_SHORTLIST, so the ADC stage passes ALL candidates
    // to the exact rerank and IVFPQ search must EQUAL exact cosine
    // within the probed cells — the composition's correctness anchor
    // (the ADC stage only ever drops candidates, and here it can't).
    val queries = Tables.embeddings(spark, sf).filter($"vec_id" < 8)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val np = SimilarityOps.adaptiveNprobe(idx.ivfCodebook.count())
    val probes = SimilarityOps.nearest(
        queries.select($"q_id".as("__vid"), $"qe"),
        idx.ivfCodebook, "qe", np, "__p")
      .select($"__vid".as("q_id"), $"qe", $"c_id".as("cell"))
    val exact = idx.table.snapshot()
      .join(broadcast(probes), "cell")
      .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
          .orderBy($"cos".desc, $"vec_id".asc_nulls_last)))
      .filter($"rnk" <= 5)
      .select($"q_id", $"vec_id", $"rnk".cast("long"), round($"cos", 6))
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = idx.search(queries, 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === exact,
      "IVFPQ search must equal exact-within-probed-cells when the " +
        "candidate sets fit inside PQ_SHORTLIST")

    // delete propagation
    val victim = corpus.orderBy($"vec_id").limit(1)
      .select($"vec_id").as[Long].head()
    src.deleteWhere($"vec_id" === victim)
    assert(idx.refresh(src).isDefined)
    assert(idx.search(queries, 5).filter($"vec_id" === victim).count() === 0L)
    VersionedTable.deleteRecursively(base)
  }

  test("SQ8 index: frozen stats survive refresh; out-of-range values clamp to edge buckets") {
    val base = Files.createTempDirectory("sq8-index")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    // build corpus spans [-1, 1] per dim; the refresh batch exceeds it
    val dims = 64
    def vec(x: Float) = Array.fill(dims)(x)
    src.append(Seq((100L, vec(-1.0f)), (101L, vec(1.0f)), (102L, vec(0.0f)))
      .toDF("vec_id", "embedding"))
    val idx = Sq8Index.build(src, s"$base/idx")
    val frozen = idx.stats.orderBy("i").collect()
      .map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    assert(frozen.forall { case (mn, mx) => mn === -1.0 && mx === 1.0 })

    src.append(Seq((103L, vec(5.0f)), (104L, vec(-5.0f)))
      .toDF("vec_id", "embedding"))
    assert(idx.refresh(src).isDefined)
    // stats did not recompute; out-of-range vectors clamp to the edges
    assert(idx.stats.orderBy("i").collect()
      .map(r => (r.getDouble(1), r.getDouble(2))).toSeq === frozen)
    val codes = idx.table.snapshot()
      .select($"vec_id", $"codes") .as[(Long, Seq[Long])].collect().toMap
    assert(codes(103L).forall(_ === 255L), s"above-range must clamp to 255")
    assert(codes(104L).forall(_ === 0L), s"below-range must clamp to 0")
    assert(codes(100L).forall(_ === 0L) && codes(101L).forall(_ === 255L))

    // search ranks the identical-direction clamped vector by cosine of
    // its RECONSTRUCTION — still well-ordered, no failures on clamps
    val res = idx.search(
      Seq((0L, vec(1.0f))).toDF("q_id", "qe"), 3)
    assert(res.count() === 3L)
    VersionedTable.deleteRecursively(base)
  }

  test("streaming maintenance drains source changes into an index") {
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("stream-index")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" >= 8)
    src.append(corpus.filter($"vec_id" % 2 === 0))
    val idx = PqIndex.build(src, s"$base/idx")

    src.append(corpus.filter($"vec_id" % 2 === 1))
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => idx.refresh(src), s"$base/_cp")
      .awaitTermination()
    assert(idx.table.snapshot().count() === corpus.count())

    // restart with nothing new: checkpointed progress + the txn
    // watermark mean no new index version
    val v = idx.table.latestVersion
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => idx.refresh(src), s"$base/_cp")
      .awaitTermination()
    assert(idx.table.latestVersion === v)

    // a further source change is picked up by the next drain
    val victim = corpus.orderBy($"vec_id").limit(1)
      .select($"vec_id").as[Long].head()
    src.deleteWhere($"vec_id" === victim)
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => idx.refresh(src), s"$base/_cp")
      .awaitTermination()
    assert(idx.table.snapshot().filter($"vec_id" === victim).count() === 0L)
    VersionedTable.deleteRecursively(base)
  }

  test("signature index: update re-signs a document; too-short docs index a null signature") {
    val base = Files.createTempDirectory("sig-index")
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    src.append(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "short")).toDF("doc_id", "text"))
    val idx = SignatureIndex.build(src, s"$base/idx")

    assert(idx.table.snapshot().count() === 3L)
    assert(idx.table.snapshot().filter($"doc_id" === 3 && $"mhs".isNull)
      .count() === 1L)
    // docs 1 and 2 share 6 of 7 shingles -> a near-dup pair
    assert(idx.pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      .toSet === Set((1L, 2L)))

    // an UPDATE re-signs: make doc 2 unrelated, the pair disappears
    src.updateWhere($"doc_id" === 2,
      Map("text" -> lit("entirely different words appear in this one now")))
    assert(idx.refresh(src).isDefined)
    assert(idx.pairs.isEmpty)

    // and shrinking a doc below the shingle threshold clears its signature
    src.updateWhere($"doc_id" === 1, Map("text" -> lit("tiny")))
    idx.refresh(src)
    assert(idx.table.snapshot().filter($"doc_id" === 1 && $"mhs".isNull)
      .count() === 1L)
    VersionedTable.deleteRecursively(base)
  }

  test("image-hash index: update re-hashes a document; empty docs index " +
      "a null signature; delta pairs come from pairsFor") {
    val base = Files.createTempDirectory("img-index")
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    // same length → same image dims; a 1-byte edit perturbs ≤ 2 dHash
    // bits (far inside the Hamming gate), the q_image_dedup planting
    val t = (0 until 300).map(i => ('a' + (i * 7) % 26).toChar).mkString
    src.append(Seq(
      (1L, t),
      (2L, "z" + t.substring(1)),
      (3L, "")).toDF("doc_id", "text"))
    val idx = ImageHashIndex.build(src, s"$base/idx")

    assert(idx.table.snapshot().count() === 3L)
    assert(idx.table.snapshot().filter($"doc_id" === 3 && $"bands".isNull)
      .count() === 1L, "un-renderable doc must index a NULL signature")
    assert(idx.pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      .toSet === Set((1L, 2L)))
    // the steady-state delta query returns the same pair for either side
    assert(idx.pairsFor(Seq(2L).toDF("doc_id"))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      .toSet === Set((1L, 2L)))

    // an UPDATE re-renders + re-hashes: make doc 2 a different image
    // (different length → different dims → unrelated raster)
    src.updateWhere($"doc_id" === 2,
      Map("text" -> lit("entirely different content, other length")))
    assert(idx.refresh(src).isDefined)
    assert(idx.table.latestManifest.addedFiles.size <= IncrementalIndex.BUCKETS,
      "one-doc refresh must stay bucket-bounded")
    assert(idx.pairs.isEmpty)

    // shrinking a doc to empty clears its signature (total derivation)
    src.updateWhere($"doc_id" === 1, Map("text" -> lit("")))
    idx.refresh(src)
    assert(idx.table.snapshot().filter($"doc_id" === 1 && $"bands".isNull)
      .count() === 1L)

    // idempotence: nothing new → no commit
    val v = idx.table.latestVersion
    assert(idx.refresh(src).isEmpty)
    assert(idx.table.latestVersion === v)
    VersionedTable.deleteRecursively(base)
  }

  /** Deterministic synthetic vectors with 10 planted clusters: the
    * `id % 10` frequency dominates, per-id noise stays small. Offset
    * `centerBase` plants a DIFFERENT cluster family (distribution
    * shift) for the drift tests. */
  private def clustered(from: Long, until: Long, centerBase: Long = 1) =
    spark.range(from, until).select($"id".as("vec_id"),
      expr(s"transform(sequence(1, 64), i -> CAST(" +
        s"sin((id % 10 + $centerBase) * i) * 4.0 + sin(id * i) * 0.1" +
        " AS FLOAT))").as("embedding"))

  test("adaptive IVF cells: ~sqrt(N) clamped at 16; probes follow the codebook") {
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("vec-adaptive")
    val small = VersionedTable.create(spark, s"$base/s", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    small.append(clustered(1, 101))
    assert(VectorIndex.build(small, s"$base/si").codebook.count() === 16L,
      "100 vectors: the 16-cell floor")
    val big = VersionedTable.create(spark, s"$base/b", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    big.append(clustered(1, 2501))
    val bi = VectorIndex.build(big, s"$base/bi")
    assert(bi.codebook.count() === 50L, "2500 vectors: ceil(sqrt(N)) = 50")
    // search probes are sized from the codebook (never a constant):
    // indexed vectors must find themselves exactly
    val res = bi.search(clustered(7, 10)
      .select($"vec_id".as("q_id"), $"embedding".as("qe")), 1)
    assert(res.filter($"rnk" === 1).count() === 3L)
    assert(res.filter($"q_id" === $"vec_id").count() === 3L,
      "each query IS an indexed vector - exact self-match at rnk 1")
    VersionedTable.deleteRecursively(base)
  }

  test("drift: a shifted refresh batch raises the metric; REINDEX resets it and re-fits") {
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("vec-drift")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    src.append(clustered(1, 301))
    val idx = VectorIndex.build(src, s"$base/idx")
    val (m0, b0, l0) = IndexDrift.summary(idx.table).get
    assert(m0 === "mean_assign_dist")
    assert(l0 === b0, "at build, latest IS the baseline")

    // churn from a DIFFERENT cluster family: the frozen codebook has
    // no centroids near it, so the batch's assignment distance jumps
    src.append(clustered(1001, 1301, centerBase = 11))
    assert(idx.refresh(src).isDefined)
    val (_, b1, l1) = IndexDrift.summary(idx.table).get
    assert(b1 === b0, "baseline unchanged by refreshes")
    assert(l1 > b1 * 1.5 && l1 > b1 + 0.05,
      s"shifted batch must raise drift: baseline $b1, latest $l1")

    // REINDEX: retrain on the corpus as it now is — new baseline
    // epoch, and the refit covers both cluster families
    idx.reindex(src)
    val (_, b2, l2) = IndexDrift.summary(idx.table).get
    assert(l2 === b2, "REINDEX starts a fresh baseline epoch")
    assert(l2 < l1, s"retrained codebook must fit better: $l2 vs $l1")
    // planted neighbor from the shifted family: exact self-match
    val q = src.snapshot().filter($"vec_id" === 1100)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val top = idx.search(q, 1).collect()
    assert(top.length === 1 && top.head.getLong(1) === 1100L,
      "REINDEX restores planted-neighbor recall for the shifted family")
    VersionedTable.deleteRecursively(base)
  }

  test("IVFPQ drift: shifted batch raises mean_assign_dist; REINDEX retrains " +
      "BOTH codebooks and restores recall") {
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("ivfpq-drift")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    src.append(clustered(1, 301))
    val idx = IvfPqIndex.build(src, s"$base/idx")
    val (m0, b0, l0) = IndexDrift.summary(idx.table).get
    assert(m0 === "mean_assign_dist")
    assert(l0 === b0)
    val pqBefore = idx.pqCodebook.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).toSet

    src.append(clustered(1001, 1301, centerBase = 11))
    assert(idx.refresh(src).isDefined)
    val (_, b1, l1) = IndexDrift.summary(idx.table).get
    assert(b1 === b0 && l1 > b1 * 1.5 && l1 > b1 + 0.05,
      s"shifted batch must raise drift: baseline $b1, latest $l1")

    idx.reindex(src)
    val (_, b2, l2) = IndexDrift.summary(idx.table).get
    assert(l2 === b2, "REINDEX starts a fresh baseline epoch")
    assert(l2 < l1, s"retrained codebooks must fit better: $l2 vs $l1")
    // REINDEX retrains the PQ side too, not just the cell quantizer
    val pqAfter = idx.pqCodebook.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).toSet
    assert(pqAfter !== pqBefore,
      "REINDEX must retrain the PQ codebooks on the shifted corpus")
    // planted neighbor from the shifted family: exact self-match (the
    // rerank stage reads raw vectors, so a probed self-match is exact)
    val q = src.snapshot().filter($"vec_id" === 1100)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val top = idx.search(q, 1).collect()
    assert(top.length === 1 && top.head.getLong(1) === 1100L)
    VersionedTable.deleteRecursively(base)
  }

  test("vector-index fleet drain parity: post-drain search equals a " +
      "synchronous batch refresh on every family; empty drain commits nothing") {
    // VERDICT r14 next #4 — the ChunkBm25IndexSpec drain-parity
    // contract for the quantized families (IVF / PQ / SQ8 / IVFPQ):
    // index training is deterministic on the build snapshot
    // (md5-ordered sample, deterministic Lloyd), so a TWIN fleet built
    // from the same even-half source carries identical frozen
    // codebooks; the twin refreshes synchronously while the subject
    // rides the startIndexMaintenance stream — post-drain search must
    // be bit-identical per family, and a second drain with nothing new
    // must commit no version anywhere.
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("fleet-drain-parity")
    def mkSrc(name: String): VersionedTable = VersionedTable.create(
      spark, s"$base/$name", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" >= 8)
    val (srcA, srcB) = (mkSrc("srcA"), mkSrc("srcB"))
    val even = corpus.filter($"vec_id" % 2 === 0)
    srcA.append(even); srcB.append(even)
    val subj: Seq[(String, VersionedTable => Option[Long],
        (DataFrame, Int) => DataFrame, () => Seq[Long])] = {
      val ivf = VectorIndex.build(srcA, s"$base/a-ivf")
      val pq = PqIndex.build(srcA, s"$base/a-pq")
      val sq8 = Sq8Index.build(srcA, s"$base/a-sq8")
      val ivfpq = IvfPqIndex.build(srcA, s"$base/a-ivfpq")
      Seq(
        ("ivf", (s: VersionedTable) => ivf.refresh(s),
          (q: DataFrame, k: Int) => ivf.search(q, k),
          () => Seq(ivf.table.latestVersion)),
        ("pq", (s: VersionedTable) => pq.refresh(s),
          (q: DataFrame, k: Int) => pq.search(q, k),
          () => Seq(pq.table.latestVersion)),
        ("sq8", (s: VersionedTable) => sq8.refresh(s),
          (q: DataFrame, k: Int) => sq8.search(q, k),
          () => Seq(sq8.table.latestVersion)),
        ("ivfpq", (s: VersionedTable) => ivfpq.refresh(s),
          (q: DataFrame, k: Int) => ivfpq.search(q, k),
          () => Seq(ivfpq.table.latestVersion)))
    }
    val twin: Seq[(String, VersionedTable => Option[Long],
        (DataFrame, Int) => DataFrame)] = {
      val ivf = VectorIndex.build(srcB, s"$base/b-ivf")
      val pq = PqIndex.build(srcB, s"$base/b-pq")
      val sq8 = Sq8Index.build(srcB, s"$base/b-sq8")
      val ivfpq = IvfPqIndex.build(srcB, s"$base/b-ivfpq")
      Seq(
        ("ivf", (s: VersionedTable) => ivf.refresh(s),
          (q: DataFrame, k: Int) => ivf.search(q, k)),
        ("pq", (s: VersionedTable) => pq.refresh(s),
          (q: DataFrame, k: Int) => pq.search(q, k)),
        ("sq8", (s: VersionedTable) => sq8.refresh(s),
          (q: DataFrame, k: Int) => sq8.search(q, k)),
        ("ivfpq", (s: VersionedTable) => ivfpq.refresh(s),
          (q: DataFrame, k: Int) => ivfpq.search(q, k)))
    }

    val odd = corpus.filter($"vec_id" % 2 === 1)
    srcA.append(odd); srcB.append(odd)
    // twin: synchronous refresh; subject: the checkpointed stream drain
    twin.foreach { case (_, refresh, _) => refresh(srcB) }
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, srcA,
        () => subj.map(_._2(srcA)).flatten.lastOption, s"$base/_cp")
      .awaitTermination()

    val queries = Tables.embeddings(spark, sf).filter($"vec_id" < 8)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    for (((name, _, search, _), (_, _, twinSearch)) <- subj.zip(twin)) {
      val got = search(queries, 5)
        .as[(Long, Long, Long, Double)].collect().toSet
      val want = twinSearch(queries, 5)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got === want,
        s"$name: post-drain search must equal the synchronous batch refresh")
    }

    // empty drain: checkpoint + per-index txn watermarks → no commits
    val vs = subj.map(_._4())
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, srcA,
        () => subj.map(_._2(srcA)).flatten.lastOption, s"$base/_cp")
      .awaitTermination()
    assert(subj.map(_._4()) === vs,
      "an empty drain must commit nothing in any family")
    VersionedTable.deleteRecursively(base)
  }

  test("streaming maintenance drives a multi-family index fleet exactly-once") {
    // the realistic deployment: ONE corpus stream keeps an IVF, a PQ,
    // and an SQ8 index current together — one checkpointed drain, one
    // refresh thunk covering all three families (each family's own
    // txn watermark makes the composite refresh idempotent per index)
    graft.functions.GraftFunctions.register(spark)
    val base = Files.createTempDirectory("fleet-index")
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val corpus = Tables.embeddings(spark, sf).filter($"vec_id" >= 8)
    src.append(corpus.filter($"vec_id" % 2 === 0))
    val ivf = VectorIndex.build(src, s"$base/ivf")
    val pq = PqIndex.build(src, s"$base/pq")
    val sq8 = Sq8Index.build(src, s"$base/sq8")
    def refreshAll(): Option[Long] = {
      val rs = Seq(ivf.refresh(src), pq.refresh(src), sq8.refresh(src))
      rs.flatten.lastOption
    }

    src.append(corpus.filter($"vec_id" % 2 === 1))
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => refreshAll(), s"$base/_cp")
      .awaitTermination()
    val n = corpus.count()
    assert(ivf.table.snapshot().count() === n)
    assert(pq.table.snapshot().count() === n)
    assert(sq8.table.snapshot().count() === n)

    // idempotent restart: no new version on ANY family
    def versions() =
      Seq(ivf.table.latestVersion, pq.table.latestVersion,
        sq8.table.latestVersion)
    val vs = versions()
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => refreshAll(), s"$base/_cp")
      .awaitTermination()
    assert(versions() === vs)

    // a delete drains into all three on the next cycle
    val victim = corpus.orderBy($"vec_id").limit(1)
      .select($"vec_id").as[Long].head()
    src.deleteWhere($"vec_id" === victim)
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => refreshAll(), s"$base/_cp")
      .awaitTermination()
    for (t <- Seq(ivf.table, pq.table, sq8.table))
      assert(t.snapshot().filter($"vec_id" === victim).count() === 0L)
    VersionedTable.deleteRecursively(base)
  }
}
