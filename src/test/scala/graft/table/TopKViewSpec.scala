package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{SparkSpec, Tables}

/** The [[TopKView]] maintenance contract: after ANY refresh, the
  * readout equals the declarative window top-k over the source
  * snapshot — through insert folds, slack-funded deletes, re-derive
  * storms, whole-group removal, new groups, and idempotent refresh.
  */
class TopKViewSpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("lang", StringType),
    StructField("doc_id", LongType),
    StructField("ord", LongType)))

  private def mkSource(name: String): VersionedTable =
    VersionedTable.create(spark, graft.Scratch.dir(name).resolve("t").toString,
      schema, Map(VersionedTable.PROP_CDF -> "true"))

  private def rows(rs: (String, Long, Long)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rs.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)), 2), schema)

  private def expected(src: VersionedTable): Seq[(String, Long, Long, Long)] = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("ord").desc, col("doc_id").asc)
    src.snapshot().withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= TopKViewOps.K)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
  }

  private def got(v: TopKView): Seq[(String, Long, Long, Long)] =
    v.topk().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))

  private def docs(n: Int, lang: String, base: Long = 0): Seq[(String, Long, Long)] =
    (0 until n).map(i => (lang, base + i, 100L + ((base + i) * 37) % 400))

  test("insert fold: appends refresh without re-derive, match declarative top-k") {
    val src = mkSource("topk-ins")
    src.append(rows(docs(20, "en") ++ docs(10, "fr", 1000): _*))
    val v = TopKViewOps.build(src, graft.Scratch.dir("topk-ins-v").toString,
      "lang", "doc_id", "ord")
    assert(got(v) === expected(src))
    src.append(rows(docs(15, "en", 2000) ++ docs(5, "de", 3000): _*)) // de is NEW
    v.refresh(src)
    assert(got(v) === expected(src))
    // state stays bounded: <= CAND rows per group
    val sizes = v.state.snapshot().groupBy("lang").count().collect()
    sizes.foreach(r => assert(r.getLong(1) <= TopKViewOps.CAND))
  }

  test("the refresh watermark rides the META commit (crash atomicity)") {
    // ADVICE r12 (shared with RerankView): with the watermark on the
    // state commit, a crash between the state and meta merges advanced
    // it with valid_n still inflated — the next refresh no-op'd and a
    // required re-derive could be skipped. The watermark now commits
    // LAST, with meta, so a torn refresh replays idempotently.
    val src = mkSource("topk-wm")
    src.append(rows(docs(20, "en"): _*))
    val v = TopKViewOps.build(src, graft.Scratch.dir("topk-wm-v").toString,
      "lang", "doc_id", "ord")
    assert(v.meta.lastTxn(TopKViewOps.APP) === Some(src.latestVersion),
      "build must record the watermark on meta")
    assert(v.state.lastTxn(TopKViewOps.APP) === None,
      "the state commit must NOT carry the watermark")
    src.append(rows(docs(5, "en", 500): _*))
    v.refresh(src)
    assert(v.meta.lastTxn(TopKViewOps.APP) === Some(src.latestVersion))
    assert(v.state.lastTxn(TopKViewOps.APP) === None)
    assert(got(v) === expected(src))
  }

  test("deletes: slack absorbs small ones, storms force exact re-derive") {
    val src = mkSource("topk-del")
    src.append(rows(docs(40, "en") ++ docs(40, "fr", 1000): _*))
    val v = TopKViewOps.build(src, graft.Scratch.dir("topk-del-v").toString,
      "lang", "doc_id", "ord")
    // delete 2 current en leaders: within SLACK, no derive needed
    val leaders = got(v).filter(_._1 == "en").take(2).map(_._2)
    src.deleteWhere(col("doc_id").isin(leaders: _*))
    v.refresh(src)
    assert(got(v) === expected(src))
    // storm: delete EVERY current fr candidate -> validity < K -> re-derive
    val frCand = v.state.snapshot().filter(col("lang") === "fr")
      .select("doc_id").collect().map(_.getLong(0))
    assert(frCand.length === TopKViewOps.CAND)
    src.deleteWhere(col("doc_id").isin(frCand: _*))
    v.refresh(src)
    assert(got(v) === expected(src))
    // whole-group removal
    src.deleteWhere(col("lang") === "en")
    v.refresh(src)
    assert(got(v) === expected(src))
    assert(got(v).forall(_._1 == "fr"))
  }

  test("mixed churn across refreshes stays exact; refresh is idempotent") {
    val src = mkSource("topk-churn")
    src.append(rows(docs(25, "en") ++ docs(25, "fr", 1000) ++ docs(25, "zh", 2000): _*))
    val v = TopKViewOps.build(src, graft.Scratch.dir("topk-churn-v").toString,
      "lang", "doc_id", "ord")
    for (round <- 1 to 4) {
      src.append(rows(docs(6, "en", 10000L * round) ++
        docs(6, "zh", 20000L * round): _*))
      src.deleteWhere(col("doc_id") % 11 === (round.toLong % 11))
      v.refresh(src)
      assert(got(v) === expected(src), s"round $round")
    }
    val before = got(v)
    v.refresh(src) // nothing new: must be a cheap no-op, same answer
    assert(got(v) === before)
    // validity never below K after refresh
    v.meta.snapshot().collect().foreach { r =>
      assert(r.getLong(1) >= TopKViewOps.K)
    }
  }

  test("key-prune cap: a delta touching >keyPruneMax groups falls back to full re-derive") {
    val src = mkSource("topk-cap")
    val langs = (0 until 30).map(i => f"g$i%02d")
    src.append(rows(langs.zipWithIndex.flatMap { case (l, i) =>
      docs(12, l, i * 1000L) }: _*))
    val built = TopKViewOps.build(src, graft.Scratch.dir("topk-cap-v").toString,
      "lang", "doc_id", "ord")
    // same state/meta, tiny cap: the spec drives the fallback without a
    // 10k-group fixture (the production default is VersionedTable.KEY_PRUNE_MAX)
    val v = new TopKView(built.state, built.meta, "lang", "doc_id", "ord",
      TopKViewOps.K, TopKViewOps.SLACK, keyPruneMax = 8)
    // churn EVERY group (30 > 8): inserts AND deletes in one delta
    src.append(rows(langs.zipWithIndex.flatMap { case (l, i) =>
      docs(4, l, 100000L + i * 1000L) }: _*))
    src.deleteWhere(col("doc_id") % 5 === 0)
    v.refresh(src)
    assert(v.lastRefreshFull, "expected the full re-derive fallback")
    assert(got(v) === expected(src))
    // validity reset to CAND for every surviving group
    v.meta.snapshot().collect().foreach(r =>
      assert(r.getLong(1) === TopKViewOps.CAND.toLong))
    // a bounded delta takes the incremental path again and stays exact
    src.append(rows(docs(3, "g01", 900000L) ++ docs(3, "g02", 910000L): _*))
    v.refresh(src)
    assert(!v.lastRefreshFull, "expected the key-pruned incremental path")
    assert(got(v) === expected(src))
    // whole-group removal through the fallback deletes its meta row too
    src.deleteWhere(col("lang") === "g03")
    src.append(rows(langs.filterNot(_ == "g03").zipWithIndex.flatMap {
      case (l, i) => docs(1, l, 500000L + i * 100L) }: _*))
    v.refresh(src)
    assert(v.lastRefreshFull)
    assert(got(v) === expected(src))
    assert(!v.meta.snapshot().select("lang").collect().map(_.getString(0))
      .contains("g03"))
  }

  test("same-window insert+delete must not resurrect through the insert leg") {
    val src = mkSource("topk-net")
    src.append(rows(docs(20, "en"): _*))
    val v = TopKViewOps.build(src, graft.Scratch.dir("topk-net-v").toString,
      "lang", "doc_id", "ord")
    // a would-be LEADER born and killed between two refreshes: the CDF
    // batch carries both its insert and its delete; folding the raw
    // insert leg would re-enter it at rank 1
    src.append(rows(("en", 9999L, 99999L)))
    src.deleteWhere(col("doc_id") === 9999L)
    v.refresh(src)
    assert(!got(v).exists(_._2 == 9999L), "deleted-in-window doc resurrected")
    assert(got(v) === expected(src))
    // and an ord UPDATE in-window folds its LATEST image exactly once:
    // leader demoted below the fold, stale buffered score purged
    val leader = got(v).head._2
    src.deleteWhere(col("doc_id") === leader)
    src.append(rows(("en", leader, 1L)))
    v.refresh(src)
    assert(got(v) === expected(src))
  }

  test("fixture-scale: view over the documents table matches declarative ranks") {
    val src = mkSource("topk-docs")
    src.append(Tables.documents(spark, sf).select(col("lang"), col("doc_id"),
      col("n_chars").cast("long").as("ord")))
    val v = TopKViewOps.build(src, graft.Scratch.dir("topk-docs-v").toString,
      "lang", "doc_id", "ord")
    assert(got(v) === expected(src))
    assert(got(v).nonEmpty)
  }
}
