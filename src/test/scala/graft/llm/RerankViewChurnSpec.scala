package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.VersionedTable

/** Randomized churn model test for [[RerankView]] (the MergeModelSpec
  * idiom): a seeded random stream of corpus operations — append
  * batches, delete slices, same-window append+delete combinations —
  * with a refresh after every step, asserting after EACH refresh that
  * the maintained readout equals the declarative per-query rerank
  * top-K over the live corpus snapshot, the buffers stay bounded at
  * K+SLACK, and persisted validity never sits below K. Three seeds ×
  * eight steps each; the op mix is deliberately delete-heavy so slack
  * exhaustion and per-query re-scores happen on every run. */
class RerankViewChurnSpec extends SparkSpec {
  import RerankViewOps.{build, srcSchema, CAND, K}

  graft.functions.GraftFunctions.register(spark)

  private def vec(seed: Long): Seq[Float] = {
    val a = (seed % 23).toDouble / 23.0 * math.Pi
    Seq(math.cos(a).toFloat, math.sin(a).toFloat,
      ((seed % 11) + 1).toFloat / 11f, 1f)
  }

  private def shingleText(seed: Long): Seq[String] =
    Seq(s"t${seed % 9} t${(seed + 1) % 9} t${(seed + 2) % 9}",
      s"t${(seed + 2) % 9} t${(seed + 3) % 9} t${(seed + 4) % 9}")

  private def docRows(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(i => org.apache.spark.sql.Row(i, vec(i), shingleText(i))), 2),
      srcSchema)

  private def expected(src: VersionedTable, q: DataFrame)
      : Seq[(Long, Long, Long, Double)] = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rerank").desc, col("doc_id").asc)
    RerankViewOps.scorePairs(src.snapshot(), q)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("doc_id"), col("rnk"),
        round(col("rerank"), 6).as("rerank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
  }

  private def got(v: RerankView): Seq[(Long, Long, Long, Double)] =
    v.topk().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))

  private def qFrame(ids: Seq[Long]): DataFrame =
    docRows(ids).select(
      col("doc_id").as("q_id"), col("ce").as("qe"), col("cs").as("qs"))

  for (seed <- Seq(7L, 41L, 1013L))
    test(s"random churn stream stays exact (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val src = VersionedTable.create(spark,
        graft.Scratch.dir(s"rrv-churn-$seed").resolve("t").toString,
        srcSchema, Map(VersionedTable.PROP_CDF -> "true"))
      // the standing set itself churns mid-stream (VERDICT r12 #4):
      // adds run the per-query derive, drops retire state, and every
      // subsequent refresh runs under the CURRENT set
      var qIds = Seq(5000L, 5001L, 5002L)
      var qPool = Seq(5003L, 5004L, 5005L, 5006L)
      def q = qFrame(qIds)
      var nextId = 100L
      def freshIds(n: Int): Seq[Long] = {
        val ids = nextId until (nextId + n); nextId += n; ids
      }
      src.append(docRows(freshIds(30)))
      val v = build(src,
        graft.Scratch.dir(s"rrv-churn-$seed-v").toString, q)
      assert(got(v) === expected(src, q))

      for (step <- 1 to 8) {
        rnd.nextInt(5) match {
          case 0 => // append a batch
            src.append(docRows(freshIds(4 + rnd.nextInt(8))))
          case 1 => // delete a random live slice (often hits leaders)
            val m = 2 + rnd.nextInt(4)
            val r = rnd.nextInt(m)
            src.deleteWhere(col("doc_id") % m === r.toLong)
          case 2 => // same-window birth-and-death + an unrelated delete
            val ids = freshIds(3)
            src.append(docRows(ids))
            src.deleteWhere(col("doc_id").isin(ids.take(2): _*))
          case 3 if qPool.nonEmpty => // admit a new standing query
            val id = qPool.head
            qPool = qPool.tail
            v.addQueries(src, qFrame(Seq(id)))
            qIds = qIds :+ id
          case 4 if qIds.length > 1 => // retire a random standing query
            val id = qIds(rnd.nextInt(qIds.length))
            v.dropQueries(Seq(id))
            qIds = qIds.filterNot(_ == id)
          case _ => // pool empty / last query: fall back to an append
            src.append(docRows(freshIds(4)))
        }
        v.refresh(src, q)
        assert(got(v) === expected(src, q), s"seed $seed step $step")
        val sizes = v.state.snapshot().groupBy("q_id").count().collect()
        sizes.foreach(r => assert(r.getLong(1) <= CAND, s"seed $seed step $step"))
        v.meta.snapshot().collect().foreach(r =>
          assert(r.getLong(1) >= K, s"seed $seed step $step validity"))
        // add/drop state hygiene: buffers and meta cover EXACTLY the
        // live standing set
        val metaIds = v.meta.snapshot().select("q_id").collect()
          .map(_.getLong(0)).toSet
        assert(metaIds === qIds.toSet, s"seed $seed step $step meta set")
        val bufIds = v.state.snapshot().select("q_id").distinct()
          .collect().map(_.getLong(0)).toSet
        assert(bufIds.subsetOf(qIds.toSet),
          s"seed $seed step $step dropped-query buffer rows leaked")
      }
      // deterministic finale: wipe one LIVE query's whole buffer so the
      // derive path runs under whatever state the random walk left
      val wipeQ = qIds.head
      val buffered = v.state.snapshot().filter(col("q_id") === wipeQ)
        .select("doc_id").collect().map(_.getLong(0))
      src.deleteWhere(col("doc_id").isin(buffered.toIndexedSeq: _*))
      src.append(docRows(freshIds(5)))
      v.refresh(src, q)
      assert(v.lastDerived >= 1, s"seed $seed: buffer wipe must re-score")
      assert(got(v) === expected(src, q), s"seed $seed finale")
    }

  test("addQueries enforces MAX_STANDING on the grown set") {
    val src = VersionedTable.create(spark,
      graft.Scratch.dir("rrv-cap").resolve("t").toString,
      srcSchema, Map(VersionedTable.PROP_CDF -> "true"))
    src.append(docRows(100L to 120L))
    val v = build(src, graft.Scratch.dir("rrv-cap-v").toString,
      qFrame(Seq(5000L, 5001L, 5002L)), maxStanding = 4)
    // 3 standing + 1 fits the injected cap exactly
    v.addQueries(src, qFrame(Seq(5003L)))
    // 4 + 1 exceeds it — clear diagnostic, state untouched
    val e = intercept[IllegalArgumentException] {
      v.addQueries(src, qFrame(Seq(5004L)))
    }
    assert(e.getMessage.contains("MAX_STANDING"))
    assert(v.meta.snapshot().count() === 4)
    // duplicate admission is rejected, not silently re-derived
    val dup = intercept[IllegalArgumentException] {
      v.addQueries(src, qFrame(Seq(5003L)))
    }
    assert(dup.getMessage.contains("already standing"))
    // ADVICE r13: duplicates WITHIN one addQueries call are as fatal —
    // a doubled q_id would score twice and feed duplicate
    // (q_id, doc_id) rows into the merge
    val dupIn = intercept[IllegalArgumentException] {
      v.addQueries(src, qFrame(Seq(5005L, 5005L)))
    }
    assert(dupIn.getMessage.contains("duplicate q_id"))
    assert(v.meta.snapshot().count() === 4, "rejected adds leave state untouched")
  }

  test("refresh falls back to a state-side watermark (pre-r13 migration)") {
    // ADVICE r13: views persisted BEFORE the watermark moved to the
    // meta commit carry it on state only — the refresh must take
    // max(meta, state) so such a view neither replays the source's
    // whole CDF history nor fails on vacuumed early versions.
    val src = VersionedTable.create(spark,
      graft.Scratch.dir("rrv-mig").resolve("t").toString,
      srcSchema, Map(VersionedTable.PROP_CDF -> "true"))
    src.append(docRows(400L to 420L))
    val q = qFrame(Seq(5000L))
    val v = build(src, graft.Scratch.dir("rrv-mig-v").toString, q)
    src.append(docRows(430L to 434L))
    // simulate the pre-migration layout: stamp the watermark on a
    // STATE commit (meta's still trails at the build version)
    v.state.append(v.state.snapshot().limit(0),
      txn = Some(RerankViewOps.APP -> src.latestVersion))
    assert(v.refresh(src, q) === None,
      "a state-side watermark at latest must be honored — no replay")
  }

  test("a torn refresh (state committed, meta not) converges on the next refresh") {
    val src = VersionedTable.create(spark,
      graft.Scratch.dir("rrv-torn").resolve("t").toString,
      srcSchema, Map(VersionedTable.PROP_CDF -> "true"))
    src.append(docRows(600L to 640L))
    val q = qFrame(Seq(5000L, 5001L))
    val v = build(src, graft.Scratch.dir("rrv-torn-v").toString, q)
    val wm = v.meta.lastTxn(RerankViewOps.APP)
    // a batch that spends slack: three of one query's leaders
    val leaders = got(v).filter(_._1 == 5000L).take(3).map(_._2)
    src.deleteWhere(col("doc_id").isin(leaders: _*))
    // the state commit lands, the meta commit it owes is dropped
    assert(v.buffer.refreshState(src, v.delta(src, q)).isDefined)
    assert(v.meta.lastTxn(RerankViewOps.APP) === wm,
      "a torn refresh must leave the watermark where it was")
    // retiring a query between the tear and the rerun must not hide it
    v.dropQueries(Seq(5001L))
    val q0 = qFrame(Seq(5000L))
    v.refresh(src, q0)
    assert(v.lastDerived === 1, "the rerun must re-derive the torn buffers")
    assert(got(v) === expected(src, q0))
    // the replayed validity must not overstate the buffer: each further
    // leader delete must still read the true top-K
    for (i <- 1 to 3) {
      src.deleteWhere(col("doc_id") === got(v).filter(_._1 == 5000L).head._2)
      v.refresh(src, q0)
      assert(got(v) === expected(src, q0), s"delete $i after the torn refresh")
    }
  }

  test("the refresh watermark rides the META commit (crash atomicity)") {
    // ADVICE r12: with the watermark on the state commit, a crash
    // between the state and meta merges advanced it while valid_n
    // stayed inflated — the next refresh no-op'd and buffered deletes
    // under-counted. The watermark now commits LAST, with meta, so a
    // torn refresh replays instead of silently skipping.
    val src = VersionedTable.create(spark,
      graft.Scratch.dir("rrv-wm").resolve("t").toString,
      srcSchema, Map(VersionedTable.PROP_CDF -> "true"))
    src.append(docRows(200L to 230L))
    val q = qFrame(Seq(5000L, 5001L))
    val v = build(src, graft.Scratch.dir("rrv-wm-v").toString, q)
    import RerankViewOps.APP
    assert(v.meta.lastTxn(APP) === Some(src.latestVersion),
      "build must record the watermark on meta")
    assert(v.state.lastTxn(APP) === None,
      "the state commit must NOT carry the watermark")
    src.append(docRows(300L to 305L))
    v.refresh(src, q)
    assert(v.meta.lastTxn(APP) === Some(src.latestVersion),
      "refresh must advance the meta watermark")
    assert(v.state.lastTxn(APP) === None)
    assert(got(v) === expected(src, q))
  }
}
