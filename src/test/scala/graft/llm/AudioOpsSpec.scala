package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}

/** Audio-modality operators: the REAL javax.sound WAV codec round
  * trip, decoded-feature reconciliation against a direct recompute
  * from the source text, and the energy-difference fingerprint dedup
  * finding exactly the planted near-dup waveforms. */
class AudioOpsSpec extends SparkSpec {

  test("WAV codec round-trips the synthesized PCM exactly") {
    val payload = "The quick brown fox jumps over the lazy dog, repeatedly."
      .getBytes("US-ASCII")
    val pcm = AudioCodec.synthPcm(payload)
    assert(pcm.length === AudioCodec.nSamples(payload.length))
    val wav = AudioCodec.encodeWav(pcm)
    // RIFF/WAVE container magic off the real writer
    assert(new String(wav.slice(0, 4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    // determinism: byte-identical on re-encode
    assert(java.util.Arrays.equals(wav, AudioCodec.encodeWav(pcm)))
    val dec = AudioCodec.decodeWav(wav)
    assert(dec.sampleRate === AudioCodec.SAMPLE_RATE)
    assert(dec.nSamples === pcm.length)
    assert(dec.samples.toSeq === pcm.toSeq,
      "decode must return the exact PCM the encoder was given")
    // the synthesis formula: tiled, centered, scaled content bytes
    assert(dec.samples(0) === ((payload(0) & 0xff) - 128) * AudioCodec.SCALE)
    assert(dec.samples(payload.length) === dec.samples(0), "tiling")
  }

  test("fingerprint grid is the windowed energy profile of the decoded stream") {
    val payload = ("abcdefgh" * 50).getBytes("US-ASCII")
    val wav = AudioCodec.encodeWav(AudioCodec.synthPcm(payload))
    val fp = AudioCodec.fingerprint(wav)
    assert(fp.grid.length === AudioCodec.GRID_N)
    assert(fp.bands.length === AudioCodec.FP_ROWS)
    val dec = AudioCodec.decodeWav(wav)
    // window 0 = sum |s| over the first WIN samples
    val e0 = (0 until AudioCodec.WIN).map(i => math.abs(dec.samples(i).toLong)).sum
    assert(fp.grid(0) === e0)
    // every band word stays inside 16 bits (the multi-index split)
    assert(fp.bands.forall(b => b >= 0 && b < 65536))
  }

  test("q_audio_features reconciles against a direct recompute from text") {
    val out = SparkEntry.queries("q_audio_features")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    val docs = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text")).collect()
    assert(out.size === docs.length)
    docs.take(50).foreach { r =>
      val id = r.getLong(0)
      val bytes = r.getString(1).getBytes("US-ASCII")
      val ns = AudioCodec.nSamples(bytes.length)
      val amps = (0 until ns).map(i =>
        math.abs(((bytes(i % bytes.length) & 0xff) - 128).toLong) * AudioCodec.SCALE)
      val row = out(id)
      assert(row.getLong(1) === ns.toLong, s"n_samples doc $id")
      assert(row.getLong(2) === AudioCodec.SAMPLE_RATE.toLong)
      assert(row.getLong(3) === (ns / 8).toLong, s"duration_ms doc $id")
      assert(row.getLong(4) === amps.sum, s"amp_sum doc $id")
      assert(row.getLong(5) === amps.max, s"peak_amp doc $id")
      assert(row.getDouble(6) === amps.sum.toDouble / ns, s"mean_amp doc $id")
    }
  }

  test("audio dedup finds exactly the planted near-dup waveforms") {
    val out = SparkEntry.queries("q_audio_dedup")(spark, sf).collect()
    val eligible = Tables.documents(spark, sf)
      .filter(col("doc_id") % 25 === 0 && length(col("text")) >= 300)
      .count()
    assert(eligible > 0, "fixture needs planted-eligible docs")
    // this corpus has no natural audio near-dups at sf0.001, so the
    // output is exactly the planted set — every pair is (d, d + 10^6)
    assert(out.length === eligible.toInt)
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) + 1000000L, s"pair $r")
      assert(r.getLong(0) % 25 === 0)
      assert(r.getLong(2) <= 7, s"hamming gate $r")
      assert(r.getLong(3) <= AudioCodec.GRID_N * 1200L, s"energy gate $r")
    }
  }

  test("un-renderable docs (empty text) are filtered, not crashed") {
    import spark.implicits._
    val docs = Seq((1L, "some genuinely long enough text to synthesize"),
      (2L, "")).toDF("doc_id", "text")
    val feats = AudioOps.decodeAudioFeatures(docs).collect()
    assert(feats.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("audio-hash index: update re-fingerprints a document; empty docs " +
      "index a null signature; delta pairs come from pairsFor; DDL " +
      "round-trips") {
    import spark.implicits._
    import graft.table.VersionedTable
    import org.apache.spark.sql.types._
    import java.nio.file.Files
    val base = Files.createTempDirectory("aud-index")
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    // same length → same duration; a 1-byte edit perturbs ≤ a handful
    // of energy windows (measured hamming 1 on this text), the
    // q_audio_dedup planting
    val words = ("the quick brown fox jumps over the lazy dog and then " +
      "sits down beside the river to watch the water flow gently past " +
      "the old stone bridge ")
    val t = (words * 3).substring(0, 300)
    src.append(Seq(
      (1L, t),
      (2L, "z" + t.substring(1)),
      (3L, "")).toDF("doc_id", "text"))
    // build through the SQL DDL surface; method must round-trip
    graft.catalog.GraftSql.execute(spark,
      s"CREATE SIGNATURE INDEX '$base/idx' ON '$base/src' (text) USING AFP")
    val idx = AudioHashIndex.load(spark, s"$base/idx")
    val desc = graft.catalog.GraftSql.execute(spark,
      s"DESCRIBE INDEX '$base/idx'")
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("method") === "afp")

    assert(idx.table.snapshot().count() === 3L)
    assert(idx.table.snapshot().filter($"doc_id" === 3 && $"bands".isNull)
      .count() === 1L, "un-synthesizable doc must index a NULL signature")
    assert(idx.pairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      .toSet === Set((1L, 2L)))
    // the steady-state delta query returns the same pair for either side
    assert(idx.pairsFor(Seq(2L).toDF("doc_id"))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      .toSet === Set((1L, 2L)))

    // an UPDATE re-fingerprints: make doc 2 an unrelated waveform
    src.updateWhere($"doc_id" === 2,
      Map("text" -> org.apache.spark.sql.functions.lit(
        "entirely different content, other length")))
    assert(idx.refresh(src).isDefined)
    assert(idx.table.latestManifest.addedFiles.size <= IncrementalIndex.BUCKETS,
      "one-doc refresh must stay bucket-bounded")
    assert(idx.pairs.isEmpty)

    // shrinking a doc to empty clears its signature (total derivation)
    src.updateWhere($"doc_id" === 1,
      Map("text" -> org.apache.spark.sql.functions.lit("")))
    idx.refresh(src)
    assert(idx.table.snapshot().filter($"doc_id" === 1 && $"bands".isNull)
      .count() === 1L)

    // idempotence: nothing new → no commit
    val v = idx.table.latestVersion
    assert(idx.refresh(src).isEmpty)
    assert(idx.table.latestVersion === v)
    VersionedTable.deleteRecursively(base)
  }

  test("audio-hash index rides the continuous-maintenance stream exactly-once") {
    // the signature families get the same startIndexMaintenance drain
    // contract as the vector fleet and the BM25 chain: the stream is a
    // wake-up signal, the index's txn watermark makes refresh
    // idempotent, and post-drain pairs equal a batch recompute
    import spark.implicits._
    import graft.table.VersionedTable
    import org.apache.spark.sql.types._
    import java.nio.file.Files
    val base = Files.createTempDirectory("aud-stream")
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val src = VersionedTable.create(spark, s"$base/src", srcSchema,
      Map(VersionedTable.PROP_CDF -> "true"))
    val docs = Tables.documents(spark, sf)
      .filter($"doc_id" < 60).select($"doc_id", $"text")
    src.append(docs.filter($"doc_id" % 2 === 0))
    val idx = AudioHashIndex.build(src, s"$base/idx")

    src.append(docs.filter($"doc_id" % 2 === 1))
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => idx.refresh(src), s"$base/_cp")
      .awaitTermination()
    val viaIndex = idx.pairs
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaBatch = AudioOps.afpPairsFromSignatures(
        AudioOps.audioFingerprints(src.snapshot()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaIndex === viaBatch,
      "post-drain pairs must equal a batch recompute")
    val batch = AudioOps.audioFingerprints(src.snapshot())
      .collect().map(r => r.getLong(0)).toSet
    assert(idx.table.snapshot().filter($"bands".isNotNull)
      .select($"doc_id").as[Long].collect().toSet === batch,
      "post-drain signatures must cover exactly the synthesizable docs")

    // restart with nothing new: checkpoint + watermark → no commit
    val v = idx.table.latestVersion
    graft.streaming.CdcStreams
      .startIndexMaintenance(spark, src, () => idx.refresh(src), s"$base/_cp")
      .awaitTermination()
    assert(idx.table.latestVersion === v,
      "an empty drain must commit nothing")
    VersionedTable.deleteRecursively(base)
  }
}
