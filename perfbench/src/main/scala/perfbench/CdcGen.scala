package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.CdcPipeline

/** One CDC record in the reference's raw format (FIXTURES.md §1). */
final case class Rec(
    id: Long, country: String, district: String, visitSec: Long,
    numVisitors: Long, op: String, cdcMicros: Long) {

  /** The five fields the engine's `data_hash` covers: two records with the
    * same content hash alike, so the Silver UPDATE guard treats them as a
    * duplicate. */
  def sameContent(o: Rec): Boolean =
    id == o.id && country == o.country && district == o.district &&
      visitSec == o.visitSec && numVisitors == o.numVisitors
}

object Rec {
  private val visitFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val cdcFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  def visitString(r: Rec): String = visitFmt.format(Instant.ofEpochSecond(r.visitSec))
  def cdcString(r: Rec): String =
    cdcFmt.format(Instant.ofEpochSecond(r.cdcMicros / 1000000L, (r.cdcMicros % 1000000L) * 1000L))

  /** A multi-line JSON array laid out like the reference's sample file. */
  def toJson(recs: Seq[Rec]): String = {
    val sb = new java.lang.StringBuilder(recs.size * 220)
    sb.append("[\n")
    recs.iterator.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(",\n")
      sb.append("  {\n")
        .append("    \"id\": ").append(r.id).append(",\n")
        .append("    \"country\": \"").append(r.country).append("\",\n")
        .append("    \"district\": \"").append(r.district).append("\",\n")
        .append("    \"visit_timestamp\": \"").append(visitString(r)).append("\",\n")
        .append("    \"num_visitors\": ").append(r.numVisitors).append(",\n")
        .append("    \"cdc_operation\": \"").append(r.op).append("\",\n")
        .append("    \"cdc_timestamp\": \"").append(cdcString(r)).append("\"\n")
        .append("  }")
    }
    sb.append("\n]\n")
    sb.toString
  }

  /** The same records as a raw-schema DataFrame with Bronze lineage, the
    * shape `CdcPipeline.mergeBatchIntoSilver` takes. */
  def toBronzeDf(spark: SparkSession, recs: Seq[Rec]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = recs.map { r =>
      Row(r.id, r.country, r.district,
        java.sql.Timestamp.from(Instant.ofEpochSecond(r.visitSec)),
        r.numVisitors, r.op,
        java.sql.Timestamp.from(Instant.ofEpochSecond(
          r.cdcMicros / 1000000L, (r.cdcMicros % 1000000L) * 1000L)))
    }
    CdcPipeline.withLineage(spark.createDataFrame(rows.asJava, CdcPipeline.rawSchema))
  }

  /** Content checksum term of one row; the engine side computes
    * `crc32(concat_ws('|', <the same columns>))`. */
  def crc(parts: Any*): Long = {
    val c = new CRC32
    c.update(parts.mkString("|").getBytes("UTF-8"))
    c.getValue
  }
}

/** Shape of one generated CDC file. Each share is of the file's records
  * and turns into a whole count per file, so every file carries every
  * case; the records left over are INSERTs of new keys.
  *
  *  - `sameFileUpdateShare`: UPDATEs of keys INSERTed earlier in the same
  *    file;
  *  - `earlierUpdateShare`: UPDATEs of keys last changed by one of the
  *    previous `recentFiles` files (or the preload);
  *  - `deleteShare`: DELETEs of any live key;
  *  - `intraDupShare`: verbatim repeats of a record of the same file;
  *  - `interDupShare`: verbatim re-sends of the record that set the state
  *    of a key last changed by one of the previous `recentFiles` files. */
final case class BatchShape(
    records: Int,
    sameFileUpdateShare: Double,
    earlierUpdateShare: Double,
    deleteShare: Double,
    intraDupShare: Double,
    interDupShare: Double,
    recentFiles: Int) {
  def count(share: Double): Int = math.round(records * share).toInt
}

object BatchShape {
  /** The reference's two CDC files, scaled to `records` (a multiple of 20):
    * the sample file's 20 records with one record per case of the
    * edge-case file (see the benchmark's README). */
  def reference(records: Int): BatchShape = BatchShape(records,
    sameFileUpdateShare = 2.0 / 20, earlierUpdateShare = 1.0 / 20, deleteShare = 1.0 / 20,
    intraDupShare = 1.0 / 20, interDupShare = 1.0 / 20, recentFiles = 1)
}

/** Seeded, single-threaded CDC log generator. Keys follow realistic
  * lifecycles (INSERT, then UPDATEs, then an optional DELETE; a deleted key
  * is never reused), so the reference's batch semantics (dedup to the
  * latest record per id, then one 3-clause MERGE action) coincide with a
  * per-record last-writer-wins fold. Countries, districts, value ranges and
  * timestamp spacing follow the reference's sample file. */
final class CdcGen(seed: Long) {
  private val rng = new java.util.Random(seed)
  private var nextId = CdcGen.FirstId
  /** The sample file's first CDC timestamp, 2023-01-08 21:32:22 UTC, in micros. */
  private var clock = 1673213542000000L
  private val order = mutable.ArrayBuffer.empty[Long]
  private val current = mutable.HashMap.empty[Long, Rec]
  /** Keys each of the last files (the preload counts as one) changed. */
  private val recent = mutable.Queue.empty[mutable.ArrayBuffer[Long]]

  val countries: IndexedSeq[String] = IndexedSeq(
    "England", "Wales", "Scotland", "Northern Ireland", "Australia")
  val districts: IndexedSeq[String] = (1 to 10).map(i => s"District_$i")

  /** Highest key handed out so far. */
  def maxId: Long = nextId - 1

  /** CDC timestamps about 50 µs apart, as in the sample file. */
  private def tick(): Long = { clock += 1 + rng.nextInt(100); clock }

  /** A new key, visited within the day before its CDC record and with
    * 1 to 1000 visitors, the sample file's ranges. */
  private def fresh(): Rec = {
    val id = nextId
    nextId += 1
    order += id
    val cdc = tick()
    val r = Rec(id, countries(rng.nextInt(countries.size)),
      districts(rng.nextInt(districts.size)),
      cdc / 1000000L - rng.nextInt(86400), 1L + rng.nextInt(1000), "INSERT", cdc)
    current(id) = r
    r
  }

  /** Up to `n` distinct live keys from `from`, without `touched` ones. */
  private def sample(from: Iterable[Long], n: Int, touched: Long => Boolean): Seq[Long] = {
    val c = from.iterator.filter(id => current.contains(id) && !touched(id)).toArray
    for (i <- 0 until math.min(n, c.length)) {
      val j = i + rng.nextInt(c.length - i)
      val t = c(i); c(i) = c(j); c(j) = t
    }
    c.take(n).toSeq
  }

  private def remember(ids: Iterable[Long], files: Int): Unit = {
    recent.enqueue(mutable.ArrayBuffer.from(ids))
    while (recent.size > files) recent.dequeue()
  }

  /** `n` INSERTs of new keys: the untimed preload. */
  def inserts(n: Int): Vector[Rec] = {
    val out = Vector.fill(n)(fresh())
    remember(out.map(_.id), 1)
    out
  }

  /** One CDC file of `shape`, records in shuffled order. */
  def batch(shape: BatchShape): Vector[Rec] = {
    import shape.count
    val nSame = count(shape.sameFileUpdateShare)
    val nEarlier = count(shape.earlierUpdateShare)
    val nDelete = count(shape.deleteShare)
    val nIntra = count(shape.intraDupShare)
    val nInter = count(shape.interDupShare)
    val out = mutable.ArrayBuffer.empty[Rec]
    val touched = mutable.HashSet.empty[Long]
    def emit(r: Rec): Unit = { out += r; touched += r.id }
    def update(id: Long): Unit = {
      val c = current(id)
      var nv = 1L + rng.nextInt(1000)
      while (nv == c.numVisitors) nv = 1L + rng.nextInt(1000)
      val r = c.copy(numVisitors = nv, op = "UPDATE", cdcMicros = tick())
      current(id) = r
      emit(r)
    }
    val earlier = recent.flatten.toSeq
    val inserted = Vector.fill(shape.records - nSame - nEarlier - nDelete - nIntra - nInter) {
      val r = fresh(); emit(r); r.id
    }
    sample(inserted, nSame, _ => false).foreach(update)
    sample(earlier, nEarlier, touched).foreach(update)
    var deletes = 0
    var tries = 0
    while (deletes < nDelete && tries < 32 * nDelete) {
      val id = order(rng.nextInt(order.size))
      if (current.contains(id) && !touched(id)) {
        emit(current(id).copy(op = "DELETE", cdcMicros = tick()))
        current -= id
        deletes += 1
      }
      tries += 1
    }
    sample(earlier, nInter, touched).foreach(id => emit(current(id)))
    for (_ <- 0 until nIntra if out.nonEmpty) out += out(rng.nextInt(out.size))
    remember(touched, shape.recentFiles)
    val shuffled = out.toArray
    for (i <- shuffled.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
    }
    shuffled.toVector
  }
}

object CdcGen {
  /** Generated keys start above the reference fixtures' ids. */
  val FirstId = 1000L
}

/** Change-feed rows one batch produced, per `_change_type`: (rows, Σ num_visitors). */
final case class ChangeSummary(byType: Map[String, (Long, Long)]) {
  def rows: Long = byType.values.map(_._1).sum
  def +(o: ChangeSummary): ChangeSummary = ChangeSummary(
    (byType.keySet ++ o.byType.keySet).map { k =>
      val (a, b) = byType.getOrElse(k, (0L, 0L))
      val (c, d) = o.byType.getOrElse(k, (0L, 0L))
      k -> (a + c, b + d)
    }.toMap)
}

/** Engine-independent reference model of Silver. `apply` folds a batch
  * twice: as the per-record last-writer-wins fold (the state) and as the
  * reference's batch semantics (the change feed); the two must agree on
  * the resulting state, which checks the generator's lifecycle rules. */
final class Model {
  val rows: mutable.HashMap[Long, Rec] = mutable.HashMap.empty

  def apply(batch: Seq[Rec]): ChangeSummary = {
    val changes = mutable.HashMap.empty[String, (Long, Long)]
    def emit(t: String, r: Rec): Unit = {
      val (n, s) = changes.getOrElse(t, (0L, 0L))
      changes(t) = (n + 1, s + r.numVisitors)
    }
    val lww = mutable.HashMap.empty[Long, Option[Rec]]
    batch.sortBy(_.cdcMicros).foreach { r =>
      val cur = lww.getOrElse(r.id, rows.get(r.id))
      lww(r.id) = r.op match {
        case "DELETE" => None
        case "INSERT" => cur.orElse(Some(r))
        case _ => Some(r)
      }
    }
    batch.groupBy(_.id).foreach { case (id, recs) =>
      val last = recs.maxBy(_.cdcMicros)
      val after = (rows.get(id), last.op) match {
        case (Some(c), "DELETE") => emit("delete", c); None
        case (None, "DELETE") => None
        case (Some(c), "UPDATE") if !c.sameContent(last) =>
          emit("update_preimage", c); emit("update_postimage", last); Some(last)
        case (Some(c), _) => Some(c)
        case (None, _) => emit("insert", last); Some(last)
      }
      val folded = lww(id)
      require(after.map(_.numVisitors) == folded.map(_.numVisitors) &&
        after.map(_.country) == folded.map(_.country),
        s"generator broke the lifecycle model at id $id")
      after match {
        case Some(r) => rows(id) = r
        case None => rows -= id
      }
    }
    ChangeSummary(changes.toMap)
  }

  def checksum: (Long, Long) =
    (rows.size.toLong, rows.valuesIterator.map(r =>
      Rec.crc(r.id, r.country, r.district, r.numVisitors)).sum)

  def gold: Map[String, Long] =
    rows.valuesIterator.toSeq.groupMapReduce(_.country)(_.numVisitors)(_ + _)

  /** (country → (Σ num_visitors, rows)): the time-travel read's answer. */
  def countryAgg: Map[String, (Long, Long)] =
    rows.valuesIterator.toSeq.groupMapReduce(_.country)(r => (r.numVisitors, 1L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
}
