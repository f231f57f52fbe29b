package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Streaming schema inference with hints and a persisted schema log —
  * the reference's Autoloader configuration
  * (`cloudFiles.inferColumnTypes=true` + `schemaHints` + a persisted
  * `schemaLocation`, /root/reference/notebooks/demo-notebook.py:163-166)
  * re-expressed over vanilla Spark (SURVEY §7.5 risk 6):
  *
  *   - '''inference''' is a BATCH pass over the landing directory (a
  *     vanilla file STREAM cannot infer), run at every Bronze start, a
  *     restart over a persisted log included (drift detection needs
  *     it). It reads the most recent [[MaxInferFiles]] files,
  *     Autoloader's sampling guard, so its cost is capped but grows
  *     with landing history up to the cap: one `json` job of 109-170 ms
  *     per perfbench trickle cycle at 8-12 landing files (ROADMAP open
  *     items);
  *   - '''hints''' override the inferred type for any column they name
  *     (and contribute the column outright when inference never saw it),
  *     exactly Autoloader's hint semantics — inference only ever decides
  *     columns the hints left open;
  *   - '''persistence''': the resolved schema is written to a versioned
  *     log (`<schemaLocation>/v0.json`, `v1.json`, …) beside the
  *     checkpoint, and restarts load it back, so a restart never
  *     re-decides types under different data;
  *   - '''drift''': on restart the landing dir is re-inferred and any
  *     NEW columns are appended to the persisted schema as a new log
  *     version (Autoloader's `addNewColumns`) — existing column types
  *     never change (that would corrupt readers of already-written
  *     files); a dropped column keeps its slot and reads null.
  *
  * The schema log is tiny (one JSON document per evolution) and written
  * via temp-file + atomic move, so a crash mid-write never leaves a
  * truncated version for the next restart to load.
  */
object SchemaTracker {

  /** Inference sampling bound: only the newest N files are read for
    * type inference / drift detection (Autoloader defaults to a similar
    * file cap). Correctness is unaffected — hints pin the known
    * columns, and a new column missing from the sample is picked up on
    * the next restart after more files land. */
  val MaxInferFiles = 1000

  /** Resolve the stream's schema: load the persisted log if present,
    * infer otherwise, apply hints, detect drift, persist the result.
    * Returns the schema the stream should read with. */
  def resolve(
      spark: SparkSession,
      landingDir: String,
      hints: StructType,
      schemaLocation: String,
      jsonOptions: Map[String, String] = Map.empty): StructType = {
    val loc = Paths.get(schemaLocation)
    Files.createDirectories(loc)
    val inferred = inferLanding(spark, landingDir, jsonOptions)
    val resolved = latest(loc) match {
      case None =>
        merge(inferred.getOrElse(StructType(Nil)), hints)
      case Some((_, persisted)) =>
        // drift: append columns inference found that the persisted
        // schema (which already embeds the hints) does not know —
        // persisted columns keep their slot AND their type
        inferred.map(appendNew(persisted, _)).getOrElse(persisted)
    }
    persistIfNew(loc, resolved)
    resolved
  }

  /** One-shot bounded batch inference over the landing dir; None when
    * the dir has no files yet (first start on an empty landing zone —
    * the hints alone carry the schema, as in a vanilla stream). */
  private def inferLanding(
      spark: SparkSession,
      landingDir: String,
      jsonOptions: Map[String, String]): Option[StructType] = {
    val dir = Paths.get(landingDir)
    if (!Files.isDirectory(dir)) return None
    val files = listDir(dir)
      .filter(Files.isRegularFile(_))
      .sortBy(p => Files.getLastModifiedTime(p).toMillis)
      .takeRight(MaxInferFiles)
    if (files.isEmpty) None
    else Some(
      spark.read
        .options(jsonOptions)
        .json(files.map(_.toString): _*)
        .schema)
  }

  /** Drift evolution: `stable`'s columns keep their slot and type;
    * columns only `incoming` knows are appended with their inferred
    * type (Autoloader's `addNewColumns`). */
  private[streaming] def appendNew(stable: StructType, incoming: StructType): StructType = {
    val known = stable.fields.map(_.name.toLowerCase).toSet
    StructType(stable.fields ++
      incoming.fields.filterNot(f => known(f.name.toLowerCase)))
  }

  /** First-start hint application: `overrides` (the hints) wins per
    * column name (case-insensitive, Spark's resolution default);
    * `base`-only (inference-only) columns keep their inferred type and
    * order; hint-only columns are appended in hint order. */
  private[streaming] def merge(base: StructType, overrides: StructType): StructType = {
    val byName = overrides.fields.map(f => f.name.toLowerCase -> f).toMap
    val kept = base.fields.map(f => byName.getOrElse(f.name.toLowerCase, f))
    val keptNames = base.fields.map(_.name.toLowerCase).toSet
    val appended = overrides.fields.filterNot(f => keptNames(f.name.toLowerCase))
    StructType(kept ++ appended)
  }

  // ----------------------------------------------------- schema log I/O

  private def listDir(dir: Path): Vector[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getFileName.toString
    if (n.startsWith("v") && n.endsWith(".json"))
      n.stripPrefix("v").stripSuffix(".json").toLongOption
    else None
  }

  /** Latest persisted (version, schema), if any. */
  def latest(loc: Path): Option[(Long, StructType)] = {
    if (!Files.isDirectory(loc)) return None
    val versions = listDir(loc).flatMap(p => versionOf(p).map(_ -> p))
    if (versions.isEmpty) None
    else {
      val (v, p) = versions.maxBy(_._1)
      Some(v -> DataType.fromJson(Files.readString(p)).asInstanceOf[StructType])
    }
  }

  /** Append a new log version iff `schema` differs from the latest
    * (field names + types; metadata ignored). Atomic temp+move. */
  private def persistIfNew(loc: Path, schema: StructType): Unit = {
    val current = latest(loc)
    val changed = current.forall { case (_, s) => !sameShape(s, schema) }
    if (changed) {
      val next = current.map(_._1 + 1).getOrElse(0L)
      val tmp = Files.createTempFile(loc, s".v$next", ".tmp")
      Files.writeString(tmp, schema.json)
      Files.move(tmp, loc.resolve(s"v$next.json"),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).toSeq ==
      b.fields.map(f => (f.name, f.dataType)).toSeq
}
