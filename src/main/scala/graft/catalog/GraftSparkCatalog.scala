package graft.catalog

import java.nio.file.{Files, Paths}
import java.util
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.VersionedTable

/** Translates Spark's pushed `sources.Filter` algebra (the shape DSv2
  * hands `SupportsDelete`) back into `Column` predicates for the
  * engine's row-level DML. Unsupported shapes return None so
  * `canDeleteWhere` can refuse and Spark reports a clean error. */
private object FilterColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.sources._

  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (a <- translate(l); b <- translate(r)) yield a && b
    case Or(l, r) => for (a <- translate(l); b <- translate(r)) yield a || b
    case Not(c) => translate(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

/** File-skipping scan builder for bucketed (CoW) tables: when the
  * pushed predicates pin every bucket key to a literal (`WHERE id = 7`
  * point lookups), the key hash is computed driver-side and the scan is
  * rebuilt over ONLY the files whose manifest (bucket, key-hash range)
  * can contain that key — the same per-file stats the merge engine
  * prunes with, now applied to SQL reads. At 100 TB this turns a point
  * lookup from "open every footer" into "open one file". All other
  * shapes delegate untouched to the parquet builder (full pushdown /
  * pruning semantics preserved — the pushed filters are replayed onto
  * the rebuilt scan, so parquet row-group skipping still applies within
  * the surviving files). */
private class HashPruningScanBuilder(
    vt: VersionedTable,
    manifest: graft.table.CommitManifest,
    fullTable: Table,
    options: CaseInsensitiveStringMap,
    mkTable: Seq[String] => Table)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualTo, Expression, Literal, Murmur3Hash}
  import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder

  private def builderOf(t: Table): FileScanBuilder =
    t.asInstanceOf[SupportsRead].newScanBuilder(options).asInstanceOf[FileScanBuilder]

  private val template = builderOf(fullTable)
  private var caught: Seq[Expression] = Nil
  private var required: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    caught = filters
    template.pushFilters(filters)
  }
  override def pushedFilters:
      Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    template.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
    template.pruneColumns(requiredSchema)
  }

  override def build(): org.apache.spark.sql.connector.read.Scan =
    prunedPaths() match {
      case Some(paths) =>
        val b = builderOf(mkTable(paths))
        b.pushFilters(caught)
        required.foreach(b.pruneColumns)
        b.build()
      case None => template.build()
    }

  /** Some iff skipping removed at least one file: hash-range pruning
    * when every bucket key is pinned by an equality literal, plus
    * column-stats evaluation of every pushed conjunct. */
  private def prunedPaths(): Option[Seq[String]] = {
    val conjuncts = caught.flatMap(graft.table.FileSkipping.splitConjuncts)
    val schema = manifest.schema

    val hashPruned = (for {
      keys <- manifest.bucketKeys
      n <- manifest.numBuckets
      eq = conjuncts.collect {
        case EqualTo(a: AttributeReference, l: Literal) => a.name -> l
        case EqualTo(l: Literal, a: AttributeReference) => a.name -> l
      }.toMap
      if keys.forall(eq.contains)
    } yield {
      // the exact hash the write path clustered by: murmur3(keys, seed 42)
      val h = Murmur3Hash(keys.map(eq), 42).eval(null).asInstanceOf[Int]
      val b = math.floorMod(h, n)
      manifest.dataFiles.filter(f =>
        f.bucket.forall(_ == b) && f.mayContainHash(h.toLong))
    }).getOrElse(manifest.dataFiles)

    val pruned = hashPruned.filter(f =>
      conjuncts.forall(c => graft.table.FileSkipping.mayMatch(c, f, schema)))
    if (pruned.size < manifest.dataFiles.size)
      Some(pruned.map(f => vt.root.resolve(f.path).toString))
    else None
  }
}

/** DataSourceV2 catalog over the versioned table layer — registers as
  * `spark.sql.catalog.<name> = graft.catalog.GraftSparkCatalog` (plus
  * `...<name>.warehouse = <dir>`), giving the reference's SQL surface
  * natively:
  *
  * {{{
  *   CREATE TABLE graft.db.t (id BIGINT, v STRING)          -- D1/D2
  *   SELECT * FROM graft.db.t                               -- latest snapshot
  *   SELECT * FROM graft.db.t VERSION AS OF 1               -- S8 time travel
  *   DROP TABLE graft.db.t
  * }}}
  *
  * Reads hand Spark the version's concrete parquet directories through
  * the built-in parquet v2 table, so predicate pushdown, column pruning
  * and vectorized scanning all apply — the catalog adds name resolution
  * and time travel, not a bespoke reader. Writes go through the
  * engine's transactional API ([[graft.table.Merge]] /
  * `VersionedTable.append`), not INSERT, mirroring Delta's
  * "reads are open, writes are transactional" split at demo scale.
  */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces {
  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse("/tmp/graft-warehouse")
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(graft.LocalSpark.attach)
  }

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace() :+ ident.name()).mkString("/")

  private def nsPath(ns: Array[String]) = Paths.get((warehouse +: ns).mkString("/"))

  private def parquetTable(
      name: String, paths: Seq[String], schema: StructType): Table =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      CaseInsensitiveStringMap.empty(),
      paths,
      Some(schema),
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])

  /** Version read with manifest-stats file skipping: scans (current or
    * time-travel) prune files by key-hash range and column min/max.
    *
    * A version whose manifest carries deletion vectors (merge-on-read
    * DELETE) cannot be served by a raw parquet scan — tombstoned rows
    * would resurrect. Such reads are rewritten onto the engine's
    * DV-subtracting anti-join by [[MorScanRewrite]] (installed via
    * `spark.sql.extensions=graft.functions.GraftExtensions`); without
    * the extension the scan fails LOUDLY here instead of returning
    * deleted rows. */
  private def parquetRead(ident: Identifier, t: VersionedTable, v: Long): Table = {
    val m = t.manifest(v)
    val inner = parquetTable(ident.toString, t.snapshotPathsAt(v), m.schema)
    new Table with SupportsRead with DvRead {
      override def dvTable: Option[(VersionedTable, Long)] =
        if (m.dataFiles.exists(_.dvs.nonEmpty)) Some((t, v)) else None
      override def name(): String = inner.name()
      override def schema(): StructType = m.schema
      override def capabilities(): util.Set[TableCapability] =
        Set(TableCapability.BATCH_READ).asJava
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
        require(dvTable.isEmpty,
          s"${ident.toString} v$v has merge-on-read deletion vectors; SQL reads " +
            "require spark.sql.extensions=graft.functions.GraftExtensions " +
            "(which subtracts tombstones), VersionedTable.snapshot(), or " +
            "OPTIMIZE to materialize the deletes")
        new HashPruningScanBuilder(t, m, inner, options,
          paths => parquetTable(inner.name(), paths, m.schema))
      }
    }
  }

  private def versioned(ident: Identifier): VersionedTable = {
    val p = tablePath(ident)
    if (!VersionedTable.exists(p)) throw new NoSuchTableException(ident)
    VersionedTable.load(spark, p)
  }

  override def loadTable(ident: Identifier): Table = {
    val t = versioned(ident)
    new GraftV2Table(t, parquetRead(ident, t, t.latestVersion))
  }

  /** `VERSION AS OF v` resolves here (DSv2 time-travel API); historical
    * versions are read-only. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = versioned(ident)
    parquetRead(ident, t, version.toLong)
  }

  /** `TIMESTAMP AS OF ts` — Spark hands micros since epoch; resolved to
    * the latest version committed at or before it (commit timestamps
    * are strictly monotonic, so the mapping is unambiguous). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = versioned(ident)
    parquetRead(ident, t, t.versionAt(timestamp / 1000L))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!Files.isDirectory(p)) throw new NoSuchNamespaceException(namespace)
    Using.resource(Files.list(p)) { s =>
      s.iterator.asScala
        .filter(d => VersionedTable.exists(d.toString))
        .map(d => Identifier.of(namespace, d.getFileName.toString))
        .toArray
    }
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // `PARTITIONED BY (col, ...)` — identity transforms only (hive
    // layout + manifest partition pruning); bucketing stays an API
    // concern (BucketSpec), as Delta's clustering options do
    val pcols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references().length == 1 &&
          t.references().head.fieldNames().length == 1 =>
        t.references().head.fieldNames().head
      case other => throw new UnsupportedOperationException(
        s"only PARTITIONED BY (col) identity transforms are supported: $other")
    }
    // drop Spark-injected reserved/engine props; keep user properties
    val userProps = properties.asScala.toMap
      .filter { case (k, _) => !k.startsWith("option.") &&
        k != TableCatalog.PROP_OWNER && k != TableCatalog.PROP_PROVIDER &&
        k != TableCatalog.PROP_LOCATION && k != TableCatalog.PROP_EXTERNAL }
    VersionedTable.create(spark, tablePath(ident), schema, userProps,
      partitionBy = if (pcols.isEmpty) None else Some(pcols))
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD COLUMNS` — additive, nullable schema evolution
    * committed as a metadata-only version; existing data files are
    * inherited and read the new columns as null. Other alterations are
    * rejected (narrowing/renames would invalidate inherited files). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = versioned(ident)
    val newFields = changes.collect {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "only top-level ADD COLUMNS is supported")
        StructField(add.fieldNames().head, add.dataType(), nullable = true)
    }
    val newProps = changes.collect {
      case sp: TableChange.SetProperty => sp.property() -> sp.value()
    }
    changes.foreach {
      case _: TableChange.AddColumn | _: TableChange.SetProperty =>
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported: $other")
    }
    if (newFields.nonEmpty)
      t.evolveSchema(StructType(t.schema.fields ++ newFields))
    if (newProps.nonEmpty) t.setProperties(newProps.toMap)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    val existed = VersionedTable.exists(p)
    if (existed) VersionedTable.drop(p)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!VersionedTable.exists(tablePath(oldIdent)))
      throw new NoSuchTableException(oldIdent)
    Files.move(Paths.get(tablePath(oldIdent)), Paths.get(tablePath(newIdent)))
  }

  // ----------------------------------------------------- namespaces (D1)

  /** Current-version table handle: reads delegate to the parquet v2
    * table (pushdown intact); `INSERT INTO` appends through the
    * transactional layer via the DSv2→V1 write bridge — a new commit
    * per insert, CDF rows included (bucketed CoW tables reject INSERT:
    * they are maintained by MERGE); `INSERT OVERWRITE` and
    * `INSERT INTO … REPLACE WHERE` run the atomic
    * [[VersionedTable.overwriteWhere]]; `DELETE FROM ... WHERE` maps the
    * pushed source filters onto the engine's touched-file-scoped
    * [[VersionedTable.deleteWhere]]. (SQL UPDATE is served by the
    * [[GraftSqlParser]] statement, which maps onto `updateWhere`
    * without Spark's row-level-operation framework.) */
  private class GraftV2Table(vt: VersionedTable, read: Table)
      extends Table with SupportsRead with SupportsWrite
      with org.apache.spark.sql.connector.catalog.SupportsDelete
      with DvRead {
    override def dvTable: Option[(VersionedTable, Long)] =
      read.asInstanceOf[DvRead].dvTable
    override def name(): String = read.name()
    override def schema(): StructType = vt.schema
    override def partitioning(): Array[Transform] =
      vt.partitionKeys.fold(Array.empty[Transform])(_.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray)
    override def properties(): util.Map[String, String] = vt.properties.asJava
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
        TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE).asJava
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      read.asInstanceOf[SupportsRead].newScanBuilder(options) // pruning-aware
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      // SupportsOverwrite (⊃ SupportsTruncate) routes both
      // `INSERT OVERWRITE` (truncate = overwrite AlwaysTrue) and
      // `INSERT INTO … REPLACE WHERE <cond>` onto the engine's atomic
      // [[VersionedTable.overwriteWhere]]; a plain INSERT INTO appends.
      new WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsOverwrite {
        private var overwriteFilters: Option[Array[sources.Filter]] = None
        override def canOverwrite(filters: Array[sources.Filter]): Boolean =
          filters.forall(f => FilterColumns.translate(f).isDefined)
        override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
          overwriteFilters = Some(filters)
          this
        }
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                overwriteFilters match {
                  case Some(filters) =>
                    val cond = filters.toSeq
                      .map(f => FilterColumns.translate(f).getOrElse(
                        throw new UnsupportedOperationException(
                          s"untranslatable overwrite filter $f")))
                      .reduceOption(_ && _)
                      .getOrElse(org.apache.spark.sql.functions.lit(true))
                    vt.overwriteWhere(cond, data)
                  case None =>
                    require(!overwrite, "unplanned overwrite write")
                    vt.append(data)
                }
                ()
              }
            }
        }
      }
    override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
      filters.forall(f => FilterColumns.translate(f).isDefined)
    override def deleteWhere(filters: Array[sources.Filter]): Unit = {
      val cond = filters.toSeq.map(f => FilterColumns.translate(f).getOrElse(
          throw new UnsupportedOperationException(s"untranslatable filter $f")))
        .reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      vt.deleteWhere(cond)
      ()
    }
  }

  override def listNamespaces(): Array[Array[String]] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) Array.empty
    else Using.resource(Files.list(root)) { s =>
      s.iterator.asScala
        .filter(Files.isDirectory(_))
        .map(d => Array(d.getFileName.toString))
        .toArray
    }
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(nsPath(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!Files.isDirectory(p)) return false
    if (!cascade && Using.resource(Files.list(p))(_.iterator.asScala.nonEmpty))
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    VersionedTable.deleteRecursively(p)
    true
  }
}
