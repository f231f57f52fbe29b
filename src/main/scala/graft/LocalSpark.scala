package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.SQLConf

/** The local-mode session configuration every main and the test suite
  * share: `cores` task threads and as many shuffle partitions, UTC
  * session time, nanosecond parquet timestamps read as longs (see
  * [[Tables.events]]), no UI, and the engine's two JVM-level settings:
  *   - Spark's generated-code cache sized by [[CodegenCache.MaxEntries]];
  *   - the engine's fork-free local filesystem ([[LocalFs]]) as the
  *     `file:` FileSystem and `FileContext` filesystem, through
  *     `spark.hadoop.fs.file.impl` and
  *     `spark.hadoop.fs.AbstractFileSystem.file.impl`.
  *
  * Sessions a host builds get both when the engine attaches to them
  * ([[attach]]). */
object LocalSpark {
  def builder(cores: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(CodegenCache.Key, CodegenCache.MaxEntries.toLong)
    LocalFs.Conf.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    b
  }

  private var attached = false

  /** The engine's attach step on a host's session, run once per JVM by
    * each host entry point (`GraftFunctions.registerTableChanges`, the
    * `GraftExtensions` parser, `GraftSparkCatalog.initialize`):
    *   - sizes the generated-code cache ([[CodegenCache.initialize]]),
    *     unless the host's SparkConf sets the size; writes no conf;
    *   - installs the engine's local filesystem ([[LocalFs.install]]) by
    *     setting its two keys on the session's Hadoop conf, unless the
    *     host's conf names either key itself. A stream builds its
    *     `FileContext` from that conf at every start, so a key in it is
    *     the only way in; this is the one thing the engine writes into a
    *     host's conf. A `file:` FileSystem Hadoop already cached is
    *     replaced at the next lookup. */
  def attach(spark: SparkSession): Unit = synchronized {
    if (!attached) {
      attached = true
      CodegenCache.initialize(spark)
      LocalFs.install(spark.sparkContext.hadoopConfiguration)
    }
  }
}

/** Size of Spark's JVM-wide cache of generated classes.
  *
  * Spark keeps the classes it generates for whole-stage codegen and
  * projections in one LRU cache per JVM, of `Key` entries (default 100).
  * Every micro-batch cycle of the engine re-runs the same Bronze append,
  * Silver MERGE, Gold fold and view refreshes, and one cycle needs more
  * than 100 classes, so at the default every cycle compiles its plans
  * again. `MaxEntries` holds the largest distinct set measured in one JVM:
  * the ~4 700 classes of `graft.Bench`'s 239 rows, whose timed
  * pass then compiles 52 classes instead of 8 980, for ~28 MB more
  * metaspace and ~30 MB more code cache. A perfbench serve, trickle or
  * bulk run needs under 400 (189 compiles per serve cycle at the default,
  * 8-12 at `MaxEntries`).
  *
  * The size is a static conf read once, when `CodeGenerator`'s object
  * initializes, so it reaches a JVM by one of two routes:
  *   - sessions the engine builds set it in [[LocalSpark.builder]];
  *   - sessions a host builds (a notebook's session, a harness) get it
  *     from [[LocalSpark.attach]], which the engine's host entry points
  *     call. */
object CodegenCache {
  val Key = "spark.sql.codegen.cache.maxEntries"
  val MaxEntries = 5000

  /** Unless the host's SparkConf sets [[Key]] (then the host's value
    * wins), initializes `CodeGenerator` under a conf holding
    * [[MaxEntries]]. Writes nothing into the host's session conf. Has no
    * effect when `CodeGenerator` already initialized (its cache is
    * sized). */
  private[graft] def initialize(spark: SparkSession): Unit =
    if (!spark.sparkContext.getConf.contains(Key)) {
      val conf = new SQLConf
      conf.setConfString(Key, MaxEntries.toString)
      // the first reference to the object initializes it, and its cache
      // takes the size of the conf active at that moment
      SQLConf.withExistingConf(conf)(CodeGenerator)
    }
}
