package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, FsConstants}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The engine's JVM-level settings hold on both routes into a session:
  * sessions built by [[LocalSpark.builder]], and a host's plain session
  * the engine attaches to ([[LocalSpark.attach]]) through each of its
  * host entry points.
  *   - Spark's generated-code cache has the engine's size
  *     ([[CodegenCache]]): each case runs the same 150 distinct plans
  *     twice, and with the cache sized the second pass compiles nothing.
  *   - The `file:` FileSystem and `FileContext` filesystem are the
  *     engine's ([[LocalFs]]), also when Hadoop cached another `file:`
  *     FileSystem before the attach.
  *   - A host's own size and `fs.file.impl` win.
  * Both are set once per JVM, so the host cases run in child JVMs
  * ([[CodegenCacheProbe]]), two at a time. */
class CodegenCacheSpec extends SparkSpec {

  /** What a probe JVM printed: the two passes' compile counts, whether the
    * host's conf holds the cache size, and the class of the `file:`
    * FileSystem before and after the attach and of the `FileContext`
    * filesystem after it. */
  private case class Probe(first: Long, second: Long, hostKey: Boolean,
      fsBefore: String, fs: String, fc: String)

  /** Runs the probe in a child JVM on this JVM's class path and module
    * options. */
  private def probe(mode: String): Probe = {
    val jvmOpts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val addOpens = jvmOpts.zip(jvmOpts.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Seq.empty
    }
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val log = Files.createTempFile("codegen-probe", ".log").toFile
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"),
      CodegenCacheProbe.getClass.getName.stripSuffix("$"), mode)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log).start()
    try {
      assert(p.waitFor(300, TimeUnit.SECONDS), s"probe JVM ($mode) timed out")
      val out = Files.readAllLines(log.toPath).asScala
      val line = out.find(_.startsWith("PROBE "))
      assert(p.exitValue() == 0 && line.isDefined,
        s"probe JVM ($mode) failed:\n${out.takeRight(40).mkString("\n")}")
      val Array(_, first, second, hostKey, fsBefore, fs, fc) = line.get.split(" ")
      Probe(first.toLong, second.toLong, hostKey.toBoolean, fsBefore, fs, fc)
    } finally {
      p.destroyForcibly()
      log.delete()
    }
  }

  /** Every host mode's probe, started at the first host case. */
  private lazy val probes: Map[String, Future[Probe]] = {
    val pool = Executors.newFixedThreadPool(2)
    val ec = ExecutionContext.fromExecutor(pool)
    val started = CodegenCacheProbe.Modes.map(m => m -> Future(probe(m))(ec)).toMap
    pool.shutdown()
    started
  }

  private def result(mode: String): Probe = Await.result(probes(mode), 10.minutes)

  private def hostAttach(mode: String): Unit = {
    val p = result(mode)
    assert(p.first >= CodegenCacheProbe.Plans)
    assert(p.second === 0L)
    assert(!p.hostKey, s"${CodegenCache.Key} written into the host's conf")
  }

  /** The route replaced the `file:` FileSystem Hadoop cached before it
    * and installed both of the engine's classes. */
  private def hostFs(mode: String): Unit = {
    val p = result(mode)
    assert(p.fsBefore !== classOf[NioLocalFileSystem].getName)
    assert(p.fs === classOf[NioLocalFileSystem].getName)
    assert(p.fc === classOf[NioLocalFs].getName)
  }

  test("the engine's builder sizes the cache: a second pass compiles nothing") {
    val first = CodegenCacheProbe.pass(spark)
    assert(CodegenCacheProbe.pass(spark) === 0L, s"first pass compiled $first")
  }

  test("attaching through registerTableChanges sizes a host's cache and writes no conf") {
    hostAttach("functions")
  }

  test("attaching through the GraftExtensions parser sizes a host's cache and writes no conf") {
    hostAttach("extensions")
  }

  test("attaching through GraftSparkCatalog sizes a host's cache and writes no conf") {
    hostAttach("catalog")
  }

  test("a host's explicit size wins over the engine's") {
    val p = result("host-size")
    assert(p.first >= CodegenCacheProbe.Plans)
    assert(p.second > 0L, "a 100-entry cache held every plan")
  }

  test("the engine's builder installs the engine's local filesystem") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("attaching through registerTableChanges installs the engine's local filesystem") {
    hostFs("functions")
  }

  test("attaching through the GraftExtensions parser installs the engine's local filesystem") {
    hostFs("extensions")
  }

  test("attaching through GraftSparkCatalog replaces a cached local filesystem") {
    hostFs("catalog")
  }

  test("a host's own fs.file.impl wins over the engine's local filesystem") {
    val p = result("host-size")
    assert(p.fsBefore === CodegenCacheProbe.HostFs)
    assert(p.fs === CodegenCacheProbe.HostFs)
    assert(p.fc === "org.apache.hadoop.fs.local.LocalFs")
  }
}

/** Child-JVM side of [[CodegenCacheSpec]]: builds a plain host session,
  * looks up the `file:` FileSystem (Hadoop caches it), attaches the engine
  * by the route the mode names, runs [[pass]] twice and prints
  * `PROBE <first> <second> <host conf holds the key> <FileSystem class
  * before> <FileSystem class> <FileContext filesystem class>`.
  *   - `functions`: `GraftFunctions.registerTableChanges`, as a notebook
  *     or harness calls it on its own session;
  *   - `extensions`: the host sets `spark.sql.extensions` and runs one
  *     SQL statement;
  *   - `catalog`: the host sets `spark.sql.catalog.graft` and runs one
  *     SQL statement that names the catalog;
  *   - `host-size`: as `functions`, with the host's SparkConf setting a
  *     100-entry cache and [[HostFs]] as `fs.file.impl`. */
object CodegenCacheProbe {
  val Plans = 150
  val Modes = Seq("functions", "extensions", "catalog", "host-size")
  val HostFs = "org.apache.hadoop.fs.LocalFileSystem"

  /** Classes compiled by running [[Plans]] distinct plans once. */
  def pass(spark: SparkSession): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (1 to Plans).foreach(i => spark.range(8).selectExpr(s"id * 7919 + $i AS x").collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val warehouse = Files.createTempDirectory("codegen-probe-wh")
    val b = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
    mode match {
      case "extensions" =>
        b.config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      case "catalog" =>
        b.config("spark.sql.catalog.graft", classOf[graft.catalog.GraftSparkCatalog].getName)
          .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
      case "host-size" =>
        b.config(CodegenCache.Key, 100L).config(s"spark.hadoop.${LocalFs.FsKey}", HostFs)
      case _ =>
    }
    val spark = b.getOrCreate()
    // the SparkContext's conf: the session state (and its parser) stays unbuilt
    val fsBefore = FileSystem.get(FsConstants.LOCAL_FS_URI,
      spark.sparkContext.hadoopConfiguration).getClass.getName
    mode match {
      case "extensions" => spark.sql("SELECT 1").collect()
      case "catalog" => spark.sql("SHOW NAMESPACES IN graft").collect()
      case _ => graft.functions.GraftFunctions.registerTableChanges(spark)
    }
    val first = pass(spark)
    val second = pass(spark)
    val hostKey = spark.conf.getAll.contains(CodegenCache.Key) ||
      spark.sparkContext.getConf.contains(CodegenCache.Key)
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(FsConstants.LOCAL_FS_URI, conf).getClass.getName
    val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
      .getDefaultFileSystem.getClass.getName
    println(s"PROBE $first $second $hostKey $fsBefore $fs $fc")
    spark.stop()
    Files.delete(warehouse)
  }
}
