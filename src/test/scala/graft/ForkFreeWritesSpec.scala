package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.pipeline.CdcPipeline
import graft.streaming.CdcStreams
import graft.table._

/** The engine's writes start no process ([[LocalFs]]). A JFR recording of
  * `jdk.ProcessStart` with stack traces, in this JVM only, wraps the
  * create and first write of a log-style and a bucketed change-feed table
  * (an append, an insert-only merge), a three-clause merge, a
  * `changes()` read and a streaming drain of the reference's `seed.json`
  * through Bronze, Silver and Gold; no process may start from Hadoop's
  * `Shell` (its `chmod` and `readlink` forks). */
class ForkFreeWritesSpec extends SparkSpec {
  import spark.implicits._

  /** (command, started from Hadoop's Shell) of every process `body` starts. */
  private def processesOf(body: => Unit): Seq[(String, Boolean)] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    try body finally r.stop()
    val dump = Files.createTempFile("forks", ".jfr")
    try {
      r.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.map { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        (e.getString("command"),
          frames.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      }
    } finally {
      r.close()
      Files.delete(dump)
    }
  }

  test("table writes, a merge, a change-feed read and a streaming drain fork no Hadoop shell") {
    spark.range(1).collect()
    // Shell's class init probes the OS with two processes of its own
    Class.forName("org.apache.hadoop.util.Shell")
    val base = Files.createTempDirectory("fork-free")
    val forks = processesOf {
      val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
      val rows = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
      val clauses = Seq(WhenMatchedDelete(Some(col("source.v") === "DEL")),
        WhenMatchedUpdate(), WhenNotMatchedInsert())
      // a log-style table takes appends; a bucketed one is filled by merges
      VersionedTable.create(spark, s"$base/log", schema, Map(VersionedTable.PROP_CDF -> "true"))
        .append(rows)
      val t = VersionedTable.create(spark, s"$base/t", schema,
        Map(VersionedTable.PROP_CDF -> "true"), bucketBy = Some(BucketSpec(Seq("id"), 4)))
      Merge.run(t, rows, Seq("id"), clauses)
      Merge.run(t, Seq((3L, "DEL"), (4L, "x4"), (100L, "n100")).toDF("id", "v"), Seq("id"),
        clauses)
      assert(t.changes(2).count() === 4L)

      val landing = Files.createDirectories(base.resolve("landing"))
      Files.copy(Paths.get(getClass.getResource("/cdc/seed.json").toURI),
        landing.resolve("seed.json"))
      val silver = CdcPipeline.createSilver(spark, s"$base/silver")
      val gold = CdcPipeline.createGold(spark, s"$base/gold")
      CdcStreams.processAvailable(spark, landing.toString, base.toString, silver, gold)
      assert(silver.snapshot().count() === 18L)
    }
    val shell = forks.filter(_._2).map(_._1)
    assert(shell.size === 0,
      s"${shell.size} of ${forks.size} processes started from Hadoop's Shell: " +
        shell.groupBy(_.takeWhile(_ != ' ')).map { case (c, s) => s"$c ×${s.size}" }
          .mkString(", "))
  }
}
