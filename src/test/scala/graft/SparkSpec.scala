package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = LocalSpark.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf0001

  /** Runs `f` on a second session over the same SparkContext, built with
    * [[graft.functions.GraftExtensions]] (the shared session predates
    * them). The extensions are passed programmatically: the string conf
    * is a static conf, frozen by the SparkContext the shared session
    * built. The shared session is restored as default and active after. */
  def withExtendedSession[A](f: SparkSession => A): A = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try
      f(LocalSpark.builder(4)
        .withExtensions(new graft.functions.GraftExtensions().apply(_))
        .getOrCreate())
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
