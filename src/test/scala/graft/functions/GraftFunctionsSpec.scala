package graft.functions

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.SparkSpec

/** [[GraftFunctions.register]] keeps the functions a session already
  * holds: a repeated call replaces nothing (Spark logs a WARN for every
  * replaced function). */
class GraftFunctionsSpec extends SparkSpec {

  /** Messages logged by Spark's function registries while `f` runs. */
  private def registryLog(f: => Unit): Seq[String] = {
    val seen = mutable.ArrayBuffer.empty[String]
    val appender = new AbstractAppender("registry-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.synchronized {
        seen += e.getMessage.getFormattedMessage
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    try f finally {
      root.removeAppender("registry-probe")
      ctx.updateLoggers()
      appender.stop()
    }
    seen.synchronized(seen.toSeq)
  }

  test("a second register replaces no function and logs no WARN") {
    val s = spark.newSession()
    val first = registryLog(GraftFunctions.register(s))
    val second = registryLog(GraftFunctions.register(s))
    val replaced = (first ++ second).filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    for (f <- Seq("cosine_sim", "md5_min", "simhash_bands"))
      assert(s.catalog.functionExists(f), f)
    assert(s.sessionState.tableFunctionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("table_changes")))
  }
}
