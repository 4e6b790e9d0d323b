package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

import graft.SparkSpec

/** Both registration paths carry one (name, info, builder) triple per
  * function, and registering twice on one session logs no
  * "replaced a previously registered function" warning. */
class RegistrationSpec extends SparkSpec {

  /** WARN-level messages logged while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val seen = ArrayBuffer.empty[String]
    val appender = new AbstractAppender("graft-registration-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.synchronized {
        seen += e.getMessage.getFormattedMessage
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.synchronized(seen.toList)
  }

  private def className(s: SparkSession, name: String): String =
    s.sessionState.catalog.lookupFunctionInfo(FunctionIdentifier(name)).getClassName

  test("two register calls on one session replace no function") {
    val s = spark.newSession() // a fresh registry without graft's functions
    // the capture sees the warning when a function IS replaced
    val registry = s.sessionState.functionRegistry
    val control = warnings {
      (1 to 2).foreach(_ => registry.createOrReplaceTempFunction(
        "graft_spec_probe", GraftFunctions.functions.head._3, "built-in"))
    }
    registry.dropFunction(FunctionIdentifier("graft_spec_probe"))
    assert(control.exists(_.contains("replaced a previously registered function")),
      control.mkString("\n"))
    val replaced = warnings {
      GraftFunctions.register(s)
      GraftFunctions.register(s)
    }.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    assert(className(s, "simhash64") == classOf[SimHash64].getName)
  }

  test("a session built with GraftExtensions resolves every function; register adds nothing") {
    val s = SparkSession.builder().withExtensions(new GraftExtensions).create()
    val replaced = warnings(GraftFunctions.register(s))
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    assert(className(s, "simhash64") == classOf[SimHash64].getName)
    assert(className(s, "bloom_might_contain") ==
      classOf[BloomFilterMightContain].getName)
    assert(className(s, "synonym_lookup") == classOf[SynonymLookup].getName)
  }
}
