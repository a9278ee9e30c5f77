package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class GraftFunctionsSpec extends AnyFunSpec {

  /** Messages the function registry logs at WARN or above while `f` runs. */
  private def registryWarnings(registryClass: Class[_])(f: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(registryClass.getName.stripSuffix("$"))
      .asInstanceOf[Logger]
    val seen = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-registry-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try f
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    seen.asScala.toSeq
  }

  describe("GraftFunctions.register") {
    it("registers every function once per session: a second call replaces none") {
      val s = TestSpark.spark.newSession()
      val registry = s.sessionState.functionRegistry
      GraftFunctions.register(s)
      val warnings = registryWarnings(registry.getClass) { GraftFunctions.register(s) }
      assert(warnings.filter(_.contains("replaced a previously registered function")).isEmpty,
        warnings.mkString("\n"))
      assert(GraftFunctions.all.forall { case (name, _, _) =>
        registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
      })
      assert(s.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .head().getDouble(0) == 11.0)
    }
  }
}
