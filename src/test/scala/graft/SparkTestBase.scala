package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run, built exactly like
  * the Bench/Verify session so specs plan the way the mains do. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(Sessions.cpus)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `f` while the root logger's WARN-and-above messages are
    * captured; `f` reads the messages logged so far through its argument.
    */
  def withWarnings[T](f: (() => Seq[String]) => T): T = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val name = s"spec-warnings-${java.util.UUID.randomUUID()}"
    val capture = new AbstractAppender(name, null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(capture, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try f(() => warnings.toArray(Array.empty[String]).toSeq)
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(name)
      ctx.updateLoggers()
    }
  }
}
