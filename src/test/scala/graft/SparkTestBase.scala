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
}
