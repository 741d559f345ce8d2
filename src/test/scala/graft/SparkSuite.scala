package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM, pinned to 4 cores so
  * plan-shape gates see the same session on any host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4)
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
