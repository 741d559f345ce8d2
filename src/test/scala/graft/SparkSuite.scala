package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM, pinned to 4 cores so
  * plan-shape gates see the same session on any host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4)
}

/** Every test body runs in its own [[Staging.scope]]: what it stages is
  * released when the test ends. */
abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  override def withFixture(test: NoArgTest): Outcome =
    Staging.scope(super.withFixture(test))
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
