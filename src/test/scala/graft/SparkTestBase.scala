package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test/fork := true),
  * built by the same factory as every main, at a fixed 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Session.local(4)
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }
}
