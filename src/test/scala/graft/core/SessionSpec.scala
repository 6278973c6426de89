package graft.core

import graft.SparkTestBase

import scala.jdk.CollectionConverters._

/** Guard for the single session path: every main and the shared test
  * session are built by [[Session.local]], so a session config cannot
  * drift between the tools again. Tests run with cwd = the project root
  * (forked JVM). */
class SessionSpec extends SparkTestBase {

  test("exactly one session builder exists under src/, inside graft.core.Session") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val hits = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get("src"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        builder.findAllMatchIn(txt).map(_ => p.toString.replace('\\', '/'))
      }.toList
    }
    assert(hits == Seq("src/main/scala/graft/core/Session.scala"), hits)
  }

  test("the shared test session carries the factory's config") {
    val c = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
  }
}
