package graft.operators

import graft.SparkTestBase

import scala.jdk.CollectionConverters._

/** The path decision [[DriverKernel.capped]] owns, and a guard that no
  * other `src/main` code hand-rolls it. Each caller's own spec runs its
  * kernel on both paths over the same input. Tests run with cwd = the
  * project root (forked JVM). */
class DriverKernelSpec extends SparkTestBase {

  // one partition, so the capped collect is one job on either path
  private def path(n: Long, cap: Long): String = {
    import spark.implicits._
    DriverKernel.capped(spark.range(0, n, 1, 1).as[Long], cap)(
      rows => s"local:${rows.mkString(",")}")("distributed")
  }

  test("over the cap runs distributed; at or under it runs local in one job; empty runs local") {
    assert(path(3, 0) == "distributed")
    assert(path(3, 2) == "distributed")
    assert(path(0, 0) == "local:")
    assert(path(3, Long.MaxValue) == "local:0,1,2")
    var got = ""
    assert(jobsOf { got = path(3, 3) } == 1)
    assert(got == "local:0,1,2")
  }

  test("limit(... + 1) followed by collect() appears in src/main only inside DriverKernel") {
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val cappedCollect = """limit\((?:[^()]|\([^()]*\))*\+\s*1\)[^;]{0,160}?\.collect\(\)""".r
    val hits = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val txt = comment.replaceAllIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"), "")
        cappedCollect.findAllMatchIn(txt).map(_ => p.toString.replace('\\', '/'))
      }.toList
    }
    assert(hits == Seq("src/main/scala/graft/operators/DriverKernel.scala"), hits)
  }
}
