package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query subset (local iteration only
    // — the driver always runs the full set)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // Fail fast on typos: a misspelled subset name would run zero queries
    // and make the local iteration loop look green without verifying
    // anything (ADVICE r4).
    require((only -- SparkEntry.queries.keySet).isEmpty,
      s"unknown query names: ${(only -- SparkEntry.queries.keySet).mkString(",")}")
    val spark = graft.core.Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes quotes, backslashes and every control char: a tab
    // or CR in oracle SQL must not break the oracle checker's json.load
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
