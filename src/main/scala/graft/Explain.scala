package graft

/** Plan-audit tool: prints the formatted physical plan of each named
  * driver query (all queries if no names given). Usage:
  *   sbt "runMain graft.Explain q_explode q_dedup_filtered"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01 — plans don't depend on SF).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Session.local()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n===== $name =====")
          fn(spark, sfDir).explain("formatted")
        case None => System.err.println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
