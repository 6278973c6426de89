package graft

/** Local replica of the driver's t1 smoke: SparkEntry.entry rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
