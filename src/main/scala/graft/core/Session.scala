package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a local session is built: every main and the shared
  * test session go through [[local]], so a config change lands in all of
  * them at once. Idempotent: `getOrCreate` hands back a live session. */
object Session {

  /** `$SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cores(): Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = Session.cores()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // AQE sizes post-shuffle partitions by BYTES, not `cores` near-empty
      // reduce tasks per exchange of a mid-tail query; the advisory size
      // (64 MB) still fans out by volume at scale. A/B'd suite-wide.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR: the two intentionally-global windows (qIslands,
    // qIslandsScalable) trip WindowExec's single-partition WARN dozens of
    // times per run; failures surface through each tool's own output.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
