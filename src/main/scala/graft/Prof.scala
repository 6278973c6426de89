package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Dev-only timing tool. Times each named query once per mention, in
  * argument order, in this fresh JVM: the first number is the query's
  * first-touch cost (codegen, JIT, page cache) that the bench's untimed
  * warmup hides; a repeated name shows its warm time. `--setup` first
  * runs and times every `Bench.setupSteps` entry, so the queries start
  * from the bench's post-setup state. Under each number a listener lists
  * every Spark job: wall, stages, tasks, shuffle bytes and the engine
  * method and line that submitted it. Not part of the SparkEntry contract.
  * Usage:
  *   sbt "runMain graft.Prof [--setup] q_a q_b q_a"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object Prof {
  private final class L extends SparkListener {
    case class J(id: Int, site: String, t0: Long, stages: Int, var t1: Long = 0L,
      var tasks: Int = 0, var shufRead: Long = 0L, var shufWrite: Long = 0L)
    private val jobs = mutable.LinkedHashMap.empty[Int, J]
    private val stageToJob = mutable.Map.empty[Int, Int]
    private val actionSites = mutable.Map.empty[String, String] // SQL execution id -> site
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized(actionSites(x.executionId.toString) = siteOf(x.details))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage's call site; adaptive query stages are submitted
      // from Spark's own threads, so those fall back to their action's
      val site = siteOf(e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse(""))
      val action = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).flatMap(actionSites.get)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      jobs(e.jobId) = J(e.jobId, if (site.nonEmpty) site else action.getOrElse(""),
        e.time, e.stageIds.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(e.jobId).foreach(_.t1 = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.shufRead += m.shuffleReadMetrics.totalBytesRead
          j.shufWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    /** Print and forget the jobs seen since the last report. */
    def report(): Unit = synchronized {
      jobs.values.foreach { j =>
        println(f"  job ${j.id}%3d ${(j.t1 - j.t0) / 1e3}%7.3f s  stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d shufR=${j.shufRead / 1024}%6d KB " +
          f"shufW=${j.shufWrite / 1024}%6d KB  ${j.site}")
      }
      println(f"  == ${jobs.size} jobs, ${jobs.values.map(j => j.t1 - j.t0).sum / 1e3}%.3f s summed job wall")
      jobs.clear(); stageToJob.clear(); actionSites.clear()
    }
  }

  private val frame = """^([\w$.]+)\.([\w$]+)\([^:)]*:?(\d*)\)""".r

  /** The first engine frame of a long call site as `Class.method:line`:
    * `graft.queries.Dedup$.$anonfun$prewarmStaging$3(Dedup.scala:441)`
    * -> `Dedup.prewarmStaging:441` (the line tells apart the builds one
    * method submits); "" when no engine frame is on it. */
  private[graft] def siteOf(longSite: String): String =
    longSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).flatMap(l =>
      frame.findFirstMatchIn(l).map { m =>
        val cls = m.group(1).split('.').last.stripSuffix("$")
        val method = m.group(2).split('$').filter(p => p.nonEmpty && p != "anonfun")
          .headOption.getOrElse(m.group(2))
        s"$cls.$method:${m.group(3)}".stripSuffix(":")
      }).getOrElse("")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local()
    val l = new L
    spark.sparkContext.addSparkListener(l)
    def timed(label: String)(body: => String): Unit = {
      val t0 = System.nanoTime()
      val note = body
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain the async listener bus before reporting
      println(f"$label%-36s $sec%8.3f s  $note")
      l.report()
    }
    val (flags, names) = args.partition(_.startsWith("--"))
    if (flags.contains("--setup")) Bench.setupSteps.foreach { case (n, f) =>
      timed(s"SETUP $n") {
        try { f(spark, sfDir); "" } catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
      }
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) => timed(s"PROF $name")(s"(${fn(spark, sfDir).count()} rows)")
        case None => System.err.println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
