package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span tracer for one benchmark run.
  *
  * Spans nest workload -> operation (cycle / refresh / face) -> layer
  * call. Each span's own time is wall time; with `listen` on, a
  * [[SparkListener]] and a [[QueryExecutionListener]] record every job,
  * stage, task and Catalyst phase, and [[attribute]] charges each one to
  * the innermost span open when it started. The closed loop runs one
  * operation at a time, so wall-clock containment is an exact owner test
  * without touching the engine's threads.
  *
  * Listener callbacks arrive on Spark's listener bus, so event times are
  * epoch milliseconds; spans keep nanoTime and are mapped onto the same
  * clock through the offset captured at construction. */
final class Tracer(spark: SparkSession, val listen: Boolean) {
  import Tracer._

  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def msToNs(ms: Long): Long = ns0 + (ms - ms0) * 1000000L

  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  def spans: Seq[Span] = synchronized(spansBuf.toList)

  def open(kind: String, name: String, parent: Option[Span]): Span = synchronized {
    val s = new Span(spansBuf.size, parent.map(_.id).getOrElse(-1), kind, name,
      System.nanoTime())
    spansBuf += s
    s
  }

  /** A span whose bounds were derived after the fact (e.g. a commit,
    * which runs between two page fetches). */
  def record(kind: String, name: String, parent: Span, startNs: Long, endNs: Long): Span =
    synchronized {
      val s = new Span(spansBuf.size, parent.id, kind, name, startNs)
      s.endNs = endNs
      spansBuf += s
      s
    }

  def close(s: Span): Unit = s.endNs = System.nanoTime()

  def span[T](kind: String, name: String, parent: Option[Span])(body: Span => T): T = {
    val s = open(kind, name, parent)
    try body(s) finally close(s)
  }

  // ---- listeners ----------------------------------------------------

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[Query]

  def jobs: Seq[Job] = synchronized(jobsById.values.toList)
  def queryExecutions: Seq[Query] = synchronized(queries.toList)

  /** The long call site of a query execution's action: that of the SQL
    * execution that started nearest to the end of its planning (before
    * it for a query, just after it for a command). The listener API gives
    * no id linking the two, and actions on one thread run one at a time.
    * Look it up after [[drain]]. */
  def longSiteOf(q: Query): String = {
    val planned = q.phases.values.map { case (t, ms) => t + (ms * 1e6).toLong }.maxOption
    planned.flatMap(p => synchronized(executionStarts.toList)
      .minByOption(e => math.abs(e._1 - p)).map(_._2)).getOrElse("")
  }

  /** SQL execution id -> (short, long) call site of the action. */
  private val executionSites = mutable.Map.empty[Long, (String, String)]
  /** (start, long call site) of every SQL execution, in start order. */
  private val executionStarts = mutable.ArrayBuffer.empty[(Long, String)]

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        executionSites(x.executionId) = (x.description, x.details)
        executionStarts += msToNs(x.time) -> x.details
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      // A SQL job's call site is its action's: adaptive query stages run
      // on Spark's own threads, whose stacks hold no engine frame. Other
      // jobs carry it on their result stage (the highest id).
      val result = e.stageInfos.maxByOption(_.stageId)
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSites.get(id.toLong))
      val (short, long) = execution.getOrElse(
        (result.map(_.name).getOrElse(""), result.map(_.details).getOrElse("")))
      val j = new Job(e.jobId, msToNs(e.time), short, long)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      jobsById(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobsById.get(e.jobId).foreach(_.endNs = msToNs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageToJob.get(e.stageInfo.stageId).flatMap(jobsById.get).foreach(_.c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageToJob.get(e.stageId).flatMap(jobsById.get).foreach { j =>
        val c = j.c
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuMs += m.executorCpuTime / 1e6
          c.taskGcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (n, p) =>
        n -> (msToNs(p.startTimeMs), p.durationMs.toDouble) }
      // a write's scans sit under the command plan, not under its result
      val plans = qe.executedPlan +: qe.executedPlan.collect {
        case c: CommandResultExec => c.commandPhysicalPlan }
      val scans = plans.flatMap(collectWithSubqueries(_) { case s: FileSourceScanExec => s })
      def metric(name: String): Long =
        scans.flatMap(_.metrics.get(name)).map(_.value).sum
      Tracer.this.synchronized {
        queries += Query(funcName, phases, metric("numFiles"), metric("filesSize"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (listen) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every started job has ended and the query listener has
    * gone quiet: both listeners are fed asynchronously. */
  def drain(timeoutMs: Long = 10000): Unit = if (listen) {
    val deadline = System.currentTimeMillis() + timeoutMs
    var lastCount = -1
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(100)
      val (open, n) = synchronized(
        (jobsById.values.count(_.endNs < 0), jobsById.size + queries.size))
      if (open == 0 && n == lastCount) stable += 1 else stable = 0
      lastCount = n
    }
  }

  def stop(): Unit = if (listen) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The innermost recorded span containing `tNs`, or None. */
  private def owner(all: Seq[Span], tNs: Long): Option[Span] =
    all.filter(s => s.startNs <= tNs && (s.endNs < 0 || tNs <= s.endNs))
      .maxByOption(s => (depth(all, s), s.startNs))

  private def depth(all: Seq[Span], s: Span): Int = {
    var d = 0
    var p = s.parent
    while (p >= 0) { d += 1; p = all(p).parent }
    d
  }

  /** Charge every job and Catalyst phase to its span: `self` counters to
    * the innermost span only, `total` counters to it and every ancestor. */
  def attribute(): Unit = {
    val all = spans
    def charge(tNs: Long)(f: Counters => Unit): Unit = owner(all, tNs).foreach { s =>
      f(s.self)
      var p: Option[Span] = Some(s)
      while (p.nonEmpty) { f(p.get.total); p = Some(p.get.parent).filter(_ >= 0).map(all) }
    }
    jobs.foreach { j =>
      charge(j.startNs) { c =>
        c.add(j.c)
        c.jobs += 1
        c.jobMs += j.ms
        c.jobMsBySite(j.site) = c.jobMsBySite.getOrElse(j.site, 0.0) + j.ms
      }
    }
    queryExecutions.foreach { q =>
      q.phases.foreach { case (phase, (startNs, ms)) =>
        charge(startNs)(c => c.phaseMs(phase) = c.phaseMs.getOrElse(phase, 0.0) + ms)
      }
      q.phases.values.map(_._1).maxOption.foreach(t => charge(t) { c =>
        c.filesRead += q.files
        c.fileBytesRead += q.fileBytes
      })
    }
  }
}

object Tracer {

  /** Counters summed over jobs, tasks and query executions. */
  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var jobMs = 0.0
    var taskRunMs = 0.0
    var taskCpuMs = 0.0
    var taskGcMs = 0.0
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var filesRead = 0L
    var fileBytesRead = 0L
    val phaseMs = mutable.Map.empty[String, Double]
    val jobMsBySite = mutable.Map.empty[String, Double]
    def add(o: Counters): Unit = {
      stages += o.stages; tasks += o.tasks
      taskRunMs += o.taskRunMs; taskCpuMs += o.taskCpuMs; taskGcMs += o.taskGcMs
      inputBytes += o.inputBytes
      shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
      spillBytes += o.spillBytes
    }
  }

  final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
      val startNs: Long) {
    @volatile var endNs: Long = -1L
    val self = new Counters
    val total = new Counters
    def ms: Double = if (endNs < 0) 0.0 else (endNs - startNs) / 1e6
  }

  final class Job(val id: Int, val startNs: Long, val shortSite: String,
      val longSite: String) {
    @volatile var endNs: Long = -1L
    val c = new Counters
    def ms: Double = if (endNs < startNs) 0.0 else (endNs - startNs) / 1e6
    /** The engine method that submitted the job: the first frame of the
      * long call site, e.g. `ShiftWarehouse.validatePk`. */
    val site: String = siteOf(longSite)
  }

  /** One query execution: its action and each Catalyst phase as
    * (start, ms). */
  final case class Query(func: String, phases: Map[String, (Long, Double)],
      files: Long, fileBytes: Long) {
    def startNs: Long = phases.values.map(_._1).minOption.getOrElse(Long.MaxValue)
  }

  private val frame = """^([\w$.]+)\.([\w$]+)\(""".r

  /** The first engine frame of a long call site:
    * `graft.etl.ShiftWarehouse.$anonfun$appendTables$1(...)` ->
    * `ShiftWarehouse.appendTables`. Spark puts its own entry method on
    * the first line. */
  def siteOf(longSite: String): String =
    longSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).flatMap(l =>
      frame.findFirstMatchIn(l).map { m =>
        val cls = m.group(1).split('.').last.stripSuffix("$")
        val method = m.group(2).split('$').filter(p => p.nonEmpty && p != "anonfun")
          .headOption.getOrElse(m.group(2))
        s"$cls.$method"
      }).getOrElse("")
}
