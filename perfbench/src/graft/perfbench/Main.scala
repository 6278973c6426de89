package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * graft.perfbench.Main --workload etl_ingest|query_mix
  *   --seed N --seconds S --trace 0|1 --cores C --work DIR
  *   --metrics name,name,... [--data DIR --expect FILE] [--size full|tiny]
  *   [--record-expect FILE]
  * }}}
  *
  * Runs from inside `--work`, a private directory the caller has just
  * emptied: the engine keeps staged artifacts under `target/` of the
  * working directory, so nothing from an earlier run can be reused.
  * Writes `result.json` (the values of the requested metrics plus the
  * op counts) and `trace.json` (every span, with the session config)
  * into `--work`. */
object Main {

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
      work: Path, metrics: Seq[String], data: Option[String], expect: Option[Path],
      tiny: Boolean, recordExpect: Option[Path])

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad arguments near ${a.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val size = m.getOrElse("size", "full")
    require(Set("full", "tiny")(size), s"--size must be full or tiny, got $size")
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")).toAbsolutePath,
      need("metrics").split(",").toSeq.filter(_.nonEmpty),
      m.get("data"), m.get("expect").map(Paths.get(_)), size == "tiny",
      m.get("record-expect").map(Paths.get(_)))
  }

  /** The session every workload runs on: the engine bench's settings. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val t0 = System.nanoTime()
    val spark = session(conf.cores, conf.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, listen = conf.trace)
    val ctx = new Ctx(conf, spark, tracer, sessionS)
    val code =
      try {
        conf.workload match {
          case "etl_ingest" => EtlIngest.run(ctx)
          case "query_mix" => QueryMix.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        ctx.finish()
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${conf.workload} aborted: $e")
          e.printStackTrace()
          1
      } finally {
        tracer.stop()
        val t1 = System.nanoTime()
        spark.stop()
        System.err.println(f"[perfbench] session ${sessionS}%.1f s, stop ${(System.nanoTime() - t1) / 1e9}%.1f s")
      }
    sys.exit(code)
  }
}

/** State of one run: the span tree, op outcomes and metric values. */
final class Ctx(val conf: Main.Conf, val spark: SparkSession, val tracer: Tracer,
    val sessionS: Double) {

  val root: Tracer.Span = tracer.open("workload", conf.workload, None)
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  /** Measured values by metric name, in emission order. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  /** Every timed op, in run order. */
  val ops = mutable.ArrayBuffer.empty[Ctx.OpTime]
  def opSeconds: Seq[Double] = ops.map(_.wallS).toSeq
  private var setupS = 0.0

  def fail(msg: String): Unit = {
    problems += msg
    System.err.println(s"[perfbench] check failed: $msg")
  }

  /** One operation: counted as attempted, and failed if it threw or any
    * of its checks failed. */
  def op(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Exception => fail(s"operation threw $e"); false
    }
    if (!ok) failed += 1
  }

  /** A part of the workload's set-up, warm-up included: `setup_s` is
    * the session start plus every part. */
  def setup[T](body: Tracer.Span => T): T = {
    val t = System.nanoTime()
    try tracer.span("setup", "setup", Some(root))(body)
    finally setupS += (System.nanoTime() - t) / 1e9
  }

  /** Repeat `body` until `conf.seconds` have passed, at least `minOps`
    * times, stopping only after a whole multiple of `minOps`. */
  def loop(minOps: Int)(body: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
    var i = 0
    while (i < minOps || i % minOps != 0 || System.nanoTime() < deadline) { body(i); i += 1 }
  }

  def put(name: String, v: Double): Unit = values(name) = v

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** CPU nanoseconds by live Java thread. */
  private def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Run `body` as one timed op and append its [[Ctx.OpTime]] to `ops`.
    * The op's CPU time is that of the JVM's Java threads: the driver,
    * the task threads and the HTTP server, the threads that run the
    * program. It leaves out the time the host gave to other guests
    * (steal), which moved the wall time of the same faces by 10-30%
    * between runs on a shared 4-vCPU host, and the JIT compiler threads,
    * which compile Spark's generated classes during every face, a share
    * of the process's CPU time that varied more from run to run than the
    * rest. Both left out parts are recorded next to it. A thread that
    * starts and ends within the op is not counted. */
  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    val p0 = os.getProcessCpuTime
    val th0 = threadCpuNs()
    val j0 = jit.getTotalCompilationTime
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = threadCpuNs().map { case (id, ns) => ns - th0.getOrElse(id, 0L) }.sum / 1e9
      ops += Ctx.OpTime(wall, cpu, (os.getProcessCpuTime - p0) / 1e9,
        (jit.getTotalCompilationTime - j0).toDouble)
    }
  }

  /** End of set-up: collect the set-up's garbage, so that no old-generation
    * collection it left behind falls into the timed ops. */
  def settle(): Unit = System.gc()

  private def jvmGcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum.toDouble
  }

  /** Peak resident set of this JVM, MB (VmHWM). */
  private def rssPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
  }

  /** Fill the generic metrics, attribute traced work, write both output
    * files. */
  def finish(): Unit = {
    tracer.close(root)
    put("setup_s", sessionS + setupS)
    put("rss_peak_mb", rssPeakMb())
    put("jvm.gc_ms", jvmGcMs())
    if (ops.nonEmpty) put("jvm.jit_ms_per_op", ops.map(_.jitMs).sum / ops.size)
    put("fail_ratio", if (attempted == 0) 1.0 else failed.toDouble / attempted)
    // traced minus untraced op_cpu_s is the tracing overhead
    values.get("op_cpu_s").foreach(put("trace.op_cpu_s", _))
    put("trace.wall_s", root.ms / 1e3)
    put("trace.self_ms", root.ms - tracer.spans.filter(_.parent == root.id).map(_.ms).sum)
    val missing = conf.metrics.filterNot(values.contains)
    val out = conf.metrics.map(n => n -> values.getOrElse(n, 0.0))
    Files.writeString(conf.work.resolve("result.json"), Json.obj(Seq(
      "correct" -> Json.bool(failed == 0 && attempted > 0),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "values" -> Json.obj(out.map { case (k, v) => k -> Json.num(v) }),
      "not_exercised" -> Json.arr(missing.map(Json.str)),
      "problems" -> Json.arr(problems.take(20).toSeq.map(Json.str)))))
    Files.writeString(conf.work.resolve("trace.json"), traceJson())
  }

  private def traceJson(): String = {
    val cfg = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.session.timeZone", "spark.sql.adaptive.enabled")
      .map(k => k -> Json.str(spark.conf.getOption(k).getOrElse("")))
    def counters(c: Tracer.Counters) = Json.obj(Seq(
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
      "job_ms" -> Json.num(c.jobMs), "task_run_ms" -> Json.num(c.taskRunMs),
      "input_bytes" -> c.inputBytes.toString,
      "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
      "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
      "files_read" -> c.filesRead.toString) ++
      c.phaseMs.toSeq.sorted.map { case (k, v) => s"phase.$k" -> Json.num(v) } ++
      c.jobMsBySite.toSeq.sorted.map { case (k, v) => s"site.$k" -> Json.num(v) })
    val all = tracer.spans
    val children = all.groupBy(_.parent)
    val spans = all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(_.ms).sum
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "ms" -> Json.num(s.ms), "self_ms" -> Json.num(s.ms - kids)) ++
        (if (tracer.listen) Seq("self" -> counters(s.self), "total" -> counters(s.total))
         else Nil))
    }
    val walls = opSeconds
    val tail = Stats.tailPercentile(walls.size)
    Json.obj(Seq(
      "workload" -> Json.str(conf.workload), "seed" -> conf.seed.toString,
      "ops" -> walls.size.toString,
      "op_columns" -> Json.arr(Seq("wall_s", "cpu_s", "process_cpu_s", "jit_ms").map(Json.str)),
      "op_table" -> Json.arr(ops.toSeq.map(o =>
        Json.arr(Seq(o.wallS, o.cpuS, o.processCpuS, o.jitMs).map(Json.num(_))))),
      // the highest percentile with at least ten ops beyond it, if any
      "op_tail_percentile" -> tail.map(p => Json.num(p * 100)).getOrElse("null"),
      "op_tail_s" -> tail.map(p => Json.num(Stats.percentile(walls, p))).getOrElse("null"),
      "nproc" -> conf.cores.toString, "traced" -> Json.bool(tracer.listen),
      "session" -> Json.obj(cfg), "values" -> Json.obj(values.toSeq.map {
        case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(spans),
      "jobs" -> Json.arr(tracer.jobs.map(j => Json.obj(Seq(
        "id" -> j.id.toString, "ms" -> Json.num(j.ms), "site" -> Json.str(j.site),
        "call" -> Json.str(j.shortSite))))),
      "queries" -> Json.arr(tracer.queryExecutions.map(q => Json.obj(Seq(
        "func" -> Json.str(q.func),
        "start_ms" -> Json.num((q.startNs - root.startNs) / 1e6),
        "site" -> Json.str(Tracer.siteOf(tracer.longSiteOf(q))),
        "files" -> q.files.toString))))))
  }
}

object Ctx {
  /** One timed op: wall seconds, CPU seconds of the Java threads, CPU
    * seconds of the whole process, milliseconds the JIT compiled. */
  final case class OpTime(wallS: Double, cpuS: Double, processCpuS: Double, jitMs: Double)
}

/** Just enough JSON writing for the two output files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
