package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration

import org.apache.spark.sql.DataFrame

import graft.etl.{EtlServer, PageSource, ShiftWarehouse}

/** `etl_ingest`: the reference `/run-etl` cycle over loopback HTTP.
  *
  * An [[EtlServer]] is wired to a fresh [[ShiftWarehouse]], a pinned
  * as-of date and an in-memory fetcher that serves [[EtlFeed]] pages.
  * Each cycle is `POST /clear-data` then `POST /run-etl?batch_size=7`:
  * one atomic commit per page, then the six KPIs. The op is the
  * `/run-etl` request, from send to its 200. After every cycle the four
  * tables' row counts and the six KPI values are checked against
  * [[KpiCalc]].
  *
  * Traced, each `/run-etl` span splits into its page fetches, the
  * commits between consecutive fetches, and the KPI phase: everything
  * from the first job or Catalyst phase after the last fetch that is not
  * part of a page commit.
  * The KPI phase is the warehouse read path (`ShiftWarehouse.table`,
  * `ShiftKpis`) over the run's committed batches, plus the KPI commit;
  * the `kpi.*` metrics describe it. */
object EtlIngest {

  val apiUrl = "http://gen/api/shifts"
  val pageSize = 7

  def run(ctx: Ctx): Unit = {
    import ctx.{conf, spark, tracer}
    val nShifts = if (conf.tiny) 2 * pageSize else 6 * pageSize
    val whRoot = conf.work.resolve("warehouse")
    @volatile var inRun: Option[Tracer.Span] = None
    val client = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

    val (feed, warehouse, server, port) = ctx.setup { _ =>
      val feed = EtlFeed(conf.seed, nShifts)
      val warehouse = new ShiftWarehouse(spark, whRoot.toString)
      val fetch: String => (DataFrame, Option[String]) = url =>
        tracer.span("fetch", url, inRun) { _ =>
          val (json, next) = feed.page(url, pageSize)
          (PageSource.parsePage(spark, json), next)
        }
      val server = new EtlServer(spark, warehouse, apiUrl, () => feed.asOf, fetch)
      (feed, warehouse, server, server.start(0))
    }
    val expectedKpis = KpiCalc.kpis(feed.shifts, feed.asOf)
    val expectedRows = KpiCalc.rowCounts(feed.shifts)

    def post(path: String): Int =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(170)).POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()

    /** clear-data, run-etl, check; whether the check passed. `runEtl`
      * wraps the run-etl request, so a timed cycle times only that. */
    def cycle(name: String, batchSize: Int, parent: Tracer.Span)(
        runEtl: (=> Int) => Int): Boolean =
      tracer.span("cycle", name, Some(parent)) { c =>
        val cleared = tracer.span("clear", "POST /clear-data", Some(c))(_ => post("/clear-data"))
        feed.bytesServed = 0L
        val status = runEtl(tracer.span("run_etl", "POST /run-etl", Some(c)) { r =>
          inRun = Some(r)
          try post(s"/run-etl?batch_size=$batchSize") finally inRun = None
        })
        tracer.span("check", "row counts and KPIs", Some(c)) { _ =>
          if (cleared != 200 || status != 200) {
            ctx.fail(s"$name: /clear-data $cleared, /run-etl $status"); false
          } else check(ctx, warehouse, name, expectedRows, expectedKpis, feed)
        }
      }

    var runBytesIn = 0L
    try {
      // one short cycle (pages of 30) warms the JIT and the code paths
      ctx.setup { s =>
        ctx.op(cycle("warm-up", 30, s)(r => r))
        ctx.settle()
      }
      ctx.loop(minOps = 1) { i =>
        ctx.op {
          val ok = cycle(s"cycle-$i", pageSize, ctx.root)(r => ctx.timed(r))
          runBytesIn = feed.bytesServed
          ok
        }
      }
    } finally server.stop()
    ctx.put("op_cpu_s", Stats.median(ctx.ops.map(_.cpuS).toSeq))
    ctx.put("op_latency_s", Stats.median(ctx.opSeconds))
    ctx.put("op_process_cpu_s", Stats.median(ctx.ops.map(_.processCpuS).toSeq))

    val (files, bytes) = footprint(whRoot)
    ctx.put("etl.files_written", files.toDouble)
    ctx.put("etl.bytes_per_input_byte", bytes.toDouble / math.max(1L, runBytesIn))
    if (tracer.listen) layers(ctx)
  }

  /** Row counts per table and the six KPIs against the driver-side
    * answer; every mismatch is reported. */
  def check(ctx: Ctx, warehouse: ShiftWarehouse, what: String,
      rows: Map[String, Long], kpis: Map[String, Option[BigDecimal]], feed: EtlFeed): Boolean = {
    val badRows = rows.toSeq.sorted.flatMap { case (t, n) =>
      val got = warehouse.table(t).count()
      if (got == n) None else Some(s"$t has $got rows, expected $n")
    }
    val kpiRows = warehouse.kpis.collect()
    val got = kpiRows.map(r =>
      r.getString(0) -> Option(r.getDecimal(2)).map(BigDecimal(_))).toMap
    val badDates = kpiRows.map(_.getDate(1).toLocalDate).filter(_ != feed.asOf)
    val badKpis = KpiCalc.mismatches(kpis, got).map(n =>
      s"$n = ${got.get(n).flatten.getOrElse("NULL")}, expected ${kpis(n).getOrElse("NULL")}")
    val problems = badRows ++ badKpis ++
      (if (kpiRows.length != KpiCalc.names.size) Seq(s"${kpiRows.length} KPI rows") else Nil) ++
      badDates.distinct.map(d => s"kpi_date $d, expected ${feed.asOf}")
    problems.foreach(p => ctx.fail(s"$what: $p"))
    problems.isEmpty
  }

  /** (parquet files, their bytes) under the warehouse root. */
  def footprint(root: Path): (Long, Long) =
    if (!Files.isDirectory(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        val fs = s.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
          .toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  /** Derive commit and KPI spans inside every `/run-etl` span, attribute
    * the traced jobs, and fill the `etl.*` layer metrics. */
  private def layers(ctx: Ctx): Unit = {
    val tracer = ctx.tracer
    tracer.drain()
    val jobs = tracer.jobs
    val timed = tracer.spans.filter(s => s.kind == "cycle" && s.parent == ctx.root.id)
      .map(_.id).toSet
    val runs = tracer.spans.filter(s => s.kind == "run_etl" && timed(s.parent))
    val perRun = runs.map { run =>
      val fetches = tracer.spans.filter(s => s.kind == "fetch" && s.parent == run.id)
        .sortBy(_.startNs)
      val lastEnd = fetches.lastOption.map(_.endNs).getOrElse(run.startNs)
      // the KPI phase starts with the first job or Catalyst phase, after
      // the last fetch, that is not part of a page commit
      val starts = jobs.map(j => (j.startNs, j.longSite)) ++
        tracer.queryExecutions.map(q => (q.startNs, tracer.longSiteOf(q)))
      val kpiStart = starts
        .collect { case (t, site) if t > lastEnd && t < run.endNs && site.nonEmpty &&
          !site.contains("appendBatch") => t }
        .minOption.getOrElse(run.endNs)
      val ends = fetches.drop(1).map(_.startNs) :+ kpiStart
      val commits = fetches.zip(ends).zipWithIndex.map { case ((f, end), i) =>
        tracer.record("commit", s"page-$i", run, f.endNs, end)
      }
      val kpi = tracer.record("kpi", "ShiftKpis.all + appendKpis", run, kpiStart, run.endNs)
      (run, fetches, commits, kpi)
    }
    tracer.attribute()

    def inSpan(s: Tracer.Span) = jobs.filter(j => j.startNs >= s.startNs && j.startNs <= s.endNs)
    def jobMs(commits: Seq[Tracer.Span])(p: String => Boolean) =
      commits.flatMap(inSpan).filter(j => p(j.longSite)).map(_.ms).sum
    val commitMs = perRun.flatMap(_._3.map(_.ms))
    val commits = perRun.flatMap(_._3)
    def perCommit(f: Tracer.Counters => Long) =
      if (commits.isEmpty) 0.0 else commits.map(c => f(c.total)).sum.toDouble / commits.size
    def med(f: ((Tracer.Span, Seq[Tracer.Span], Seq[Tracer.Span], Tracer.Span)) => Double) =
      Stats.median(perRun.map(f))

    ctx.put("etl.run_s", med(_._1.ms / 1e3))
    ctx.put("etl.fetch_ms", med(_._2.map(_.ms).sum))
    ctx.put("etl.kpi_ms", med(_._4.ms))
    if (commitMs.nonEmpty) {
      ctx.put("etl.commit_p50_ms", Stats.percentile(commitMs, 0.5))
      ctx.put("etl.commit_p90_ms", Stats.percentile(commitMs, 0.9))
    }
    ctx.put("etl.commit_growth", med { r =>
      val ms = r._3.map(_.ms)
      val q = math.max(1, ms.size / 4)
      if (ms.isEmpty) 1.0 else Stats.median(ms.takeRight(q)) / Stats.median(ms.take(q))
    })
    ctx.put("etl.jobs_per_commit", perCommit(_.jobs))
    ctx.put("etl.stages_per_commit", perCommit(_.stages))
    ctx.put("etl.tasks_per_commit", perCommit(_.tasks))
    // validatePk runs inside appendTables, so a stage write is an
    // appendTables job that is not a PK check
    ctx.put("etl.job_ms.pk_validate", med(r => jobMs(r._3)(_.contains("validatePk"))))
    ctx.put("etl.job_ms.stage_write", med(r =>
      jobMs(r._3)(s => s.contains("appendTables") && !s.contains("validatePk"))))
    ctx.put("etl.publish_ms", med(r => r._3.map(c => c.ms - covered(c, inSpan(c))).sum))

    // the warehouse read path, as the KPI phase runs it over the batches
    // just committed: ShiftKpis.all(warehouse.normalized) + appendKpis
    def phase(k: Tracer.Span, p: String) = k.total.phaseMs.getOrElse(p, 0.0)
    val phases = Seq("analysis", "optimization", "planning")
    phases.foreach(p => ctx.put(s"kpi.${p}_ms", med(r => phase(r._4, p))))
    ctx.put("kpi.exec_ms", med(r => r._4.ms - phases.map(phase(r._4, _)).sum))
    ctx.put("kpi.jobs", med(_._4.total.jobs.toDouble))
    ctx.put("kpi.tasks", med(_._4.total.tasks.toDouble))
    ctx.put("kpi.files_read", med(_._4.total.filesRead.toDouble))
    ctx.put("kpi.bytes_read", med(_._4.total.fileBytesRead.toDouble))
    ctx.put("kpi.shuffle_bytes", med(_._4.total.shuffleReadBytes.toDouble))
  }

  /** Milliseconds of `s` covered by at least one job. */
  def covered(s: Tracer.Span, jobs: Seq[Tracer.Job]): Double = {
    val iv = jobs.map(j => (math.max(j.startNs, s.startNs), math.min(j.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e6
  }
}
