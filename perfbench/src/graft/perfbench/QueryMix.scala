package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.queries._

/** `query_mix`: the query surface.
  *
  * Runs every `graft.Bench.setupSteps` entry and one untimed warm-up
  * pass, then timed passes over a fixed sample of query faces, stratified
  * by query module with at least one face per module. The sample, its
  * order and the data are fixed, so runs with different seeds time the
  * same work: a seed-chosen sample made the median face latency vary by
  * about 20% between seeds. The warm-up pass belongs to the set-up: a
  * face's first call after the set-up steps costs up to three times its
  * later calls (first-use builds and JIT), and that cost varied most.
  *
  * The op figures (`op_cpu_s`, `op_latency_s`) are geometric means, over
  * the faces, of each face's median: every module weighs the same, and a
  * slow outlier of one face moves them by a sixteenth of its log, where it
  * could move the median of all face latencies from one face to another.
  *
  * A face's op is its frame construction plus one action that counts its
  * rows and sums a 64-bit hash of every row, so every output column is
  * computed; the (rows, hash) pair is checked against the expectation
  * file recorded for the bundled data. */
object QueryMix {

  type Face = (SparkSession, String) => DataFrame

  val sampleSize = 16
  val sampleSeed = 20241

  /** The query objects `SparkEntry.queries` is the union of. */
  val modules: Seq[(String, Map[String, Face])] = Seq(
    "Relational" -> Relational.queries, "Normalize" -> Normalize.queries,
    "Events" -> Events.queries, "TextOps" -> TextOps.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "Scale" -> Scale.queries,
    "MultimodalMeta" -> MultimodalMeta.queries, "Analytics" -> Analytics.queries,
    "TemporalJoins" -> TemporalJoins.queries, "Curation" -> Curation.queries,
    "Mixing" -> Mixing.queries, "Retrieval" -> Retrieval.queries, "Corpus" -> Corpus.queries,
    "Passages" -> Passages.queries, "IndexOps" -> IndexOps.queries)

  /** face -> module, for every face `SparkEntry.queries` serves. */
  def moduleOf: Map[String, String] = {
    val m = modules.flatMap { case (mod, qs) => qs.keys.map(_ -> mod) }.toMap
    val unknown = SparkEntry.queries.keySet -- m.keySet
    require(unknown.isEmpty, s"faces outside the known query modules: ${unknown.mkString(",")}")
    m
  }

  /** A seeded sample of `n` faces, stratified by module: every module
    * gets one face, the rest are shared in proportion to module size
    * (largest remainder). Sorted by face name. */
  def sample(seed: Long, n: Int, byModule: Map[String, Seq[String]]): Seq[String] = {
    val total = byModule.values.map(_.size).sum
    require(n >= byModule.size && n <= total, s"cannot sample $n of $total faces")
    val spare = n - byModule.size
    val mods = byModule.keys.toSeq.sorted
    val want = mods.map(m => m -> spare.toDouble * (byModule(m).size - 1) / (total - byModule.size))
    val floor = want.map { case (m, w) => m -> w.toInt }.toMap
    val left = spare - floor.values.sum
    val extra = want.sortBy { case (m, w) => (-(w - w.toInt), m) }.take(left).map(_._1).toSet
    val rnd = new scala.util.Random(seed)
    mods.flatMap { m =>
      val k = 1 + floor(m) + (if (extra(m)) 1 else 0)
      rnd.shuffle(byModule(m).sorted).take(k)
    }.sorted
  }

  /** A hashable form of a column: map entries in key order. */
  private def canon(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** (rows, order-insensitive content hash) of a frame, in one action. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val hash = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (r.getLong(0), (hash & BigInt("ffffffffffffffff", 16)).toLong)
  }

  /** face -> (rows, hash); a hash of `*` checks rows only. */
  def readExpect(p: Path): Map[String, (Long, Option[Long])] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash) = l.split("\t")
        name -> (rows.toLong, if (hash == "*") None else Some(hash.toLong))
      }.toMap

  def run(ctx: Ctx): Unit = {
    import ctx.{conf, spark, tracer}
    val dir = conf.data.getOrElse(throw new IllegalArgumentException("--data is required"))
    val mods = moduleOf
    conf.recordExpect.foreach { p => record(ctx, dir, p); return }
    val expect = readExpect(conf.expect.getOrElse(
      throw new IllegalArgumentException("--expect is required")))
    val byModule = mods.toSeq.groupBy(_._2).map { case (m, fs) => m -> fs.map(_._1) }
    val faces = sample(sampleSeed, if (conf.tiny) modules.size else sampleSize, byModule)

    def face(name: String, parent: Tracer.Span): (Long, Long) = {
      val df = tracer.span("construct", name, Some(parent))(
        _ => SparkEntry.queries(name)(spark, dir))
      tracer.span("execute", name, Some(parent))(_ => fingerprint(df))
    }
    def check(name: String, got: (Long, Long)): Boolean =
      expect.get(name) match {
        case None => ctx.fail(s"$name has no expectation"); false
        case Some((rows, hash)) =>
          val ok = got._1 == rows && hash.forall(_ == got._2)
          if (!ok) ctx.fail(s"$name: (${got._1}, ${got._2}), expected ($rows, ${hash.getOrElse("*")})")
          ok
      }

    ctx.setup { setup =>
      graft.Bench.setupSteps.foreach { case (name, fn) =>
        val s = tracer.span("setup_step", name, Some(setup)) { s => fn(spark, dir); s }
        ctx.put(s"setup.${name}_s", s.ms / 1e3)
      }
      tracer.span("warm_up", "one pass over the faces", Some(setup)) { w =>
        faces.foreach(f => ctx.op(check(f, tracer.span("face", f, Some(w))(s => face(f, s)))))
      }
      ctx.settle()
    }
    val perModule = scala.collection.mutable.Map.empty[String, Double]
    val perFace = scala.collection.mutable.Map.empty[String, Vector[Ctx.OpTime]]
    ctx.loop(minOps = faces.size) { i =>
      val f = faces(i % faces.size)
      ctx.op {
        val got = ctx.timed(tracer.span("face", f, Some(ctx.root))(s => face(f, s)))
        val t = ctx.ops.last
        perModule(mods(f)) = perModule.getOrElse(mods(f), 0.0) + t.wallS
        perFace(f) = perFace.getOrElse(f, Vector.empty) :+ t
        check(f, got)
      }
    }
    val passes = ctx.ops.size / faces.size
    def typical(g: Ctx.OpTime => Double) =
      Stats.geomean(faces.flatMap(perFace.get).map(xs => Stats.median(xs.map(g))))
    if (perFace.nonEmpty) {
      ctx.put("op_cpu_s", typical(_.cpuS))
      ctx.put("op_latency_s", typical(_.wallS))
      ctx.put("op_process_cpu_s", typical(_.processCpuS))
    }
    modules.foreach { case (m, _) =>
      ctx.put(s"suite.module.${m}_s", perModule.getOrElse(m, 0.0) / passes) }
    val times = ctx.opSeconds
    ctx.put("suite.wall_s", times.sum / passes)
    ctx.put("suite.query_p50_s", Stats.median(times))
    ctx.put("suite.query_p90_s", Stats.percentile(times, 0.9))
    if (tracer.listen) layers(ctx, passes)
  }

  /** `suite.*`: totals per timed pass. */
  private def layers(ctx: Ctx, passes: Int): Unit = {
    val tracer = ctx.tracer
    tracer.drain()
    tracer.attribute()
    val spans = tracer.spans
    val faces = spans.filter(s => s.kind == "face" && s.parent == ctx.root.id)
    val ids = faces.map(_.id).toSet
    val parts = spans.filter(s => ids(s.parent))
    def sum(f: Tracer.Counters => Double) = faces.map(s => f(s.total)).sum / passes
    def phase(c: Tracer.Counters, p: String) = c.phaseMs.getOrElse(p, 0.0)
    val wallMs = faces.map(_.ms).sum / passes
    ctx.put("suite.construct_ms", parts.filter(_.kind == "construct").map(_.ms).sum / passes)
    Seq("analysis", "optimization", "planning").foreach(p =>
      ctx.put(s"suite.${p}_ms", sum(phase(_, p))))
    ctx.put("suite.exec_ms", parts.filter(_.kind == "execute").map(e =>
      e.ms - phase(e.total, "analysis") - phase(e.total, "optimization") -
        phase(e.total, "planning")).sum / passes)
    ctx.put("suite.jobs", sum(_.jobs.toDouble))
    ctx.put("suite.stages", sum(_.stages.toDouble))
    ctx.put("suite.tasks", sum(_.tasks.toDouble))
    ctx.put("suite.shuffle_read_bytes", sum(_.shuffleReadBytes.toDouble))
    ctx.put("suite.shuffle_write_bytes", sum(_.shuffleWriteBytes.toDouble))
    ctx.put("suite.spill_bytes", sum(_.spillBytes.toDouble))
    ctx.put("suite.input_bytes", sum(_.inputBytes.toDouble))
    ctx.put("suite.task_cpu_ms", sum(_.taskCpuMs))
    ctx.put("suite.task_gc_ms", sum(_.taskGcMs))
    ctx.put("suite.core_busy_share",
      if (wallMs <= 0) 0.0 else sum(_.taskRunMs) / (wallMs * ctx.conf.cores))
  }

  /** Record the expectation file: every face, twice after the set-up
    * steps; a face whose hash differs between the passes, or from an
    * existing file at `out`, is recorded as rows-only. */
  private def record(ctx: Ctx, dir: String, out: Path): Unit = {
    import ctx.spark
    graft.Bench.setupSteps.foreach { case (_, fn) => fn(spark, dir) }
    val prior = if (Files.exists(out)) readExpect(out) else Map.empty[String, (Long, Option[Long])]
    val names = SparkEntry.queries.keys.toSeq.sorted
    def pass() = names.map(n => n -> fingerprint(SparkEntry.queries(n)(spark, dir))).toMap
    val (a, b) = (pass(), pass())
    val lines = names.map { n =>
      val (rows, hash) = a(n)
      val stable = b(n) == a(n) && prior.get(n).forall(p => p._1 == rows && p._2.contains(hash))
      require(b(n)._1 == rows && prior.get(n).forall(_._1 == rows), s"$n row count is not stable")
      s"$n\t$rows\t${if (stable) hash.toString else "*"}"
    }
    Files.writeString(out, lines.mkString(
      s"# face\trows\thash (order-insensitive; * = rows only), data ${
        java.nio.file.Paths.get(dir).getFileName}\n", "\n", "\n"))
    ctx.op(true)
  }
}
