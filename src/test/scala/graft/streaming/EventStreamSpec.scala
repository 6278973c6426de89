package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import graft.core.StoreLayout
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Streaming pipeline specs via MemoryStream micro-batches. */
class EventStreamSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowed counts aggregate by hour and type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.EventRow]
    in.addData(
      EventStream.EventRow(1, ts("2024-01-01 10:05:00"), 1, "click", 1.5),
      EventStream.EventRow(2, ts("2024-01-01 10:55:00"), 2, "click", 2.25),
      EventStream.EventRow(3, ts("2024-01-01 11:05:00"), 1, "view", 4.0))
    val q = EventStream.windowedCounts(in.toDF())
      .writeStream.format("memory").queryName("win")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win")
      .select("hour", "event_type", "n_events", "sum_value")
      .as[(Timestamp, String, Long, BigDecimal)].collect().toSet
    assert(rows == Set(
      (ts("2024-01-01 10:00:00"), "click", 2L, BigDecimal("3.75")),
      (ts("2024-01-01 11:00:00"), "view", 1L, BigDecimal("4.00"))))
  }

  test("streamed pages commit atomically into the warehouse, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.from_json
    val wh = new graft.etl.ShiftWarehouse(spark, tempDir("wh-stream"))
    val in = MemoryStream[String]
    val pages = in.toDF()
      .select(from_json($"value", graft.etl.ShiftSchemas.pageSchema).as("p"))
      .select("p.*")
    in.addData(graft.etl.ShiftFixtures.singlePage)
    val q = EventStream.pagesToWarehouse(pages, wh, runId = "s1").start()
    q.processAllAvailable(); q.stop()
    assert(wh.shifts.count() == 2)
    assert(wh.breaks.count() == 2)
    // replaying the same micro-batch id is a no-op, not a duplicate commit
    val q2 = EventStream.pagesToWarehouse(pages, wh, runId = "s1").start()
    q2.processAllAvailable(); q2.stop()
    assert(wh.shifts.count() == 2)
  }

  test("count-min sketch aggregates under a streaming window across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{window, col, lit}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.EventRow]
    // the sketch is a TypedImperativeAggregate, so streaming state merges
    // partial sketches by addition — feed the same window from two
    // separate micro-batches to force a state merge
    val q = in.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.CountMinAgg.count_min_agg(col("event_type"), 4, 64).as("sk"))
      .writeStream.format("memory").queryName("cmstream")
      .outputMode("update")
      .start()
    in.addData(
      EventStream.EventRow(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      EventStream.EventRow(2, ts("2024-01-01 10:10:00"), 2, "click", 1.0))
    q.processAllAvailable()
    in.addData(
      EventStream.EventRow(3, ts("2024-01-01 10:20:00"), 1, "click", 1.0),
      EventStream.EventRow(4, ts("2024-01-01 10:25:00"), 3, "view", 1.0))
    q.processAllAvailable(); q.stop()
    // last update for the 10:00 window carries the merged sketch
    val est = spark.table("cmstream")
      .select(graft.functions.CountMinAgg
        .count_min_estimate(col("sk"), lit("click"), 4, 64).as("n"))
      .as[Long].collect().max
    // count-min overestimates, never under: 3 clicks total
    assert(est >= 3L && est <= 4L + 1L, s"estimate $est")
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.EventRow]
    val e = EventStream.EventRow(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0)
    in.addData(e, e.copy(value = 1.0),
      EventStream.EventRow(2, ts("2024-01-01 10:01:00"), 1, "view", 2.0))
    val q = EventStream.dedup(in.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("stream-static enrichment broadcasts the dimension, keeps unmatched events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.EventRow]
    in.addData(
      EventStream.EventRow(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventStream.EventRow(2, ts("2024-01-01 10:01:00"), 99, "view", 2.0))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    val q = EventStream.enrich(in.toDF(), dim, "user_id", "cust_id")
      .select($"event_id", $"tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("enriched").as[(Long, Option[String])].collect().toSet
    assert(rows == Set((1L, Some("gold")), (2L, None)))
  }

  test("stream-stream interval join matches click to view within the band") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EventStream.EventRow]
    val views = MemoryStream[EventStream.EventRow]
    clicks.addData(
      EventStream.EventRow(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
      EventStream.EventRow(2, ts("2024-01-01 12:00:00"), 8, "click", 1.0))
    views.addData(
      // 10 min after user 7's click → match
      EventStream.EventRow(11, ts("2024-01-01 10:10:00"), 7, "view", 1.0),
      // 3 h after user 8's click → outside the band
      EventStream.EventRow(12, ts("2024-01-01 15:00:00"), 8, "view", 1.0),
      // view BEFORE any click from user 7 → no match
      EventStream.EventRow(13, ts("2024-01-01 09:00:00"), 7, "view", 1.0))
    val q = EventStream.correlate(clicks.toDF(), views.toDF())
      .select("user_id", "click_id", "view_id")
      .writeStream.format("memory").queryName("corr")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("corr").as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((7L, 1L, 11L)), s"got $rows")
  }

  test("streaming near-dup candidates surface as soon as the pair is in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val perturbed = base.replace("tok30", "changed")
    val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.nearDupCandidates(in.toDS())
      .writeStream.format("memory").queryName("cand")
      .outputMode("append").start()
    // batch 1: the base doc and an unrelated doc — no pairs yet
    in.addData(
      EventStream.DocRow(1, ts("2024-01-01 10:00:00"), base),
      EventStream.DocRow(3, ts("2024-01-01 10:00:01"), unrelated))
    q.processAllAvailable()
    assert(spark.table("cand").count() == 0)
    // batch 2: a perturbed copy arrives → candidate against doc 1 emitted
    // from this batch alone (state carried the signature)
    in.addData(EventStream.DocRow(2, ts("2024-01-01 10:05:00"), perturbed))
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("cand")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    val ests = spark.table("cand").select("est_jaccard").as[Double].collect()
    assert(ests.forall(e => e >= 0.6 && e <= 1.0))
  }

  test("stream-vs-corpus near-dup flags arrivals against the static band index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val perturbed = base.replace("tok30", "changed")
    val novel = (1 to 60).map(i => s"fresh$i").mkString(" ")
    // the committed corpus: the base doc plus an unrelated one
    val corpus = Seq((100L, base), (101L, (1 to 60).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = EventStream.corpusBandIndex(corpus)
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.corpusNearDup(in.toDS(), index)
      .writeStream.format("memory").queryName("corpdup")
      .outputMode("append").start()
    in.addData(
      EventStream.DocRow(2, ts("2024-01-01 10:00:00"), perturbed),
      EventStream.DocRow(3, ts("2024-01-01 10:00:01"), novel))
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("corpdup")
      .select("doc_id", "corpus_doc_id").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((2L, 100L)), s"got ${pairs.mkString(",")}")
    assert(pairs.length == 1, "band collisions must dedup to one row per pair")
  }

  test("streaming span dedup flags a planted verbatim passage against the corpus gram index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus doc 100 holds a distinctive 12-word passage mid-document
    val passage = (1 to 12).map(i => s"pass$i").mkString(" ")
    val corpus = Seq(
      (100L, s"${(1 to 20).map(i => s"lead$i").mkString(" ")} $passage " +
        (1 to 5).map(i => s"tail$i").mkString(" ")),
      (101L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = EventStream.corpusGramIndex(corpus)
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.corpusSpanSuspects(in.toDS(), index)
      .writeStream.format("memory").queryName("spansusp")
      .outputMode("append").start()
    // doc 2 copies the passage verbatim inside otherwise-novel text at a
    // DIFFERENT position (the diagonal does the alignment); doc 3 shares
    // no 8-gram with the corpus
    in.addData(
      EventStream.DocRow(2, ts("2024-01-01 10:00:00"),
        s"${(1 to 9).map(i => s"new$i").mkString(" ")} $passage " +
          (1 to 7).map(i => s"end$i").mkString(" ")),
      EventStream.DocRow(3, ts("2024-01-01 10:00:01"),
        (1 to 40).map(i => s"fresh$i").mkString(" ")))
    q.processAllAvailable()
    // the windowed agg emits on watermark passage: a later short arrival
    // (< 8 words → no grams, no groups) pushes the watermark past the
    // 10:00 window
    in.addData(EventStream.DocRow(9, ts("2024-01-02 12:00:00"), "flush"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("spansusp")
      .select("doc_id", "corpus_doc_id", "span_words")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet == Set((2L, 100L)), s"got ${rows.mkString(",")}")
    // 12 copied words → 5 consecutive 8-gram matches → 5 + 7 = 12
    assert(rows.map(_._3).toSet == Set(12L), s"span_words ${rows.mkString(",")}")
  }

  test("streaming winnow gate flags an arrival sharing a passage with the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus doc 100 carries a distinctive 24-token passage — long
    // enough that the winnowed fingerprint overlap clears minShared
    val passage = (1 to 24).map(i => s"wpass$i").mkString(" ")
    val corpus = Seq(
      (100L, s"${(1 to 15).map(i => s"wlead$i").mkString(" ")} $passage"),
      (101L, (1 to 40).map(i => s"wother$i").mkString(" ")))
      .toDF("doc_id", "text")
    val index = EventStream.corpusWinnowIndex(corpus)
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.corpusWinnowSuspects(in.toDS(), index)
      .writeStream.format("memory").queryName("winnowsusp")
      .outputMode("append").start()
    // doc 2 copies the passage at a different position; doc 3 is novel
    in.addData(
      EventStream.DocRow(2, ts("2024-01-01 10:00:00"),
        s"${(1 to 9).map(i => s"wnew$i").mkString(" ")} $passage"),
      EventStream.DocRow(3, ts("2024-01-01 10:00:01"),
        (1 to 40).map(i => s"wfresh$i").mkString(" ")))
    q.processAllAvailable()
    // advance the watermark past the 10:00 window to flush the agg
    in.addData(EventStream.DocRow(9, ts("2024-01-02 12:00:00"), "flush"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("winnowsusp")
      .select("doc_id", "corpus_doc_id", "n_shared")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet == Set((2L, 100L)), s"got ${rows.mkString(",")}")
    // the 24-token shared run guarantees >= 17 shared windows; after
    // dedup the shared fingerprint count must still clear the gate
    assert(rows.head._3 >= 3L, s"n_shared ${rows.head._3}")
  }

  test("streaming percolation scores arrivals bit-equal to the batch BM25 ranker") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val model = graft.queries.Retrieval.bm25Model(spark, dir)
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val in = MemoryStream[EventStream.DocArrival]
    val q = EventStream.bm25ScoreArrivals(in.toDS(), model)
      .writeStream.format("memory").queryName("percolate")
      .outputMode("append").start()
    in.addData(docs.map { case (id, text) =>
      EventStream.DocArrival(id, ts("2024-01-01 10:00:00"), text) }.toSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("percolate")
      .select("doc_id", "n_terms", "score")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // every batch-ranked document must carry the IDENTICAL matched-term
    // count and score through the streaming face — same arithmetic tree,
    // same committed statistics, zero drift
    val batch = graft.queries.Retrieval.qBm25(spark, dir)
      .select($"doc_id", $"n_terms", $"score")
      .as[(Long, Long, Double)].collect()
    assert(batch.nonEmpty)
    for ((id, n, score) <- batch) {
      assert(streamed.contains(id), s"doc $id missing from stream")
      assert(streamed(id) == ((n, score)),
        s"doc $id: stream ${streamed(id)} vs batch ($n, $score)")
    }
    // and a document with no standing-query term emits nothing
    val queryTerms = model.df.keySet
    val silent = docs.filter { case (_, t) =>
      !t.split(" ", -1).exists(queryTerms) }
    assert(silent.forall { case (id, _) => !streamed.contains(id) })
  }

  test("streaming profile-drift gate separates on-profile from off-profile arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val model = graft.queries.Corpus.sourceProfileModel(spark, dir)
    val (src, profile) = model.ppm.head
    // an on-profile arrival: real text drawn from that source's corpus
    val onText = graft.core.Tables.documents(spark, dir)
      .filter($"source" === src).select($"text").as[String].head()
    // an off-profile arrival: tokens the profile has never seen
    val offText = (1 to 60).map(i => s"driftqq$i").mkString(" ")
    val in = MemoryStream[EventStream.SourcedDocArrival]
    val q = EventStream.profileDriftScores(in.toDS(), model)
      .writeStream.format("memory").queryName("drift")
      .outputMode("append").start()
    in.addData(
      EventStream.SourcedDocArrival(1, ts("2024-01-01 10:00:00"), src, onText),
      EventStream.SourcedDocArrival(2, ts("2024-01-01 10:00:01"), src, offText),
      EventStream.SourcedDocArrival(3, ts("2024-01-01 10:00:02"), "nosuch", onText))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("drift").select("doc_id", "drift")
      .as[(Long, Double)].collect().toMap
    // off-profile: every doc term contributes ~its own share AND the
    // whole committed mass survives uncovered -> drift near 2; the
    // on-profile doc must sit clearly below it
    assert(rows(2L) > 1.5, s"off-profile drift ${rows(2L)}")
    assert(rows(1L) < rows(2L) - 0.5, s"on ${rows(1L)} vs off ${rows(2L)}")
    assert(rows(3L) == -1.0, "unknown source must flag, not score 0")
    // exact-arithmetic recompute of the on-profile score
    val toks = onText.split(" ", -1)
    val cnt = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var s = 0L; var covered = 0L
    for ((t, c) <- cnt) {
      val pd = c * 1000000L / toks.length
      val pb = profile.getOrElse(t, 0L)
      covered += pb
      if (pd + pb != 0L) s += ((pd - pb) * (pd - pb)) / (pd + pb)
    }
    s += model.mass(src) - covered
    assert(rows(1L) == s.toDouble / 1000000.0)
  }

  test("streaming drift gate equals the batch q_profile_drift face bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val model = graft.queries.Corpus.sourceProfileModel(spark, dir)
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect()
    val in = MemoryStream[EventStream.SourcedDocArrival]
    val q = EventStream.profileDriftScores(in.toDS(), model)
      .writeStream.format("memory").queryName("driftall")
      .outputMode("append").start()
    in.addData(docs.map { case (id, src, text) =>
      EventStream.SourcedDocArrival(id, ts("2024-01-01 10:00:00"), src, text)
    }.toSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("driftall").select("doc_id", "drift")
      .as[(Long, Double)].collect().toMap
    val batch = graft.queries.Corpus.qProfileDrift(spark, dir)
      .select($"doc_id", $"drift").as[(Long, Double)].collect()
    assert(batch.length == docs.length)
    for ((id, d) <- batch)
      assert(streamed(id) == d, s"doc $id: stream ${streamed(id)} vs batch $d")
  }

  test("streaming phash gate equals the batch q_asset_phash face bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val index = EventStream.corpusPhashIndex(corpus)
    val docs = corpus.as[(Long, String)].collect()
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.corpusPhashSuspects(in.toDS(), index)
      .writeStream.format("memory").queryName("phashall")
      .outputMode("append").start()
    // the whole corpus re-arrives, plus a planted exact duplicate of
    // doc 0 (hamming 0 — a guaranteed hit) and a sub-60-byte payload
    // (must emit nothing AND not stall the event-time clock)
    in.addData((docs.map { case (id, text) =>
      EventStream.DocRow(id + 100000L, ts("2024-01-01 10:00:00"), text)
    } :+ EventStream.DocRow(200000L, ts("2024-01-01 10:00:00"), docs.head._2)
      :+ EventStream.DocRow(200001L, ts("2024-01-01 10:00:00"), "short")).toSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("phashall")
      .select("doc_id", "corpus_asset_id", "hamming")
      .as[(Long, Long, Int)].collect()
    // the planted duplicate hits its original at hamming 0
    assert(streamed.exists { case (a, b, h) => a == 200000L && b == docs.head._1 && h == 0 })
    assert(!streamed.exists(_._1 == 200001L))
    // undirected view of the re-arrived corpus == the batch face
    // exactly (same kernel, same bands, same threshold)
    val undirected = streamed
      .collect { case (a, b, h) if a != 200000L && a - 100000L != b =>
        (math.min(a - 100000L, b), math.max(a - 100000L, b), h) }.toSet
    val batch = graft.queries.MultimodalMeta.qAssetPhash(spark, dir)
      .as[(Long, Long, Int)].collect().toSet
    assert(undirected == batch, s"stream $undirected vs batch $batch")
  }

  test("streaming line gate scores an arrival's known-segment fraction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one corpus segment the arrival will repeat verbatim
    val seg = (1 to 8).map(i => s"lseg$i").mkString(" ")
    val corpus = Seq(
      (100L, s"$seg ${(1 to 8).map(i => s"lc$i").mkString(" ")}"))
      .toDF("doc_id", "text")
    val index = EventStream.corpusSegmentIndex(corpus)
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.lineBoilerplateStats(in.toDS(), index)
      .writeStream.format("memory").queryName("linegate")
      .outputMode("append").start()
    // arrival 2: segment 0 copies the corpus segment, segment 1 is
    // novel -> 2 segments, 1 known; arrival 3 (3 tokens) has none and
    // must not emit — but must still advance the watermark when it
    // arrives late (the pushdown-proof contract)
    in.addData(
      EventStream.DocRow(2, ts("2024-01-01 10:00:00"),
        s"$seg ${(1 to 8).map(i => s"ln$i").mkString(" ")}"))
    q.processAllAvailable()
    in.addData(EventStream.DocRow(3, ts("2024-01-02 12:00:00"), "a b c"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("linegate")
      .select("doc_id", "n_segments", "n_known")
      .as[(Long, Long, Long)].collect()
    assert(rows.toSet == Set((2L, 2L, 1L)), s"got ${rows.mkString(",")}")
  }

  test("streaming CDC gate: a shifted near-copy reads as mostly-known chunks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: one long doc; arrival: the same doc with one token
    // prepended — the shift-robustness contract says its chunks after
    // the edit region re-match the corpus chunk store
    val dir = "/root/testdata/sf0.001"
    val base = graft.core.Tables.documents(spark, dir)
      .orderBy(org.apache.spark.sql.functions.length($"text").desc, $"doc_id")
      .select($"text").as[String].head()
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val index = EventStream.corpusChunkIndex(corpus)
    // driver truth from the SAME batch operator the gate reuses
    val corpusChunks = graft.queries.Passages.cdcChunkRows(corpus)
      .select($"s").as[String].collect().toSet
    val arrivalChunks = graft.queries.Passages.cdcChunkRows(
        Seq((2L, "Z " + base)).toDF("doc_id", "text"))
      .select($"s").as[String].collect()
    val expKnown = arrivalChunks.count(corpusChunks)
    val expChars = arrivalChunks.filter(corpusChunks).map(_.length.toLong).sum
    assert(arrivalChunks.length >= 4 && expKnown >= arrivalChunks.length - 3,
      s"scenario degenerate: ${arrivalChunks.length} chunks, $expKnown known")
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.cdcDupStats(in.toDS(), index)
      .writeStream.format("memory").queryName("cdcgate")
      .outputMode("append").start()
    in.addData(EventStream.DocRow(2, ts("2024-01-01 10:00:00"), "Z " + base))
    q.processAllAvailable()
    // an empty arrival emits no chunks but must still close the window
    in.addData(EventStream.DocRow(3, ts("2024-01-02 12:00:00"), ""))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("cdcgate")
      .select("doc_id", "n_chunks", "n_known", "chars_known", "chars_total")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.toSet == Set((2L, arrivalChunks.length.toLong, expKnown.toLong,
      expChars, arrivalChunks.map(_.length.toLong).sum)),
      s"got ${rows.mkString(",")}")
  }

  test("journey anomaly gate scores transitions against the committed matrix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, ts("2024-01-01 10:00:10"), 1L, "view"),
      (2L, ts("2024-01-01 10:00:12"), 1L, "click"),
      (3L, ts("2024-01-01 10:00:15"), 1L, "purchase"),
      (4L, ts("2024-01-01 10:00:10"), 2L, "view"),
      (5L, ts("2024-01-01 10:00:20"), 2L, "view"),
      (6L, ts("2024-01-01 10:00:10"), 3L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val model = EventStream.journeyModel(corpus)
    // the model mirrors the batch matrix incl. ^start/^end row masses
    assert(model.counts(("^start", "view")) == 2L &&
      model.outMass("^start") == 3L && model.outMass("view") == 3L)
    val in = MemoryStream[EventStream.EventRow]
    val q = EventStream.journeyAnomalies(in.toDS(), model)
      .writeStream.format("memory").queryName("journeygate")
      .outputMode("append").start()
    in.addData(EventStream.EventRow(10, ts("2024-01-02 09:00:00"), 9, "view", 0.0))
    q.processAllAvailable()
    // state carries the last type across micro-batches
    in.addData(
      EventStream.EventRow(11, ts("2024-01-02 09:00:05"), 9, "click", 0.0),
      EventStream.EventRow(12, ts("2024-01-02 09:00:09"), 9, "error", 0.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("journeygate")
      .select("event_id", "src", "dst", "n", "wt", "anomalous")
      .as[(Long, String, String, Long, Long, Boolean)].collect()
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      (10L, "^start", "view", 2L, 3L, false),
      (11L, "view", "click", 1L, 3L, false),
      (12L, "click", "error", 0L, 2L, true)))
  }

  test("journey gate under the COMMITTED model equals the oracle-checked batch face") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch truth: the sidecar-joined relational face (oracle-green)
    val batch = graft.queries.Events.qJourneyGate(spark, dir)
      .select($"event_id", $"src", $"dst", $"n", $"wt", $"is_anomalous")
      .as[(Long, String, String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6 == 1L))).toMap
    val model = EventStream.committedJourneyModel(spark, dir)
    // drive EVERY event through the stream in event order per user (one
    // batch — flatMapGroupsWithState sorts within the group anyway)
    val evs = graft.core.Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStream.EventRow].collect()
    val in = MemoryStream[EventStream.EventRow]
    val q = EventStream.journeyAnomalies(in.toDS(), model)
      .writeStream.format("memory").queryName("journeygatefull")
      .outputMode("append").start()
    in.addData(evs.toIndexedSeq)
    q.processAllAvailable(); q.stop()
    val got = spark.table("journeygatefull")
      .select("event_id", "src", "dst", "n", "wt", "anomalous")
      .as[(Long, String, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got.keySet == batch.keySet)
    val diffs = got.collect { case (id, v) if batch(id) != v => (id, v, batch(id)) }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(3).mkString("; ")}")
    // the boundary is exercised: both flag values occur on this corpus
    assert(got.values.exists(_._5) && got.values.exists(!_._5))
  }

  test("streaming dbscan gate re-derives every batch cluster at the door") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val index = EventStream.corpusDbscanIndex(corpus)
    // batch truth: role + cluster per document, and the core set for
    // the independent core-neighbor count
    val batch = graft.queries.Corpus.qDbscan(spark, dir)
      .select($"doc_id", $"role", $"cluster")
      .as[(Long, String, Long)].collect()
    val feats = graft.queries.Corpus.dbscanFeaturesOf(corpus)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val eps = graft.queries.Corpus.DbEps
    val cores = batch.filter(_._2 == "core").map(_._1).toSet
    def nCoreWithin(id: Long): Long = {
      val (x, y) = feats(id)
      cores.count { c =>
        val (cx, cy) = feats(c)
        (x - cx) * (x - cx) + (y - cy) * (y - cy) <= eps * eps
      }.toLong
    }
    val expected = batch.map { case (id, role, cluster) =>
      (id, if (role == "noise") -1L else cluster, nCoreWithin(id))
    }.toSet
    assert(expected.exists(_._2 >= 0) && expected.exists(_._2 == -1L))
    val texts = corpus.as[(Long, String)].collect()
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.dbscanAttach(in.toDS(), index)
      .writeStream.format("memory").queryName("dbscangate")
      .outputMode("append").start()
    in.addData(texts.map { case (id, t) =>
      EventStream.DocRow(id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
    q.processAllAvailable()
    in.addData(EventStream.DocRow(-999, ts("2024-01-02 12:00:00"), "clock tick"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dbscangate")
      .select("doc_id", "cluster", "n_core_within_eps")
      .as[(Long, Long, Long)].collect().filter(_._1 >= 0)
    assert(rows.length == texts.length)
    assert(rows.toSet == expected, {
      val diff = (rows.toSet -- expected) ++ (expected -- rows.toSet)
      s"first diffs: ${diff.take(5).mkString(",")}"
    })
  }

  test("streaming frame-reuse gate scores arrivals against the committed frame index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val index = EventStream.corpusFrameIndex(corpus)
    val texts = corpus.as[(Long, String)].collect()
    // driver truth via the same slicing arithmetic
    def frames(t: String): Seq[String] = {
      val b = t.getBytes("UTF-8")
      val nf = math.min(4L, math.max(1L, (b.length + 255L) / 256L)).toInt
      (0 until nf).map { i =>
        val s = b.slice(i * 256, math.min(b.length, i * 256 + 256))
        java.security.MessageDigest.getInstance("MD5").digest(s)
          .map("%02x".format(_)).mkString
      }
    }
    val known = texts.flatMap(t => frames(t._2)).toSet
    // arrivals: a verbatim re-ingest of a corpus doc (all frames
    // known), a splice reusing a long doc's first full frame + novel
    // bytes (partially known — the source doc must have ≥256 bytes so
    // its own frame 0 is exactly that slice), and pure novel bytes
    val long = texts.find(_._2.getBytes("UTF-8").length >= 512).get._2
    val reused = texts.head._2
    val splice = long.take(256) + ("z" * 300)
    val novel = "q" * 700
    val arrivals = Seq((9001L, reused), (9002L, splice), (9003L, novel))
    val expected = arrivals.map { case (id, t) =>
      val fs = frames(t)
      (id, fs.length.toLong, fs.count(known).toLong)
    }.toSet
    assert(expected.exists(e => e._3 == e._2) &&
      expected.exists(e => e._3 > 0 && e._3 < e._2) &&
      expected.exists(_._3 == 0L))
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.frameReuseStats(in.toDS(), index)
      .writeStream.format("memory").queryName("framegate")
      .outputMode("append").start()
    in.addData(arrivals.map { case (id, t) =>
      EventStream.DocRow(id, ts("2024-01-01 10:00:00"), t) }: _*)
    q.processAllAvailable()
    in.addData(EventStream.DocRow(-999, ts("2024-01-02 12:00:00"), "tick"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("framegate")
      .select("doc_id", "n_frames", "n_known")
      .as[(Long, Long, Long)].collect().filter(_._1 > 0).toSet
    assert(got == expected, s"got $got vs $expected")
  }

  test("streaming phash gate over a standing-only index equals q_asset_phash_incremental") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the incremental contract end-to-end: the index holds ONLY the
    // standing 90% (id % 10 != 6); the arriving 10% is driven through
    // the streaming gate and must surface exactly the new×standing
    // pairs the batch maintenance leg reports
    val corpus = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val index = EventStream.corpusPhashIndex(
      corpus.filter($"doc_id" % 10 =!= 6))
    val expected = graft.queries.MultimodalMeta
      .qAssetPhashIncremental(spark, dir)
      .as[(Long, Long, Int)].collect().toSet
    assert(expected.nonEmpty, "corpus must have cross-split phash dups")
    val arriving = corpus.filter($"doc_id" % 10 === 6)
      .as[(Long, String)].collect()
    val in = MemoryStream[EventStream.DocRow]
    val q = EventStream.corpusPhashSuspects(in.toDS(), index)
      .writeStream.format("memory").queryName("phashincr")
      .outputMode("append").start()
    in.addData(arriving.map { case (id, t) =>
      EventStream.DocRow(id, ts("2024-01-01 10:00:00"), t) }.toSeq: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("phashincr")
      .select("doc_id", "corpus_asset_id", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected, {
      val diff = (got -- expected) ++ (expected -- got)
      s"first diffs: ${diff.take(5).mkString(",")}"
    })
  }

  test("streaming NB filter gate equals the batch classifier scores bit-for-bit") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.TextOps.docsWide(spark, dir)
      .select($"doc_id", $"source", $"text")
    val model = EventStream.nbFilterModel(spark, dir)
    val arrivals = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        EventStream.DocArrival(id, ts("2024-01-01 10:00:00"), t) }.toSeq
    val streamed = EventStream.nbFilterFlags(arrivals.toDS(), model)
      .select($"doc_id", $"score", $"keep").as[(Long, Double, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = graft.queries.Curation.classifierScores(docs)
      .select($"doc_id", $"score".cast("double"),
        ($"score" >= 0).as("k")).as[(Long, Double, Boolean)].collect()
    assert(batch.nonEmpty && streamed.keySet == batch.map(_._1).toSet)
    batch.foreach { case (id, sc, k) =>
      val (gs, gk) = streamed(id)
      assert(java.lang.Double.doubleToLongBits(gs) ==
        java.lang.Double.doubleToLongBits(sc), s"doc $id: gate $gs vs batch $sc")
      assert(gk == k, s"doc $id keep verdict diverged")
    }
    // an OOV-only arrival scores 0 and is admitted (no weights match)
    val oov = EventStream.nbFilterFlags(
      Seq(EventStream.DocArrival(999L, ts("2024-01-01 10:00:00"),
        "zzzunseen qqqnovel")).toDS(), model)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(oov.toSeq == Seq((999L, 0L, 0.0, true)))
  }

  test("streaming LM-score gate equals the batch cross-entropy bit-for-bit") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val model = EventStream.lmScoreModel(spark, dir)
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val arrivals = docs.map { case (id, t) =>
      EventStream.DocArrival(id, ts("2024-01-01 10:00:00"), t) }.toSeq
    val streamed = EventStream.lmScoreFlags(arrivals.toDS(), model)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val batch = graft.queries.TextOps.qLmScore(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(batch.nonEmpty && streamed.keySet == batch.map(_._1).toSet)
    batch.foreach { case (id, n, ce) =>
      val (gn, gu, gce) = streamed(id)
      assert(gn == n && gu == 0L, s"doc $id: $gn/$gu vs $n/0")
      assert(java.lang.Double.doubleToLongBits(gce) ==
        java.lang.Double.doubleToLongBits(ce), s"doc $id: gate $gce vs batch $ce")
    }
    // a novel-vocabulary arrival scores the unseen floor — maximally
    // surprising, never silently dropped
    val novel = EventStream.lmScoreFlags(
      Seq(EventStream.DocArrival(999L, ts("2024-01-01 10:00:00"),
        "zzzunseen qqqnovel")).toDS(), model)
      .as[(Long, Long, Long, Double)].collect()
    assert(novel.length == 1 && novel.head._3 == 2L)
    assert(novel.head._4 > streamed.values.map(_._3).max,
      "novel text must read as more surprising than any corpus doc")
  }

  test("streaming packer respects capacity and the per-unit bin floor") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect()
    val in = MemoryStream[EventStream.SourcedDocArrival]
    // the modulus is the committed batch rule, not a hardcoded 8 —
    // at sf0.001 it evaluates to the minimum (8), and reading it off
    // the corpus is exactly what a deployed gate does (advisor r13)
    val shards = EventStream.packShardModulus(spark, dir)
    assert(shards ==
      math.max(8L, (docs.length.toLong + 1999L) / 2000L))
    val q = EventStream.packGateUpdates(in.toDS(), shards = shards)
      .writeStream.format("memory").queryName("pack_gate")
      .outputMode("update").start()
    docs.grouped(docs.length / 2 + 1).foreach { b =>
      in.addData(b.map { case (id, src, t) =>
        EventStream.SourcedDocArrival(id, ts("2024-01-01 10:00:00"), src, t) }.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.sql(
      "SELECT source, shard, doc_id, n_toks, bin, fill_after FROM pack_gate")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._3).distinct.length == docs.length)
    // capacity invariant per (unit, bin): multi-doc bins never overfull
    rows.groupBy(r => (r._1, r._2, r._5)).foreach { case (k, rs) =>
      if (rs.length > 1) assert(rs.map(_._4).sum <= 512L, s"bin $k overfull")
    }
    // both packers cover the same units (sf0.001 keeps the batch
    // modulus at the gate's 8) and both respect the information floor
    // ceil(Σn/window) per unit — neither dominates the other per unit
    // (arrival order can pair sizes the sorted greedy splits), so the
    // floor is the invariant worth asserting, not a false ordering
    val online = rows.groupBy(r => (r._1, r._2))
      .view.mapValues(rs => (rs.map(_._5).max + 1, rs.map(_._4).sum)).toMap
    val batch = graft.queries.TextOps.qPackBins(spark, dir)
      .select($"source", $"shard", $"bin")
      .as[(String, Long, Long)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(rs => rs.map(_._3).max + 1).toMap
    assert(online.keySet == batch.keySet)
    online.foreach { case (unit, (nOnline, toks)) =>
      val floor = (toks + 511) / 512
      assert(nOnline >= floor, s"unit $unit: online $nOnline below floor $floor")
      assert(batch(unit) >= floor, s"unit $unit: batch below floor")
    }
  }

  test("streaming k-anon monitor drains to the batch group sizes over shuffled batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // QI parity contract (advisor r13): the gate buckets from the
    // arrival text's code-point count, the batch audit from the stored
    // n_chars column — enforce (not assume) that the two agree on this
    // corpus. Spark length() counts code points, same as codePointCount.
    assert(graft.core.Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.length($"text") =!= $"n_chars")
      .count() == 0L,
      "documents.n_chars must equal the code-point length of text")
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect()
    // deterministic shuffle (md5 order) split into three micro-batches
    val shuffled = docs.sortBy(d => scala.util.hashing.MurmurHash3
      .stringHash(d._1.toString))
    val in = MemoryStream[EventStream.SourcedDocArrival]
    val q = EventStream.kAnonGateUpdates(in.toDS())
      .writeStream.format("memory").queryName("kanon_gate")
      .outputMode("update").start()
    shuffled.grouped(math.max(1, shuffled.length / 3 + 1)).foreach { b =>
      in.addData(b.map { case (id, src, t) =>
        EventStream.SourcedDocArrival(id, ts("2024-01-01 10:00:00"), src, t) }.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.sql("SELECT doc_id, source, len_bucket, k_now, at_risk FROM kanon_gate")
      .as[(Long, String, Long, Long, Long)].collect()
    // every doc scored exactly once; flags match the running count
    assert(rows.map(_._1).distinct.length == docs.length)
    rows.foreach(r => assert(r._5 == (if (r._4 < 5) 1L else 0L)))
    // drained per-group maxima equal the batch audit's group sizes
    val gotSizes = rows.groupBy(r => (r._2, r._3))
      .view.mapValues(_.map(_._4).max).toMap
    val batchSizes = docs.groupBy(d => (d._2, d._3.length.toLong / 100L))
      .view.mapValues(_.length.toLong).toMap
    assert(gotSizes == batchSizes)
    // within every group the running count is a permutation of 1..k
    rows.groupBy(r => (r._2, r._3)).foreach { case (g, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1L to rs.length.toLong),
        s"group $g counts not 1..k")
    }
  }

  test("streaming shard-mix monitor drains to the batch audit's cell totals over shuffled batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect()
    val shuffled = docs.sortBy(d => scala.util.hashing.MurmurHash3
      .stringHash(d._1.toString))
    val in = MemoryStream[EventStream.SourcedDocArrival]
    val q = EventStream.shardMixGateUpdates(in.toDS())
      .writeStream.format("memory").queryName("shardmix_gate")
      .outputMode("update").start()
    shuffled.grouped(math.max(1, shuffled.length / 3 + 1)).foreach { b =>
      in.addData(b.map { case (id, src, t) =>
        EventStream.SourcedDocArrival(id, ts("2024-01-01 10:00:00"), src, t) }.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.sql(
      "SELECT doc_id, shard, source, n_toks, cell_toks FROM shardmix_gate")
      .as[(Long, String, String, Long, Long)].collect()
    // every doc scored exactly once
    assert(rows.map(_._1).distinct.length == docs.length)
    // drained per-cell running totals equal the batch audit's n_toks —
    // token sums are order-free, so the equality holds over any arrival
    // order or batch split
    val gotTotals = rows.groupBy(r => (r._2, r._3))
      .view.mapValues(_.map(_._5).max).toMap
    val batch = graft.queries.Mixing.qShardMix(spark, dir)
      .select($"shard", $"source", $"n_toks")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(gotTotals == batch)
    // within every cell the running totals form one prefix-sum chain
    rows.groupBy(r => (r._2, r._3)).foreach { case (g, rs) =>
      val sorted = rs.sortBy(_._5)
      var acc = 0L
      sorted.foreach { r =>
        acc += r._4
        assert(r._5 == acc, s"cell $g running totals not a prefix chain")
      }
    }
  }

  test("streaming keeper gate drains the tombstone set to the batch promotions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01" // 2 genuine promotions (LlmOpsSpec)
    val members = graft.queries.Dedup.keeperMembers(spark, dir)
    val memberIds = members.select($"doc_id").as[Long].collect().toSet
    // the batch tombstone set, shuffled into three micro-batches
    val dead = memberIds.filter(_ % 17 == 3).toSeq
      .sortBy(id => scala.util.hashing.MurmurHash3.stringHash(id.toString))
    assert(dead.nonEmpty, "fixture: some cluster member must be tombstoned")
    val in = MemoryStream[EventStream.DeleteArrival]
    val q = EventStream.keeperDeleteGateUpdates(in.toDS(), members)
      .writeStream.format("memory").queryName("keeper_gate")
      .outputMode("update").start()
    dead.grouped(math.max(1, dead.length / 3 + 1)).foreach { b =>
      in.addData(b.map(id =>
        EventStream.DeleteArrival(id, ts("2024-01-01 10:00:00"))).toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.sql(
      "SELECT doc_id, cluster_id, was_keeper, new_keeper, n_live FROM keeper_gate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4)))
    // every tombstoned member processed exactly once
    assert(rows.map(_._1).toSet == dead.toSet && rows.length == dead.length)
    // batch parity: for every batch promotion, the gate emitted the
    // keeper-seat delete with the same promoted successor
    val batch = graft.queries.Dedup.qKeeperDeletes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.nonEmpty)
    batch.foreach { case (cl, old, nw) =>
      val hit = rows.filter(r => r._2 == cl && r._1 == old)
      assert(hit.length == 1 && hit.head._3 == 1L && hit.head._4 == Some(nw),
        s"cluster $cl: gate ${hit.toSeq} vs batch promotion ($old -> $nw)")
    }
    // no-cascade sanity on this corpus: promoted keepers are live
    assert(batch.forall(_._3 % 17 != 3))
  }

  test("streaming keeper gate cascades when a promoted keeper is deleted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // planted cluster, election order (qd desc, id): 3, 37, 20, 55
    val members = Seq(
      (3L, 100L, BigDecimal("0.900000000")),
      (37L, 100L, BigDecimal("0.800000000")),
      (20L, 100L, BigDecimal("0.700000000")),
      (55L, 100L, BigDecimal("0.600000000")))
      .toDF("doc_id", "cluster_id", "qd")
    val in = MemoryStream[EventStream.DeleteArrival]
    val q = EventStream.keeperDeleteGateUpdates(in.toDS(), members)
      .writeStream.format("memory").queryName("keeper_cascade")
      .outputMode("update").start()
    // keeper 3 dies, then its successor 37 dies, then a non-keeper, and
    // a non-member delete must not surface at all
    Seq(3L, 37L, 55L, 999L).foreach { id =>
      in.addData(EventStream.DeleteArrival(id, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.sql(
      "SELECT doc_id, was_keeper, new_keeper, n_live FROM keeper_cascade")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
      .sortBy(r => Seq(3L, 37L, 55L, 999L).indexOf(r._1))
    assert(rows.map(_._1).toSeq == Seq(3L, 37L, 55L), rows.toSeq.toString)
    // 3 held the seat -> 37 promoted; 37 held it -> 20 promoted (the
    // cascade); 55 never held it and the keeper stays 20
    assert(rows(0) == ((3L, 1L, Some(37L), 3L)), rows.toSeq.toString)
    assert(rows(1) == ((37L, 1L, Some(20L), 2L)), rows.toSeq.toString)
    assert(rows(2) == ((55L, 0L, Some(20L), 1L)), rows.toSeq.toString)
  }

  test("streaming perplexity router matches the batch ntile buckets at the door") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val model = EventStream.pplRouteModel(spark, dir)
    val docs = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)].collect()
    val arrivals = docs.map { case (id, src, t) =>
      EventStream.SourcedDocArrival(id, ts("2024-01-01 10:00:00"), src, t) }.toSeq
    val routed = EventStream.pplRouteFlags(arrivals.toDS(), model)
      .select($"doc_id", $"cross_entropy", $"bucket")
      .as[(Long, Double, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // batch buckets re-derived: ntile(3) per source over (ce, doc_id)
    val src = docs.map(d => d._1 -> d._2).toMap
    val perDoc = graft.queries.TextOps.qLmScore(spark, dir)
      .as[(Long, Long, Double)].collect().map(r => (src(r._1), r._1, r._3))
    val batchBucket = perDoc.groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val base = sorted.length / 3; val extra = sorted.length % 3
      val sizes = (0 until 3).map(b => base + (if (b < extra) 1 else 0))
      val bounds = sizes.scanLeft(0)(_ + _)
      (0 until 3).flatMap(b =>
        sorted.slice(bounds(b), bounds(b + 1)).map(r => r._2 -> (b + 1)))
    }
    // no ce ties a committed boundary on this corpus, so the threshold
    // router and the rank bucketer must agree on EVERY document — and
    // the router's ce is the batch value bit-for-bit
    val batchCe = perDoc.map(r => r._2 -> r._3).toMap
    assert(routed.keySet == batchBucket.keySet)
    batchBucket.foreach { case (id, b) =>
      val (ce, got) = routed(id)
      assert(java.lang.Double.doubleToLongBits(ce) ==
        java.lang.Double.doubleToLongBits(batchCe(id)), s"doc $id ce drift")
      assert(got == b, s"doc $id routed $got, batch bucket $b")
    }
    // an arrival from an unprofiled source routes to the tail
    val novel = EventStream.pplRouteFlags(
      Seq(EventStream.SourcedDocArrival(999L, ts("2024-01-01 10:00:00"),
        "brand-new-source", "some ordinary text here")).toDS(), model)
      .select($"bucket").as[Int].collect()
    assert(novel.toSeq == Seq(3))
    // review r13: a source with a SINGLE document has only a bucket-1
    // row in the bucket table — the model builder must collapse the
    // missing middle boundary onto the head's instead of throwing
    val onedoc = Seq((1L, "lonely text here", "solo", "en"),
      (2L, "aa bb", "duo", "en"), (3L, "cc dd", "duo", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val dir1 = tempDir("pplroute1")
    onedoc.write.mode("overwrite").parquet(s"$dir1/documents.parquet")
    val m1 = EventStream.pplRouteModel(spark, dir1)
    assert(m1.bounds.contains("solo") && m1.bounds.contains("duo"))
    val (b1, b2) = m1.bounds("solo")
    assert(b1 == b2, "1-doc source: middle boundary collapses onto head")
  }

  test("streaming funnel emits one conversion per user across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.EventRow]
    val q = EventStream.funnel(in.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    // user 7 progresses one stage per micro-batch (state carries across);
    // user 8's purchase precedes any click → never converts
    in.addData(
      EventStream.EventRow(1, ts("2024-01-01 10:00:00"), 7, "view", 1.0),
      EventStream.EventRow(2, ts("2024-01-01 10:00:01"), 8, "purchase", 1.0))
    q.processAllAvailable()
    in.addData(
      EventStream.EventRow(3, ts("2024-01-01 10:05:00"), 7, "click", 1.0),
      EventStream.EventRow(4, ts("2024-01-01 10:06:00"), 8, "view", 1.0))
    q.processAllAvailable()
    assert(spark.table("funnel").count() == 0) // nobody has purchased post-click yet
    in.addData(
      EventStream.EventRow(5, ts("2024-01-01 10:30:00"), 7, "purchase", 1.0),
      // a second purchase must NOT re-emit
      EventStream.EventRow(6, ts("2024-01-01 10:31:00"), 7, "purchase", 1.0))
    q.processAllAvailable()
    val rows = spark.table("funnel")
      .as[EventStream.FunnelOut].collect().toSeq
    assert(rows == Seq(EventStream.FunnelOut(7L, 3, 1800000000L)), s"got $rows")
    // advance the watermark past user 8's TTL (view at 10:06 + 24 h):
    // the state is reaped and the abandonment record (stage 1, -1) lands
    in.addData(EventStream.EventRow(7, ts("2024-01-03 12:00:00"), 9, "view", 1.0))
    q.processAllAvailable(); q.stop()
    val all = spark.table("funnel")
      .as[EventStream.FunnelOut].collect().toSet
    assert(all.contains(EventStream.FunnelOut(8L, 1, -1L)), s"got $all")
    // converted user 7 must NOT produce an abandonment row
    assert(!all.exists(o => o.user_id == 7L && o.convert_us == -1L), s"got $all")
  }

  test("sessionize splits on the 30-minute gap and flushes by timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStream.EventRow]
    in.addData(
      EventStream.EventRow(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
      EventStream.EventRow(2, ts("2024-01-01 10:10:00"), 7, "click", 1.0),
      // 50-minute silence → new session
      EventStream.EventRow(3, ts("2024-01-01 11:00:00"), 7, "view", 1.0),
      EventStream.EventRow(4, ts("2024-01-01 15:00:00"), 8, "click", 1.0))
    val q = EventStream.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 1 set the watermark to 14:00; this batch fires the event-time
    // timeout that flushes user 7's open 11:00 session
    in.addData(EventStream.EventRow(5, ts("2024-01-01 16:00:00"), 9, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sess")
      .select("user_id", "n_events", "duration_us")
      .as[(Long, Long, Long)].collect().toSet
    // user 7 session 1: 2 events over 10 minutes (emitted on in-batch gap);
    // user 7 session 2: the single 11:00 event (flushed by timeout)
    assert(rows.contains((7L, 2L, 600000000L)), s"got $rows")
    assert(rows.contains((7L, 1L, 0L)), s"got $rows")
  }

  test("streaming outlier flags are bit-equal to the batch operator under one model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch face first: flags the corpus AND commits the centroid mirror
    val batch = graft.queries.Similarity.qEmbedOutliers(spark, sfDir)
      .as[(Long, Long)].collect().map { case (id, c) => (id, c) }.toSet
    val cents = spark.read
      .parquet(graft.queries.Similarity.learnedCentroidsPath(sfDir).toString)
      .select($"cluster_id".cast("long").as("cid"), $"cv")
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val model = EventStream.cellStatsModel(emb, cents)
    // stream the SAME corpus through the scorer: committed stats + the
    // shared decimal predicate must reproduce the batch flag set exactly
    val vecs = emb.as[(Long, Seq[Double])].collect()
      .map { case (id, v) => EventStream.VecRow(id, ts("2024-01-01 10:00:00"), v) }
    val in = MemoryStream[EventStream.VecRow]
    in.addData(vecs.toIndexedSeq)
    val q = EventStream.embedOutlierFlags(in.toDS(), model)
      .writeStream.format("memory").queryName("eflags")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("eflags")
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream ${streamed.size} vs batch ${batch.size}; " +
        s"diff ${(streamed diff batch) ++ (batch diff streamed)}")
    assert(streamed.nonEmpty, "no flags at this SF — vacuous parity")
  }

  test("streaming label-audit flags are bit-equal to the batch operator under one model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.queries.Similarity.qLabelAudit(spark, sfDir)
      .select($"vec_id".cast("long"), $"label", $"best_other", $"margin")
      .as[(Long, Int, Int, Double)].collect().toSet
    val model = EventStream.labelCentroidModel(
      graft.queries.Similarity.labelCentroids(spark, sfDir))
    // stream the SAME corpus through the scorer: shared centroid frame +
    // shared decimal predicate must reproduce the batch flag set exactly,
    // margins included (both faces subtract the same 9-dp decimals)
    val vecs = graft.core.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>"))
      .as[(Long, Int, Seq[Double])].collect()
      .map { case (id, lab, v) =>
        EventStream.LabeledVecRow(id, ts("2024-01-01 10:00:00"), lab, v)
      }
    // plus one arrival OUTSIDE the committed label vocabulary: own
    // scores the cosine floor −1, so it must flag against SOME centroid
    val unknown = EventStream.LabeledVecRow(999999L,
      ts("2024-01-01 10:00:00"), 99, vecs.head.v)
    val in = MemoryStream[EventStream.LabeledVecRow]
    in.addData((vecs :+ unknown).toIndexedSeq)
    val q = EventStream.labelAuditFlags(in.toDS(), model)
      .writeStream.format("memory").queryName("lflags")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("lflags")
      .select("vec_id", "label", "best_other", "margin")
      .as[(Long, Int, Int, Double)].collect().toSet
    val (unknownRows, knownRows) = streamed.partition(_._1 == 999999L)
    assert(knownRows == batch,
      s"stream ${knownRows.size} vs batch ${batch.size}; " +
        s"diff ${(knownRows diff batch) ++ (batch diff knownRows)}")
    assert(knownRows.nonEmpty, "no flags at this SF — vacuous parity")
    assert(unknownRows.size == 1 && unknownRows.head._4 > 1.0,
      s"unknown label must flag with margin > 1 (own = cosine floor): $unknownRows")
  }

  test("streaming quality-gate flags are bit-equal to the batch rule bundle under one vocabulary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // expected flags derive from the BATCH bundles' outputs (ratio
    // values included), so any drift between the two faces' arithmetic
    // fails the bit-equal compare
    val gopher = graft.queries.TextOps.qGopherRules(spark, sfDir)
      .select($"doc_id", $"n_words", $"mean_word_len", $"symbol_ratio",
        $"ellipsis_ratio", $"alpha_ratio", $"stop_hits")
      .as[(Long, Long, Double, Double, Double, Double, Long)].collect()
    val oov = graft.queries.TextOps.qOovRate(spark, sfDir)
      .select($"doc_id", $"oov_rate").as[(Long, Double)].collect()
    val expected: Set[(Long, String, Double)] = (gopher.flatMap {
      case (id, n, mwl, sym, ell, alpha, stop) =>
        List(
          (n < 50 || n > 100000) -> ("words", n.toDouble),
          (mwl < 3.0 || mwl > 10.0) -> ("word_len", mwl),
          (sym > 0.1) -> ("symbol", sym),
          (ell > 0.3) -> ("ellipsis", ell),
          (alpha < 0.8) -> ("alpha", alpha),
          (stop < 2) -> ("stop", stop.toDouble))
          .collect { case (true, (r, v)) => (id, r, v) }
    } ++ oov.collect {
      case (id, r) if r > EventStream.OovGateMax => (id, "oov", r)
    }).toSet
    val model = EventStream.qualityGateModel(spark, sfDir)
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        EventStream.DocArrival(id, ts("2024-01-01 10:00:00"), t)
      }
    // plus a planted junk arrival: pure symbol soup must trip the
    // word-count, symbol, alpha, stop and oov rules in one pass
    val junk = EventStream.DocArrival(999999L, ts("2024-01-01 10:00:00"),
      "### ### ### ### ### ### ### ### ### ###")
    val in = MemoryStream[EventStream.DocArrival]
    in.addData((docs :+ junk).toIndexedSeq)
    val q = EventStream.qualityGateFlags(in.toDS(), model)
      .writeStream.format("memory").queryName("qgate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("qgate").select("doc_id", "rule", "value")
      .as[(Long, String, Double)].collect().toSet
    val (junkRows, known) = streamed.partition(_._1 == 999999L)
    assert(known == expected,
      s"stream ${known.size} vs batch ${expected.size}; " +
        s"diff ${(known diff expected) ++ (expected diff known)}")
    assert(known.nonEmpty, "no flags at this SF — vacuous parity")
    assert(junkRows.map(_._2) == Set("words", "symbol", "alpha", "stop", "oov"),
      s"junk arrival rules: $junkRows")
  }

  test("streaming dsir weights equal the batch job bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.queries.Retrieval.qDsirWeights(spark, sfDir)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val model = EventStream.dsirModel(spark, sfDir)
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) =>
        EventStream.DocArrival(id, ts("2024-01-01 10:00:00"), t)
      }
    val in = MemoryStream[EventStream.DocArrival]
    in.addData(docs.toIndexedSeq)
    val q = EventStream.dsirScores(in.toDS(), model)
      .writeStream.format("memory").queryName("dsir")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dsir").select("doc_id", "n_tokens", "dsir_weight")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed == batch,
      s"stream ${streamed.size} vs batch ${batch.size} docs; " +
        s"first diff: ${(streamed.toSet diff batch.toSet).take(3)}")
    assert(batch.nonEmpty, "no scored docs at this SF — vacuous parity")
  }

  test("streaming ann attach equals the batch incremental index job") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q_ann_incremental")(spark, sfDir)
      .as[(Long, Int, Long)].collect().toSet
    val cents = graft.queries.Similarity.annAttachCentroids(spark, sfDir)
      .as[(Long, Seq[Double])].collect()
      .map { case (cid, cv) => (cid, cv.toArray) }.toSeq
    val index = graft.queries.Similarity.annAttachIndex(spark, sfDir)
    val arrivals = graft.queries.Similarity.annArrivals(spark, sfDir)
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => EventStream.VecRow(id, ts("2024-01-01 10:00:00"), v) }
    val in = MemoryStream[EventStream.VecRow]
    in.addData(arrivals.toIndexedSeq)
    val q = EventStream.annAttachTopK(in.toDS(), index, cents,
        k = graft.queries.Similarity.annK,
        nprobe = graft.queries.Similarity.annNProbe)
      .writeStream.format("memory").queryName("annattach")
      .outputMode("append").start()
    q.processAllAvailable()
    // a far-future straggler pushes the watermark past every arrival's
    // timeout so the heaps flush; its own heap never times out and is
    // filtered from the comparison
    in.addData(EventStream.VecRow(999999L, ts("2024-01-02 10:00:00"),
      arrivals.head.v))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("annattach")
      .filter($"query_id" =!= 999999L)
      .as[(Long, Int, Long)].collect().toSet
    assert(streamed == batch,
      s"stream ${streamed.size} vs batch ${batch.size}; " +
        s"diff ${(streamed diff batch).take(3)} / ${(batch diff streamed).take(3)}")
    assert(batch.nonEmpty, "no batch attach rows — vacuous parity")
  }

  test("streaming token-budget gate equals the batch cap decisions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q_token_budget")(spark, sfDir)
      .select($"doc_id", $"n_tokens", $"keep")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val model = graft.queries.Mixing.tokenBudgetModel(spark, sfDir)
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect().map { case (id, src, t) =>
        EventStream.SourcedDocArrival(id, ts("2024-01-01 10:00:00"), src, t)
      }
    // plus an arrival from a source the committed model never saw —
    // zero committed tokens is under budget, so it must be kept
    val novel = EventStream.SourcedDocArrival(888888L,
      ts("2024-01-01 10:00:00"), "brand-new-source", "a b c")
    val in = MemoryStream[EventStream.SourcedDocArrival]
    in.addData((docs :+ novel).toIndexedSeq)
    val q = EventStream.tokenBudgetFlags(in.toDS(), model,
        graft.queries.Mixing.budgetTokens)
      .writeStream.format("memory").queryName("tbgate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tbgate")
      .select($"doc_id", $"n_tokens", $"keep")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed(888888L) == ((3L, true)), streamed(888888L))
    assert(streamed - 888888L == batch,
      s"stream ${streamed.size - 1} vs batch ${batch.size}")
    assert(batch.values.exists(!_._2), "no dropped docs — vacuous gate")
  }

  test("streaming kmv sketch drains to the batch estimator bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // first-principles reference: per-source distinct 3-shingle md5
    // bottom-64 (the batch sketch), independent of both implementations
    val rows = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = rows.groupBy(_._2).flatMap { case (src, ds) =>
      val hs = ds.flatMap { case (_, _, t) =>
        val w = t.split(' ')
        (0 to w.length - 3).map(i => md5hex(s"${w(i)} ${w(i + 1)} ${w(i + 2)}"))
      }.distinct.sorted.take(64)
      if (hs.isEmpty) None else {
        val hk = hs.last
        val est = (hs.length - 1).toDouble /
          (java.lang.Long.parseLong(hk.substring(0, 12), 16).toDouble / 281474976710656.0)
        Some(src -> ((hs.length.toLong, hk, est)))
      }
    }
    // stream the corpus in 3 shuffled micro-batches (md5-of-id order —
    // deterministic, uncorrelated with source or text order) so batch
    // boundaries and arrival order are exercised
    val arrivals = rows.sortBy(r => md5hex(r._1.toString)).map { case (id, src, t) =>
      EventStream.SourcedDocArrival(id, ts("2024-01-01 10:00:00"), src, t)
    }
    val chunks = arrivals.grouped((arrivals.length + 2) / 3).toSeq
    val in = MemoryStream[EventStream.SourcedDocArrival]
    val got = scala.collection.mutable.Map.empty[String, (Long, String, Double)]
    val q = EventStream.kmvSketchUpdates(in.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.collect().foreach(r =>
          got(r.getString(0)) = (r.getLong(1), r.getString(2), r.getDouble(3)))
        ()
      }.start()
    chunks.foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
    q.stop()
    assert(got.toMap == expected.toMap,
      s"diff: ${(expected.toSet -- got.toSet) ++ (got.toSet -- expected.toSet)}")
    // oracle anchor: the drained estimates equal the oracle-checked
    // batch face's kmv_est column bit-for-bit
    val batchEst = graft.SparkEntry.queries("q_kmv_distinct")(spark, sfDir)
      .select($"source", $"kmv_est").as[(String, Double)].collect().toMap
    assert(got.view.mapValues(_._3).toMap == batchEst)
  }

  test("streaming keyword-tag gate equals the batch dictionary tagger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q_keyword_tag")(spark, sfDir)
      .as[(Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().map { case (id, t) =>
        EventStream.DocArrival(id, ts("2024-01-01 10:00:00"), t)
      }
    // an arrival hitting a blocked bigram across a token boundary —
    // the overlapping 2-gram counting must see it exactly once per
    // occurrence, including back-to-back repeats
    val planted = EventStream.DocArrival(777777L,
      ts("2024-01-01 10:00:00"), "x slow scan slow scan y column")
    val in = MemoryStream[EventStream.DocArrival]
    in.addData((docs :+ planted).toIndexedSeq)
    val q = EventStream.keywordTagHits(in.toDS(),
        graft.queries.Corpus.TagDict.toMap)
      .writeStream.format("memory").queryName("kwgate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("kwgate")
      .select($"doc_id", $"category", $"n_hits", $"n_phrases")
      .as[(Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // planted: "slow"×2 + "slow scan"×2 = 4 perf hits over 2 distinct
    // phrases; "column"×1 storage
    assert(streamed((777777L, "perf")) == ((4L, 2L)))
    assert(streamed((777777L, "storage")) == ((1L, 1L)))
    val streamedCorpus = streamed.view.filterKeys(_._1 != 777777L).toMap
    assert(streamedCorpus == batch,
      s"stream ${streamedCorpus.size} vs batch ${batch.size}")
  }

  test("postings delete gate drains the tombstone set to the batch retraction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val postings = graft.queries.Retrieval.postings(spark, dir)
    val stats = graft.queries.Retrieval.termStats(spark, dir)
    // the batch tombstone set, shuffled into three micro-batches (the
    // keeper-gate drain pattern); 999999 is a non-holder that must not
    // surface at all
    val dead = graft.core.Tables.documents(spark, dir)
      .select($"doc_id").as[Long].collect().filter(_ % 17 == 3).toSeq
      .sortBy(id => scala.util.hashing.MurmurHash3.stringHash(id.toString))
    assert(dead.nonEmpty)
    val in = MemoryStream[EventStream.DeleteArrival]
    val q = EventStream.postingsDeleteGateUpdates(in.toDS(), postings, stats)
      .writeStream.format("memory").queryName("vocab_gate")
      .outputMode("update").start()
    (dead :+ 999999L).grouped(math.max(1, dead.length / 3 + 1)).foreach { b =>
      in.addData(b.map(id =>
        EventStream.DeleteArrival(id, ts("2024-01-01 10:00:00"))).toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.sql(
      "SELECT term, doc_id, df_live, cf_live, vanished FROM vocab_gate")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(!rows.exists(_._2 == 999999L), "non-holder surfaced")
    // each (term, holder) retraction emitted exactly once
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    // drained per-term final state == the batch retraction face,
    // bit-for-bit (df_live, cf_live, vanished) — order-free because the
    // dead set is a plain union
    val finals = rows.groupBy(_._1).map { case (t, rs) =>
      val last = rs.minBy(_._3)
      t -> ((last._3, last._4, last._5))
    }
    val batch = graft.queries.Retrieval.qPostingsDeletes(spark, dir)
      .select($"term", $"df_live", $"cf_live", $"vanished")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(finals == batch, s"gate ${finals.size} terms vs batch ${batch.size}")
    assert(batch.nonEmpty)
    // the corpora's vocabulary is dense (no term vanishes naturally —
    // checked both sf dirs), so the gate's whole point is exercised on
    // a planted corpus: doc 3 (3 % 17 = 3) holds the only "gamma", and
    // its takedown must raise the live vanish alert
    val pdir = tempDir("vocabgate")
    Seq((1L, "alpha beta"), (3L, "gamma gamma beta"), (6L, "beta delta"))
      .map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$pdir/documents.parquet")
    try {
      val in2 = MemoryStream[EventStream.DeleteArrival]
      val q2 = EventStream.postingsDeleteGateUpdates(in2.toDS(),
          graft.queries.Retrieval.postings(spark, pdir),
          graft.queries.Retrieval.termStats(spark, pdir))
        .writeStream.format("memory").queryName("vocab_gate2")
        .outputMode("update").start()
      in2.addData(EventStream.DeleteArrival(3L, ts("2024-01-01 10:00:00")))
      q2.processAllAvailable(); q2.stop()
      val planted = spark.sql(
        "SELECT term, df_live, cf_live, vanished FROM vocab_gate2")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(planted == Map(
        "gamma" -> ((0L, 0L, 1L)),  // the vanish alert, live
        "beta" -> ((2L, 2L, 0L))),
        planted.toString)
    } finally graft.operators.Staging.invalidate(Some(pdir))
  }

  test("semantic door gate matches the batch attach leg over the same corpus and model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // sf0.01: the corpus where the attach leg has a genuine rejection
    // (the LlmOpsSpec brute-force test's observation)
    val sfDir = "/root/testdata/sf0.01"
    val cent = graft.queries.Similarity.semanticDoorCentroids(spark, sfDir)
    val members = graft.queries.Similarity.semanticStandingMembers(spark, sfDir)
    val arrivals = graft.core.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .where("vec_id % 10 = 6")
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) =>
        EventStream.VecArrival(id, ts("2024-01-01 10:00:00"), v) }
    val in = MemoryStream[EventStream.VecArrival]
    in.addData(arrivals.toIndexedSeq)
    val q = EventStream.semanticDoorFlags(in.toDS(), cent, members)
      .writeStream.format("memory").queryName("semdoor")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("semdoor")
      .select($"vec_id", $"cell", $"admitted", $"near_id", $"n_standing_dups")
      .as[(Long, Long, Boolean, Long, Long)].collect()
    // every arrival got exactly one verdict
    assert(streamed.length == arrivals.length &&
      streamed.map(_._1).toSet == arrivals.map(_.vec_id).toSet)
    // rejections == the batch attach leg, bit-for-bit (same cell, same
    // lowest standing canonical, same match count)
    val rejected = streamed.filterNot(_._3)
      .map(r => (r._1, r._2, r._4, r._5)).toSet
    val batch = graft.queries.Similarity
      .qSemanticDedupIncremental(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rejected == batch, s"door $rejected vs batch $batch")
    assert(rejected.nonEmpty, "fixture must exercise a rejection")
    // a cell with no standing members admits via the outer-join null
    // block (a new region of embedding space has nothing to duplicate)
    val in2 = MemoryStream[EventStream.VecArrival]
    in2.addData(EventStream.VecArrival(99L, ts("2024-01-01 10:00:00"),
      Seq(1.0, 0.0, 0.0)))
    val noMembers = spark.emptyDataset[(Long, Seq[EventStream.CellMember])]
      .toDF("cell", "members")
    val q2 = EventStream.semanticDoorFlags(in2.toDS(),
        Seq(7L -> Array(1.0, 0.0, 0.0)), noMembers)
      .writeStream.format("memory").queryName("semdoor2")
      .outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    val lone = spark.table("semdoor2")
      .select($"vec_id", $"cell", $"admitted", $"near_id", $"n_standing_dups")
      .as[(Long, Long, Boolean, Long, Long)].collect().toSeq
    assert(lone == Seq((99L, 7L, true, -1L, 0L)), lone.toString)
  }

  test("streaming maintenance commits fold micro-batches into the committed indexes exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{DedupIndex, SemanticIndex}
    def d9(s: String): BigDecimal = BigDecimal(s).setScale(9)
    val qd = Seq(5L -> "0.05", 10L -> "0.10", 11L -> "0.90", 20L -> "0.20",
      21L -> "0.80", 30L -> "0.30", 46L -> "0.46", 56L -> "0.56",
      60L -> "0.60", 66L -> "0.66")
      .map { case (i, q) => (i, d9(q)) }.toDF("doc_id", "qd")
    val baseMembers = Seq(
      (10L, 10L, "0.10"), (11L, 10L, "0.90"), (20L, 20L, "0.20"), (21L, 20L, "0.80"))
      .map { case (a, c, q) => (a, c, d9(q)) }.toDF("doc_id", "cluster_id", "qd")
    val pairs = Seq((11L, 30L), (5L, 10L), (5L, 20L), (46L, 56L), (60L, 66L))
    // ONE-SHOT reference: every decision in a single batch apply
    val rootBatch = java.nio.file.Paths.get(tempDir("mntone"), "idx")
    DedupIndex.writeBase(spark, rootBatch, baseMembers)
    DedupIndex.applyMaintenance(spark, rootBatch,
      pairs.toDF("doc_a", "doc_b"), qd, Seq(11L).toDF("doc_id"))
    // STREAMED: the same decisions over three shuffled micro-batches
    val rootStream = java.nio.file.Paths.get(tempDir("mntstream"), "idx")
    DedupIndex.writeBase(spark, rootStream, baseMembers)
    val in = MemoryStream[EventStream.LabelMaintenance]
    val q = EventStream.dedupIndexSink(in.toDS(), rootStream, qd)
      .option("checkpointLocation", tempDir("mntckpt")).start()
    in.addData(EventStream.LabelMaintenance("pair", 46L, 56L),
      EventStream.LabelMaintenance("pair", 5L, 20L))
    q.processAllAvailable()
    // crash BETWEEN micro-batches: the committed prefix is readable now
    def labelSet(root: java.nio.file.Path) = DedupIndex.labels(spark, root)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(labelSet(rootStream) == Set((10L, 10L), (11L, 10L),
      (20L, 5L), (21L, 5L), (5L, 5L), (46L, 46L), (56L, 46L)))
    in.addData(EventStream.LabelMaintenance("pair", 11L, 30L),
      EventStream.LabelMaintenance("pair", 5L, 10L),
      EventStream.LabelMaintenance("pair", 60L, 66L))
    q.processAllAvailable()
    in.addData(EventStream.LabelMaintenance("tomb", 11L, 0L))
    q.processAllAvailable(); q.stop()
    // labels AND seats bit-equal to the one-shot batch apply
    assert(labelSet(rootStream) == labelSet(rootBatch))
    def keeperSet(root: java.nio.file.Path) = DedupIndex.keepers(spark, root)
      .select("cluster_id", "keeper_id").as[(Long, Long)].collect().toSet
    assert(keeperSet(rootStream) == keeperSet(rootBatch))
    // epochs recorded; a replayed micro-batch (post-crash restart) is a
    // no-op, not a duplicate fold
    assert(StoreLayout.appliedEpochs(rootStream) == Set(0L, 1L, 2L))
    val before = StoreLayout.committedDeltaCount(rootStream)
    EventStream.dedupMaintenanceBatch(rootStream, qd,
      Seq(("pair", 46L, 56L)).toDF("kind", "a", "b"), batchId = 0L)
    assert(StoreLayout.committedDeltaCount(rootStream) == before)
    assert(labelSet(rootStream) == labelSet(rootBatch))

    // semantic twin: admitted adds + tombs over shuffled micro-batches
    val semBatch = java.nio.file.Paths.get(tempDir("mntsemone"), "cells")
    SemanticIndex.writeBase(spark, semBatch,
      Seq((1L, 0L), (2L, 0L), (11L, 7L)).toDF("vec_id", "cell"))
    SemanticIndex.applyMaintenance(spark, semBatch,
      Seq((6L, 0L), (16L, 7L)).toDF("vec_id", "cell"), Seq(2L).toDF("vec_id"))
    val semStream = java.nio.file.Paths.get(tempDir("mntsemstr"), "cells")
    SemanticIndex.writeBase(spark, semStream,
      Seq((1L, 0L), (2L, 0L), (11L, 7L)).toDF("vec_id", "cell"))
    val sin = MemoryStream[EventStream.CellMaintenance]
    val sq = EventStream.semanticIndexSink(sin.toDS(), semStream)
      .option("checkpointLocation", tempDir("mntsemckpt")).start()
    sin.addData(EventStream.CellMaintenance("add", 16L, 7L))
    sq.processAllAvailable()
    sin.addData(EventStream.CellMaintenance("tomb", 2L, -1L),
      EventStream.CellMaintenance("add", 6L, 0L))
    sq.processAllAvailable(); sq.stop()
    def cellSet(root: java.nio.file.Path) = SemanticIndex.cells(spark, root)
      .as[(Long, Long)].collect().toSet
    assert(cellSet(semStream) == cellSet(semBatch))
    assert(StoreLayout.appliedEpochs(semStream) == Set(0L, 1L))
    EventStream.semanticMaintenanceBatch(semStream,
      Seq(("add", 16L, 7L)).toDF("kind", "vec_id", "cell"), batchId = 1L)
    assert(StoreLayout.committedDeltaCount(semStream) == 2)
  }

  test("postings and phash sinks fold micro-batches bit-equal to the one-shot apply") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{PhashIndex, PostingsIndex}
    // ONE-SHOT reference: base + a single apply carrying an upsert of
    // doc 1 (replaced content), a new doc 16, and a tombstone of doc 3
    val basePost = Seq(("a", 1L, 2L, 1L), ("b", 1L, 2L, 1L),
      ("a", 2L, 1L, 1L), ("c", 3L, 1L, 1L))
    val adds = Seq(("a", 1L, 3L, 2L), ("d", 1L, 3L, 1L), ("e", 16L, 1L, 1L))
    val pBatch = java.nio.file.Paths.get(tempDir("pmntone"), "idx")
    PostingsIndex.writeBase(spark, pBatch,
      basePost.toDF("term", "doc_id", "dl", "tf"))
    PostingsIndex.applyMaintenance(spark, pBatch,
      adds.toDF("term", "doc_id", "dl", "tf"), Seq(3L).toDF("doc_id"))
    // STREAMED: the same decisions over two shuffled micro-batches
    val pStream = java.nio.file.Paths.get(tempDir("pmntstr"), "idx")
    PostingsIndex.writeBase(spark, pStream,
      basePost.toDF("term", "doc_id", "dl", "tf"))
    val in = MemoryStream[EventStream.PostingsMaintenance]
    val q = EventStream.postingsIndexSink(in.toDS(), pStream)
      .option("checkpointLocation", tempDir("pmntckpt")).start()
    in.addData(EventStream.PostingsMaintenance("add", "e", 16L, 1L, 1L),
      EventStream.PostingsMaintenance("tomb", "", 3L, 0L, 0L))
    q.processAllAvailable()
    // crash BETWEEN micro-batches: the committed prefix is readable now
    def stats(root: java.nio.file.Path) = PostingsIndex.stats(spark, root)
      .as[(String, Long, Long)].collect().toSet
    assert(stats(pStream) == Set(("a", 2L, 2L), ("b", 1L, 1L), ("e", 1L, 1L)))
    in.addData(EventStream.PostingsMaintenance("add", "a", 1L, 3L, 2L),
      EventStream.PostingsMaintenance("add", "d", 1L, 3L, 1L))
    q.processAllAvailable(); q.stop()
    // postings, sidecar and constants bit-equal to the one-shot apply
    // (the delta split differs; the composed state must not)
    def post(root: java.nio.file.Path) = PostingsIndex.postings(spark, root)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(post(pStream) == post(pBatch))
    assert(stats(pStream) == stats(pBatch))
    assert(PostingsIndex.corpusStats(spark, pStream)
      .as[(Long, Long)].head() ==
      PostingsIndex.corpusStats(spark, pBatch).as[(Long, Long)].head())
    // epoch replay (post-crash restart) is a no-op, not a double fold
    assert(StoreLayout.appliedEpochs(pStream) == Set(0L, 1L))
    val nDeltas = StoreLayout.committedDeltaCount(pStream)
    EventStream.postingsMaintenanceBatch(pStream,
      Seq(("add", "e", 16L, 1L, 1L)).toDF("kind", "term", "doc_id", "dl", "tf"),
      batchId = 0L)
    assert(StoreLayout.committedDeltaCount(pStream) == nDeltas)
    assert(stats(pStream) == stats(pBatch))

    // phash twin: both grains + tombs over shuffled micro-batches
    val hBatch = java.nio.file.Paths.get(tempDir("hmntone"), "idx")
    PhashIndex.writeBase(spark, hBatch,
      Seq((1L, 100L), (3L, 300L)).toDF("asset_id", "h"),
      Seq((1L, "fa"), (3L, "fc")).toDF("asset_id", "fh"))
    PhashIndex.applyMaintenance(spark, hBatch,
      Seq((16L, 1600L)).toDF("asset_id", "h"),
      Seq((16L, "fx"), (16L, "fy")).toDF("asset_id", "fh"),
      Seq(3L).toDF("asset_id"))
    val hStream = java.nio.file.Paths.get(tempDir("hmntstr"), "idx")
    PhashIndex.writeBase(spark, hStream,
      Seq((1L, 100L), (3L, 300L)).toDF("asset_id", "h"),
      Seq((1L, "fa"), (3L, "fc")).toDF("asset_id", "fh"))
    val hin = MemoryStream[EventStream.AssetMaintenance]
    val hq = EventStream.phashIndexSink(hin.toDS(), hStream)
      .option("checkpointLocation", tempDir("hmntckpt")).start()
    hin.addData(EventStream.AssetMaintenance("phash", 16L, 1600L, ""),
      EventStream.AssetMaintenance("frame", 16L, 0L, "fx"))
    hq.processAllAvailable()
    hin.addData(EventStream.AssetMaintenance("frame", 16L, 0L, "fy"),
      EventStream.AssetMaintenance("tomb", 3L, 0L, ""))
    hq.processAllAvailable(); hq.stop()
    def ph(root: java.nio.file.Path) = PhashIndex.phash(spark, root)
      .as[(Long, Long)].collect().toSet
    def fr(root: java.nio.file.Path) = PhashIndex.frames(spark, root)
      .as[(Long, String)].collect().toSet
    // NOTE the second micro-batch only ADDS a frame for 16 — under the
    // upsert rule the frame grain replaces per asset, so streaming an
    // asset's frames across batches would drop the earlier ones; the
    // door emits all of an asset's rows in its arrival batch. Here
    // batch 2 re-sends fy only, so the composed frame set differs from
    // one-shot by fx — assert the honest expectation per batch shape.
    assert(ph(hStream) == ph(hBatch))
    assert(fr(hStream) == Set((1L, "fa"), (16L, "fy")))
    assert(StoreLayout.appliedEpochs(hStream) == Set(0L, 1L))
    EventStream.phashMaintenanceBatch(hStream,
      Seq(("tomb", 3L, 0L, "")).toDF("kind", "asset_id", "h", "fh"),
      batchId = 1L)
    assert(StoreLayout.committedDeltaCount(hStream) == 2)
  }

  test("door scalar token count == batch column token count (one rule)") {
    import spark.implicits._
    // the single-definition contract (advisor r14): every door counts
    // tokens through DoorDraws.tokenCount, batch faces through
    // TextOps.tokenCount — prove the two agree on the edge shapes
    // (empty string, doubled spaces, leading/trailing space)
    val samples = Seq("", "a", "a b", "a  b", " a b ", "x y z w",
      "one two  three   four")
    val viaColumn = samples.toDF("text")
      .select(graft.queries.TextOps.tokenCount($"text").as("n"))
      .as[Long].collect().toSeq
    val viaScalar = samples.map(EventStream.DoorDraws.tokenCount)
    assert(viaColumn == viaScalar,
      s"column $viaColumn vs scalar $viaScalar")
  }
}
