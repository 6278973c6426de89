package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** Corpus-governance operators — the reporting/selection faces a
  * large-scale training-data pipeline runs BETWEEN the heavy passes:
  * dictionary tagging (blocklists/taxonomies), snapshot diffing
  * (crawl-over-crawl change accounting), margin-based neighbor mining
  * (the bitext/retrieval pair-selection rule), and per-cluster topic
  * keywords (what IS in each embedding cell). No reference analog
  * (ref/etl has no text or embedding layer); all four follow the
  * repo's exact-arithmetic oracle playbook: integer/decimal work end
  * to end, at most ONE final correctly-rounded double division, ranks
  * ordered by exact values with id tie-breaks.
  */
object Corpus {

  // --------------------------------------------------------------------
  // KEYWORD TAGGING — broadcast-dictionary phrase matching (the
  // FlashText/Aho–Corasick shape): every corpus pipeline carries
  // curated term lists (blocklists, safety taxonomies, domain lexica)
  // and needs per-document hit counts for them. Phrases are 1–2 word
  // token n-grams here; the dictionary is a broadcast table, matching
  // is an equi-join on the exploded n-gram stream, and the only
  // shuffle is the doc-keyed aggregation of the (sparse) match rows —
  // the corpus text itself never shuffles. At 100 TB the dictionary
  // join stays broadcast at any realistic lexicon size (even 1M
  // phrases is megabytes); for very long phrases a compiled
  // Aho–Corasick automaton in a mapPartitions pass replaces the
  // n-gram fan-out, same output contract. Occurrence counting is
  // overlapping (every token position starts a candidate n-gram) —
  // the convention dictionary taggers use.
  private[graft] val TagDict: Seq[(String, String)] = Seq(
    // (phrase, category) — phrases drawn from the corpus vocabulary;
    // one phrase maps to one category (blocklist semantics)
    "slow" -> "perf", "fast" -> "perf", "slow scan" -> "perf",
    "hash join" -> "exec", "merge join" -> "exec", "sort" -> "exec",
    "row group" -> "storage", "column" -> "storage", "vector" -> "storage")

  def qKeywordTag(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dict = TagDict.toDF("phrase", "category")
    val docs = TextOps.docsWide(spark, sfDir)
    // bigram stream built row-locally with zip_with (NOT word_shingles,
    // which dedupes — occurrence counts need every position); the
    // trailing zip slot pairs the last token with null and concat
    // nulls it out, so it can never match a dictionary phrase
    val toks = split($"text", " ")
    val grams = docs.select($"doc_id", explode(toks).as("phrase"))
      .unionByName(docs.select($"doc_id",
        explode(zip_with(toks, slice(toks, lit(2), size(toks)),
          (x, y) => concat(x, lit(" "), y))).as("phrase")))
    grams.join(broadcast(dict), Seq("phrase"))
      .groupBy($"doc_id", $"category")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct($"phrase").as("n_phrases"))
  }

  val qKeywordTagSql: String = {
    val dictRows = TagDict.map { case (p, c) => s"('$p', '$c')" }.mkString(", ")
    s"""WITH dict(phrase, category) AS (VALUES $dictRows),
       |uni AS (SELECT doc_id, unnest(string_split(text, ' ')) AS phrase
       |        FROM documents),
       |big AS (SELECT doc_id,
       |          unnest(list_transform(range(1, len(string_split(text, ' '))),
       |                 i -> string_split(text, ' ')[i] || ' ' ||
       |                      string_split(text, ' ')[i+1])) AS phrase
       |        FROM documents),
       |grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big)
       |SELECT doc_id, category, count(*) AS n_hits,
       |       count(DISTINCT phrase) AS n_phrases
       |FROM grams JOIN dict USING (phrase)
       |GROUP BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------------
  // SNAPSHOT DIFF — crawl-over-crawl change accounting: given two
  // corpus snapshots, classify every document as added / removed /
  // changed / unchanged and roll the counts up per source. This is the
  // report that prices an incremental ingest (how much of the new
  // crawl is actually new?) and audits a versioned corpus between
  // training runs. The comparison NEVER ships text: both sides reduce
  // to (doc_id, source, md5-fingerprint) before the one doc_id-keyed
  // full-outer join — full outer because both "only in A" and "only
  // in B" rows must survive (broadcast is precluded by definition;
  // the join is equi-keyed on the id, so it shuffles fingerprints,
  // not documents). The second snapshot here is DERIVED from the
  // first by deterministic rules (drop id%13, revise id%7, add a
  // +1e6-keyed copy of id%11) so the oracle can rebuild it
  // relationally; production reads two warehouse as-of snapshots
  // through the same diff.
  private val SnapAddBase = 1000000L

  def qSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = TextOps.docsWide(spark, sfDir)
    val a = docs.select($"doc_id", $"source".as("src_a"), md5($"text").as("fp_a"))
    val survivors = docs.filter($"doc_id" % 13 =!= 0)
      .select($"doc_id", $"source",
        when($"doc_id" % 7 === 0, md5(concat($"text", lit(" rev2"))))
          .otherwise(md5($"text")).as("fp"))
    val added = docs.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + SnapAddBase).as("doc_id"), $"source", md5($"text").as("fp"))
    val b = survivors.unionByName(added)
      .select($"doc_id", $"source".as("src_b"), $"fp".as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce($"src_a", $"src_b").as("source"),
        when($"fp_b".isNull, "removed")
          .when($"fp_a".isNull, "added")
          .when($"fp_a" =!= $"fp_b", "changed")
          .otherwise("unchanged").as("status"))
      .groupBy($"source", $"status")
      .agg(count(lit(1)).as("n_docs"))
  }

  val qSnapshotDiffSql: String =
    s"""WITH a AS (SELECT doc_id, source AS src_a, md5(text) AS fp_a
       |           FROM documents),
       |b AS (SELECT doc_id, source AS src_b,
       |             CASE WHEN doc_id % 7 = 0 THEN md5(text || ' rev2')
       |                  ELSE md5(text) END AS fp_b
       |      FROM documents WHERE doc_id % 13 != 0
       |      UNION ALL
       |      SELECT doc_id + $SnapAddBase, source, md5(text)
       |      FROM documents WHERE doc_id % 11 = 0)
       |SELECT coalesce(src_a, src_b) AS source,
       |       CASE WHEN fp_b IS NULL THEN 'removed'
       |            WHEN fp_a IS NULL THEN 'added'
       |            WHEN fp_a != fp_b THEN 'changed'
       |            ELSE 'unchanged' END AS status,
       |       count(*) AS n_docs
       |FROM a FULL OUTER JOIN b USING (doc_id)
       |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // MARGIN-BASED NEIGHBOR MINING — the Artetxe & Schwenk '19 margin
  // rule (CCMatrix/LASER bitext mining, also the contrastive-pair
  // selection rule): a candidate pair (x, y) is scored not by raw
  // cosine but by cosine RELATIVE to each side's local neighborhood
  // density, margin(x,y) = cos(x,y) / ((Σ_{z∈NNk(x)} cos(x,z) +
  // Σ_{z∈NNk(y)} cos(y,z)) / 2k) — hubs with uniformly high cosine to
  // everything stop winning every pairing. Sides here are the even /
  // odd vec_id halves (the two-language shape); probes are a bounded
  // even-id set. Plan: candidate generation is the broadcast-probe
  // scan (swap in the IVF/LSH generators at scale — the margin rule
  // composes with any of them, like q_hard_negatives' label
  // predicate); y-side neighborhood sums are computed ONLY for the
  // ≤ probes×S shortlisted partners (each against side A — the
  // per-vector NN-density is a maintainable standing statistic at
  // 100 TB); all top-k selection runs through the bounded native
  // operator. Arithmetic: cosines are 9-dp DECIMAL(12,9), the
  // neighborhood sums exact decimal, and the margin is ONE
  // correctly-rounded double division of exactly-representable
  // operands — engine-identical, so ranking by it is hash-stable.
  private val MarginProbeMax = 40L // even ids below this probe (≤ 20 probes)
  private val MarginK = 4 // NN-mean depth
  private val MarginShort = 8 // shortlist re-scored with the margin

  private def dvec(c: Column): Column = c.cast("array<double>")

  private def cos9(a: Column, b: Column): Column =
    round(graft.functions.functions.cosine_sim(a, b), 9).cast("decimal(12,9)")

  def qMarginMining(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
      .select($"vec_id", dvec($"embedding").as("v"))
    val sideA = e.filter($"vec_id" % 2 === 0)
    val sideB = e.filter($"vec_id" % 2 === 1)
    val probes = sideA.filter($"vec_id" < MarginProbeMax)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    // candidate scan: probe set broadcast against side B (a broadcast
    // nested-loop by intent, like q_ann_brute — swap in the banded /
    // inverted-list generators at scale)
    val cab = sideB.crossJoin(broadcast(probes))
      .select($"query_id", $"vec_id".as("nid"), cos9($"qv", $"v").as("c"))
    val short = graft.plans.TopKPerGroup.topKPerGroup(cab,
      Seq($"query_id"), Seq($"c".desc, $"nid".asc), MarginShort)
      .localCheckpoint(eager = false) // referenced three times below
    val sx = graft.plans.TopKPerGroup.topKPerGroup(short,
        Seq($"query_id"), Seq($"c".desc, $"nid".asc), MarginK)
      .groupBy($"query_id").agg(sum($"c").as("sx"))
    // y-side density: only shortlisted partners, each vs ALL of side A
    val ys = sideB.join(short.select($"nid").distinct().hint("broadcast"),
      $"vec_id" === $"nid").select($"nid", $"v".as("yv"))
    val cba = sideA.crossJoin(broadcast(ys))
      .select($"nid", $"vec_id".as("aid"), cos9($"yv", $"v").as("cb"))
    val sy = graft.plans.TopKPerGroup.topKPerGroup(cba,
        Seq($"nid"), Seq($"cb".desc, $"aid".asc), MarginK)
      .groupBy($"nid").agg(sum($"cb").as("sy"))
    // broadcast the density sums: ≤ #probes and ≤ probes×S rows, but
    // both sit behind checkpointed/custom-plan nodes with no stats, so
    // the planner would sort-merge (r18: 4 SMJs over ≤160-row frames)
    val margins = short
      .join(broadcast(sx), Seq("query_id")).join(broadcast(sy), Seq("nid"))
      .select($"query_id", $"nid",
        (($"c".cast("double") * lit(2.0 * MarginK)) /
          ($"sx" + $"sy").cast("double")).as("margin"))
    val w = Window.partitionBy($"query_id").orderBy($"margin".desc, $"nid")
    graft.plans.TopKPerGroup.topKPerGroup(margins,
        Seq($"query_id"), Seq($"margin".desc, $"nid".asc), 3)
      .withColumn("rank", row_number().over(w))
      .select($"query_id", $"rank", $"nid".as("partner_id"), $"margin")
  }

  val qMarginMiningSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pr AS (SELECT vec_id AS query_id, v AS qv FROM e
       |       WHERE vec_id % 2 = 0 AND vec_id < $MarginProbeMax),
       |cab AS (SELECT query_id, b.vec_id AS nid,
       |          CAST(round(list_cosine_similarity(qv, b.v), 9)
       |               AS DECIMAL(12,9)) AS c
       |        FROM pr CROSS JOIN (SELECT * FROM e WHERE vec_id % 2 = 1) b),
       |rk AS (SELECT query_id, nid, c,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY c DESC, nid) AS rk
       |       FROM cab),
       |short AS (SELECT query_id, nid, c FROM rk WHERE rk <= $MarginShort),
       |sx AS (SELECT query_id, sum(c) AS sx FROM rk WHERE rk <= $MarginK
       |       GROUP BY 1),
       |ys AS (SELECT DISTINCT nid FROM short),
       |cba AS (SELECT y.nid, a.vec_id AS aid,
       |          CAST(round(list_cosine_similarity(y.v, a.v), 9)
       |               AS DECIMAL(12,9)) AS cb
       |        FROM (SELECT e.vec_id AS nid, e.v FROM e JOIN ys
       |              ON e.vec_id = ys.nid) y
       |        CROSS JOIN (SELECT * FROM e WHERE vec_id % 2 = 0) a),
       |rkb AS (SELECT nid, cb,
       |          row_number() OVER (PARTITION BY nid
       |                             ORDER BY cb DESC, aid) AS rk
       |        FROM cba),
       |sy AS (SELECT nid, sum(cb) AS sy FROM rkb WHERE rk <= $MarginK
       |       GROUP BY 1),
       |m AS (SELECT query_id, nid,
       |        (CAST(c AS DOUBLE) * ${2.0 * MarginK}) /
       |          CAST(sx + sy AS DOUBLE) AS margin
       |      FROM short JOIN sx USING (query_id) JOIN sy USING (nid))
       |SELECT query_id, CAST(rk AS INTEGER) AS rank, nid AS partner_id, margin
       |FROM (SELECT query_id, nid, margin,
       |             row_number() OVER (PARTITION BY query_id
       |                                ORDER BY margin DESC, nid) AS rk
       |      FROM m)
       |WHERE rk <= 3""".stripMargin

  // --------------------------------------------------------------------
  // CLUSTER TOPIC KEYWORDS — the BERTopic-style c-TF-IDF readout: for
  // every embedding cell (the SAME staged deterministic-subset IVF
  // assignment SemDeDup and the quantized-ANN family share), the
  // terms most over-represented in that cell's documents relative to
  // the whole corpus. This is how a pipeline answers "what IS in
  // cluster 7" before deciding to up/down-weight it. Score = lift =
  // (tf_cell / tot_cell) / (cf / tot) — computed as the exact integer
  // products tf_cell·tot and cf·tot_cell with ONE final double
  // division (ln-free: ln is monotone in the ratio, so ranking is
  // unchanged — the q_tfidf rule). cf/tot come from the STANDING
  // term-stats sidecar (the BM25/unigram-LM vocabulary table — the
  // fourth consumer of that one standing index); the cell-term
  // aggregation is vocabulary×cells-keyed, the corpus never shuffles
  // on raw text. Top-5 terms per cell through the bounded top-k
  // operator — no per-cell sort. At corpus scale the integer products
  // outgrow a long: swap both sides to DECIMAL products, same plan.
  private val TopicsPerCell = 5

  def qClusterTopics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cells = Similarity.corpusCells(spark, sfDir)
      .select($"vec_id".as("doc_id"), $"cell")
    // per-cell term counts from the STANDING postings (r17): the staged
    // inverted index already holds (term, doc_id, tf), so the cell
    // rollup is a join + sum over postings rows — no corpus
    // re-tokenization (Σ_docs-in-cell tf ≡ counting the exploded
    // tokens, the same split both engines state)
    val tfCell = Retrieval.postings(spark, sfDir)
      .select($"doc_id", $"term", $"tf")
      .join(cells, Seq("doc_id"))
      .groupBy($"cell", $"term").agg(sum($"tf").as("tf"))
    val cellTot = tfCell.groupBy($"cell").agg(sum($"tf").as("tot_cell"))
    val stats = Retrieval.termStats(spark, sfDir).select($"term", $"cf")
    val tot = stats.agg(sum($"cf").as("tot"))
    val scored = tfCell
      .join(cellTot, Seq("cell"))
      .join(broadcast(stats), Seq("term"))
      .crossJoin(broadcast(tot))
      .select($"cell", $"term", $"tf",
        (($"tf" * $"tot").cast("double") /
          ($"cf" * $"tot_cell").cast("double")).as("lift"))
    val w = Window.partitionBy($"cell").orderBy($"lift".desc, $"term")
    graft.plans.TopKPerGroup.topKPerGroup(scored,
        Seq($"cell"), Seq($"lift".desc, $"term".asc), TopicsPerCell)
      .withColumn("rank", row_number().over(w))
      .select($"cell", $"rank", $"term", $"tf", $"lift")
  }

  val qClusterTopicsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM e
       |         WHERE vec_id % ${Similarity.CentroidMod} = 0),
       |r AS (SELECT e.vec_id, c.cid,
       |             row_number() OVER (
       |               PARTITION BY e.vec_id
       |               ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
       |      FROM e CROSS JOIN cent c),
       |cells AS (SELECT vec_id AS doc_id, cid AS cell FROM r WHERE rk = 1),
       |toks AS (SELECT cell, unnest(string_split(text, ' ')) AS term
       |         FROM documents JOIN cells USING (doc_id)),
       |tfc AS (SELECT cell, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |ct AS (SELECT cell, sum(tf) AS tot_cell FROM tfc GROUP BY 1),
       |alltoks AS (SELECT unnest(string_split(text, ' ')) AS term
       |            FROM documents),
       |cf AS (SELECT term, count(*) AS cf FROM alltoks GROUP BY 1),
       |tot AS (SELECT count(*) AS tot FROM alltoks),
       |sc AS (SELECT cell, term, tf,
       |         CAST(tf * tot AS DOUBLE) /
       |           CAST(cf * tot_cell AS DOUBLE) AS lift
       |       FROM tfc JOIN ct USING (cell) JOIN cf USING (term)
       |       CROSS JOIN tot)
       |SELECT cell, CAST(rk AS INTEGER) AS rank, term, tf, lift
       |FROM (SELECT cell, term, tf, lift,
       |             row_number() OVER (PARTITION BY cell
       |                                ORDER BY lift DESC, term) AS rk
       |      FROM sc)
       |WHERE rk <= $TopicsPerCell""".stripMargin

  // --------------------------------------------------------------------
  // TOKEN-DISTRIBUTION ENTROPY — the second corpus-health statistic
  // next to q_zipf_slope: Shannon entropy of each source's unigram
  // distribution, H = −Σ p·ln p. Templated/boilerplate/spammy sources
  // and model-generated loops collapse toward low entropy long before
  // a human reads them; healthy natural-language sources sit near the
  // corpus norm — the cheap tripwire read before mixture weights are
  // set. Plan: one (source, term) hash aggregation over the token
  // fan-out (vocabulary×sources-keyed, the same shuffle class as the
  // standing postings build), a per-source total joined back, and an
  // exact decimal sum of per-term contributions. Arithmetic follows
  // the BM25 rule: p = cf/tot is one correctly-rounded double
  // division of exact longs, each −p·ln p term is rounded to 9 dp
  // into DECIMAL(12,9) (identical in both engines: identical p, both
  // engines' ln within an ulp then rounded where ulps can't reach),
  // the sum is exact decimal — order-independent — and only the final
  // column widens to DOUBLE.
  def qTokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cf = sourceTermCounts(spark, sfDir)
      .select($"source", $"term", $"c".as("cf"))
    val tot = cf.groupBy($"source")
      .agg(sum($"cf").as("tot"), count(lit(1)).as("n_types"))
    cf.join(broadcast(tot), Seq("source"))
      .select($"source", $"tot", $"n_types",
        round(-($"cf".cast("double") / $"tot") *
            log($"cf".cast("double") / $"tot"), 9)
          .cast("decimal(12,9)").as("h"))
      .groupBy($"source")
      .agg(max($"tot").as("n_tokens"), max($"n_types").as("n_types"),
        sum($"h").cast("double").as("entropy"))
  }

  val qTokenEntropySql: String =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |cf AS (SELECT source, term, count(*) AS cf FROM toks GROUP BY 1, 2),
      |tot AS (SELECT source, sum(cf) AS tot, count(*) AS n_types
      |        FROM cf GROUP BY 1),
      |h AS (SELECT cf.source,
      |        CAST(round(-(CAST(cf AS DOUBLE) / tot) *
      |                   ln(CAST(cf AS DOUBLE) / tot), 9)
      |             AS DECIMAL(12,9)) AS h
      |      FROM cf JOIN tot USING (source))
      |SELECT tot.source, CAST(tot.tot AS BIGINT) AS n_tokens,
      |       tot.n_types, CAST(sum(h.h) AS DOUBLE) AS entropy
      |FROM h JOIN tot ON h.source = tot.source
      |GROUP BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------------
  /** The per-source term-frequency PROFILE — one (source, term, c)
    * aggregate staged per corpus, because three corpus-health queries
    * consume exactly this frame (χ² divergence, token entropy, profile
    * cosine) and each otherwise re-runs the corpus-wide token fan-out.
    * At 100 TB this is a maintained vocabulary-sized sidecar (like the
    * retrieval term-stats table, its per-source sibling). */
  private[queries] def sourceTermCounts(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.operators.Staging.persisted(spark, sfDir, "source_term") {
      import spark.implicits._
      // DERIVED from the standing postings (tf = occurrence count per
      // doc/term, exact), not a second corpus-wide token fan-out —
      // review r9 item 5 / r11 item 2: one tokenize pass per corpus
      graft.queries.Retrieval.postings(spark, sfDir)
        .groupBy($"source", $"term").agg(sum($"tf").as("c"))
    }

  /** Materialize the profile sidecar — a Bench setup step. */
  def prewarmStaging(spark: SparkSession, sfDir: String): Unit = {
    // the three standing tables are independent staging entries — build
    // them concurrently (Par.run, opt guide §2.6):
    // - the per-source term-count profile;
    // - the labeled DBSCAN cores (pulls the pts/nbr/corerep stages
    //   through; deg is a cheap rollup of the staged nbr);
    // - the sweep's widest-grid pair table (its own stage — different
    //   cell side), leaving only the per-eps rollups to the audit query
    graft.operators.Par.run[Unit](Seq(
      () => { sourceTermCounts(spark, sfDir).count(); () },
      () => { dbscanStagedParts(spark, sfDir)._4.count(); () },
      () => { dbscanSweepNbr(spark, sfDir).count(); () }))
    ()
  }

  /** Committed per-source profile MODEL for the streaming drift gate
    * (EventStream.profileDriftScores): term → parts-per-million share
    * under the SAME floor-division rule as the χ² divergence query
    * (exact integers — both faces and both engines agree on every
    * share), plus each profile's total ppm mass (the constant that
    * closes the χ² sum over profile terms the arrival doesn't carry).
    * Vocabulary-sized — kilobytes here, megabytes at web scale — the
    * broadcast-with-the-closure shape of every committed model. */
  final case class SourceProfileModel(
      ppm: Map[String, Map[String, Long]], mass: Map[String, Long])

  private[graft] def sourceProfileModel(spark: SparkSession,
      sfDir: String): SourceProfileModel = {
    import spark.implicits._
    val rows = sourceTermCounts(spark, sfDir)
      .withColumn("tot", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
      .select($"source", $"term", expr("(c * 1000000L) div tot").as("ppm"))
      .as[(String, String, Long)].collect()
    val bySrc = rows.groupBy(_._1).view
      .mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    SourceProfileModel(bySrc,
      bySrc.view.mapValues(_.values.sum).toMap)
  }

  // --------------------------------------------------------------------
  // SOURCE PROFILE COSINE — the frequency-profile angle of the source-
  // similarity triad (set-level: KMV jaccard/containment sketches;
  // distribution-level: the χ² divergence; profile-level: THIS — the
  // cosine between raw term-frequency vectors, the standard
  // which-sources-look-alike readout before setting mixture weights).
  // Everything up to the last expression is exact integer arithmetic:
  // the (source, term) counts, the pairwise dot products, and the
  // squared norms are integer sums over the VOCABULARY-sized profile
  // frame (the corpus is touched once, by the counting aggregate); the
  // cosine is one fixed-association expression of three exact values —
  // (dot / √na²) / √nb² — with IEEE sqrt/divide correctly rounded in
  // both engines, and the exact dot emitted beside it as evidence.
  // review r9 (advisor): c·c in LONG wraps silently past 2⁶³ (per-term
  // counts ~10¹⁰ at the 100 TB design point suffice) — the products and
  // their sums are therefore DECIMAL(38,0), exact to 10³⁸, matching
  // DuckDB's HUGEINT accumulator; only the evidence column narrows back
  // to BIGINT, through a guard that raises instead of wrapping.
  def qSourceCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = sourceTermCounts(spark, sfDir)
    val norms = counts.groupBy($"source")
      .agg(sum($"c".cast("decimal(38,0)") * $"c").as("n2"))
    val a = counts.select($"source".as("src_a"), $"term", $"c".as("ca"))
    val b = counts.select($"source".as("src_b"), $"term", $"c".as("cb"))
    a.join(b, Seq("term")).filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b")
      .agg(sum($"ca".cast("decimal(38,0)") * $"cb").as("dotd"))
      .join(norms.select($"source".as("src_a"), $"n2".as("na2")), Seq("src_a"))
      .join(norms.select($"source".as("src_b"), $"n2".as("nb2")), Seq("src_b"))
      .select($"src_a", $"src_b",
        expr("CASE WHEN dotd BETWEEN -9223372036854775808 AND 9223372036854775807" +
          " THEN CAST(dotd AS BIGINT)" +
          " ELSE raise_error('q_source_cosine: dot overflows the BIGINT evidence column')" +
          " END").as("dot"),
        (($"dotd".cast("double") / sqrt($"na2".cast("double"))) /
          sqrt($"nb2".cast("double"))).as("cosine"))
  }

  val qSourceCosineSql: String =
    """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
      |           FROM documents),
      |c AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2),
      |n AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS n2 FROM c GROUP BY 1),
      |d AS (SELECT a.source AS src_a, b.source AS src_b,
      |             CAST(sum(a.c * b.c) AS BIGINT) AS dot
      |      FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT d.src_a, d.src_b, d.dot,
      |       (CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE))) /
      |         sqrt(CAST(nb.n2 AS DOUBLE)) AS cosine
      |FROM d
      |JOIN n na ON na.source = d.src_a
      |JOIN n nb ON nb.source = d.src_b""".stripMargin

  // --------------------------------------------------------------------
  // PER-DOCUMENT PROFILE DRIFT — the batch twin of the streaming drift
  // gate (EventStream.profileDriftScores): every document χ²-scored
  // against its OWN source's committed term-frequency profile. Batch
  // use: rank a source's existing members by atypicality (the
  // outlier-document readout the health queries summarize away);
  // contract use: this face is oracle-checked, and EventStreamSpec
  // asserts the streaming gate equals it bit-for-bit — so the driver's
  // hash gate transitively certifies the gate's arithmetic.
  //
  // Same exact-integer discipline as q_source_divergence: ppm by floor
  // division on BOTH sides, per-term ((pd−pb)²) div (pd+pb) longs,
  // profile terms the document doesn't carry closed by (source mass −
  // covered mass), one final widening divide. The document side
  // aggregates per (doc, term) and joins the vocabulary-sized profile
  // on (source, term); the corpus text never shuffles (counts do).
  def qProfileDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val prof = sourceTermCounts(spark, sfDir)
      .withColumn("stot", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
      .select($"source", $"term", expr("(c * 1000000L) div stot").as("pb"))
    val mass = prof.groupBy($"source").agg(sum($"pb").as("mass"))
    val docTok = TextOps.docsWide(spark, sfDir)
      .select($"doc_id", $"source", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"source", $"term").agg(count(lit(1)).as("c"))
      .withColumn("tot", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
      .select($"doc_id", $"source", $"term",
        expr("(c * 1000000L) div tot").as("pd"))
    docTok.join(prof, Seq("source", "term"), "left")
      .select($"doc_id", $"source", $"pd", coalesce($"pb", lit(0L)).as("pb"))
      .groupBy($"doc_id", $"source")
      .agg(sum(when($"pd" + $"pb" === 0, 0L)
          .otherwise(expr("((pd - pb) * (pd - pb)) div (pd + pb)"))).as("s"),
        sum($"pb").as("covered"))
      .join(broadcast(mass), Seq("source"))
      .select($"doc_id", $"source",
        (($"s" + $"mass" - $"covered").cast("double") / 1000000.0).as("drift"))
  }

  val qProfileDriftSql: String =
    """WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
      |           FROM documents),
      |sc AS (SELECT source, term, count(*) AS c FROM t GROUP BY 1, 2),
      |prof AS (SELECT source, term,
      |                (c * 1000000) // sum(c) OVER (PARTITION BY source) AS pb
      |         FROM sc),
      |mass AS (SELECT source, CAST(sum(pb) AS BIGINT) AS mass
      |         FROM prof GROUP BY 1),
      |dt AS (SELECT doc_id, source, term, count(*) AS c FROM t GROUP BY 1, 2, 3),
      |dp AS (SELECT doc_id, source, term,
      |              (c * 1000000) // sum(c) OVER (PARTITION BY doc_id) AS pd
      |       FROM dt),
      |j AS (SELECT dp.doc_id, dp.source, dp.pd, COALESCE(prof.pb, 0) AS pb
      |      FROM dp LEFT JOIN prof
      |        ON prof.source = dp.source AND prof.term = dp.term),
      |agg AS (SELECT doc_id, source,
      |               CAST(sum(CASE WHEN pd + pb = 0 THEN 0
      |                             ELSE ((pd - pb) * (pd - pb)) // (pd + pb)
      |                        END) AS BIGINT) AS s,
      |               CAST(sum(pb) AS BIGINT) AS covered
      |        FROM j GROUP BY 1, 2)
      |SELECT agg.doc_id, agg.source,
      |       CAST(agg.s + mass.mass - agg.covered AS DOUBLE) / 1000000.0 AS drift
      |FROM agg JOIN mass ON mass.source = agg.source""".stripMargin

  // --------------------------------------------------------------------
  // BURROWS' DELTA (Burrows '02) — the stylometric face of the source-
  // similarity family (set: KMV jaccard/containment; distribution: χ²;
  // profile: cosine; STYLE: this): per-source z-scores of the top-F
  // corpus-wide FUNCTION-WORD frequencies, Delta(a,b) = mean |z_a − z_b|
  // — the classic authorship/register distance, here the
  // which-sources-write-alike readout (a source whose Delta to its
  // siblings jumps changed voice: new template, new generator, new
  // upstream). Arithmetic discipline: relative frequencies are exact
  // parts-per-billion integers (decimal/HUGEINT-widened division —
  // counts at 100 TB don't wrap), mean and variance are exact integer
  // floor divisions, z is one double division of exact ints, each
  // |z_a − z_b| is 9-dp-rounded to decimal so the pair sum is
  // order-independent, and the final mean is one double division (the
  // BM25 rule). Terms with zero variance across sources carry no
  // signal and are excluded — identically in both engines, since the
  // variance is an exact integer. Everything after the staged profile
  // read is (sources × F)-scale.
  private val DeltaTopF = 20

  def qBurrowsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = sourceTermCounts(spark, sfDir)
    val totals = counts.groupBy($"source").agg(sum($"c").as("n_s"))
    val fw = counts.groupBy($"term").agg(sum($"c").as("cf"))
      .orderBy($"cf".desc, $"term").limit(DeltaTopF).select($"term")
    // restrict the vocab-scale count frame to the top-F terms FIRST
    // (broadcast inner join — map-side, no shuffle of counts): the r18
    // profile showed the grid's left join sort-merge-shuffling the
    // whole staged (source, term) vocabulary against a 400-row grid.
    // Semantically identical — the left join only ever matched rows
    // whose term is in fw.
    val fwCounts = counts.join(broadcast(fw), Seq("term"))
    // the (source × function-word) grid — a source missing the term
    // has relative frequency 0 (the cross join fills the grid)
    val grid = totals.crossJoin(broadcast(fw))
      .join(broadcast(fwCounts), Seq("source", "term"), "left")
      .select($"source", $"term",
        expr("CAST((CAST(coalesce(c, 0L) AS DECIMAL(38,0)) * 1000000000L)" +
          " div n_s AS BIGINT)").as("p"))
      .localCheckpoint(eager = false) // mu and dev branches
    // everything below is (sources × F)-scale — the model size class;
    // broadcast hints because the checkpointed frames carry no stats
    val mu = grid.groupBy($"term")
      .agg(expr("sum(p) div count(1)").as("mu"))
    val dev = grid.join(broadcast(mu), Seq("term"))
      .select($"source", $"term", ($"p" - $"mu").as("d"))
      .localCheckpoint(eager = false) // variance and z branches
    val varT = dev.groupBy($"term")
      .agg(expr("CAST(sum(CAST(d AS DECIMAL(38,0)) * d) div count(1) AS BIGINT)")
        .as("v2"))
    val z = dev.join(broadcast(varT.filter($"v2" > 0)), Seq("term"))
      .select($"source", $"term",
        ($"d".cast("double") / sqrt($"v2".cast("double"))).as("z"))
    z.as("a").join(broadcast(z.as("b")),
        $"a.term" === $"b.term" && $"a.source" < $"b.source")
      .select($"a.source".as("src_a"), $"b.source".as("src_b"),
        round(abs($"a.z" - $"b.z"), 9).cast("decimal(12,9)").as("az"))
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_terms"), sum($"az").as("sd"))
      .select($"src_a", $"src_b", $"n_terms",
        ($"sd".cast("double") / $"n_terms".cast("double")).as("delta"))
  }

  val qBurrowsDeltaSql: String =
    s"""WITH c AS (SELECT source, tok AS term, count(*) AS c
       |           FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
       |                 FROM documents)
       |           GROUP BY 1, 2),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM c GROUP BY 1),
       |fw AS (SELECT term FROM (
       |         SELECT term, sum(c) AS cf FROM c GROUP BY 1
       |         ORDER BY cf DESC, term LIMIT $DeltaTopF)),
       |grid AS (SELECT t.source, f.term,
       |                CAST((CAST(COALESCE(c.c, 0) AS HUGEINT) * 1000000000)
       |                     // t.n_s AS BIGINT) AS p
       |         FROM tot t CROSS JOIN fw f
       |         LEFT JOIN c ON c.source = t.source AND c.term = f.term),
       |mu AS (SELECT term, CAST(sum(p) // count(*) AS BIGINT) AS mu
       |       FROM grid GROUP BY 1),
       |dev AS (SELECT g.source, g.term, g.p - m.mu AS d
       |        FROM grid g JOIN mu m USING (term)),
       |vt AS (SELECT term,
       |              CAST(sum(CAST(d AS HUGEINT) * d) // count(*) AS BIGINT) AS v2
       |       FROM dev GROUP BY 1),
       |z AS (SELECT d.source, d.term,
       |             CAST(d.d AS DOUBLE) / sqrt(CAST(v.v2 AS DOUBLE)) AS z
       |      FROM dev d JOIN vt v ON v.term = d.term AND v.v2 > 0),
       |pr AS (SELECT a.source AS src_a, b.source AS src_b,
       |              CAST(round(abs(a.z - b.z), 9) AS DECIMAL(12,9)) AS az
       |       FROM z a JOIN z b ON a.term = b.term AND a.source < b.source)
       |SELECT src_a, src_b, count(*) AS n_terms,
       |       CAST(sum(az) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS delta
       |FROM pr GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // SKYLINE (Pareto frontier) — the multi-criteria document selection
  // primitive (Börzsönyi/Kossmann/Stocker, ICDE'01): keep exactly the
  // documents no other document dominates. Criteria here are the
  // vocabulary-efficiency tradeoff a curation team actually browses:
  // MAXIMIZE distinct-token count, MINIMIZE total token count ("the most
  // vocabulary for the fewest tokens") — anti-correlated, so the
  // frontier is non-trivial. Both dimensions are exact integers, so
  // dominance never touches a float boundary.
  //
  // Scale shape (the reason this isn't the textbook quadratic
  // NOT-EXISTS): skyline membership factors through the per-length
  // champion — a doc dominated by its own length class's max-distinct
  // doc is out immediately, so stage 1 is ONE map-side-combined hash
  // aggregation to a frame whose cardinality is bounded by the number
  // of DISTINCT document lengths (≤ max tokens per doc, ~10³ — corpus-
  // size-independent). Stage 2's prefix-max window runs over that
  // bounded frame only, and stage 3 joins the surviving (length,
  // champion) pairs back broadcast-style. The oracle runs the quadratic
  // NOT EXISTS definition, so the decomposition itself is verified.
  def qSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.documents(spark, sfDir).select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tokens"),
      size(array_distinct(split($"text", " "))).cast("long").as("n_distinct"))
    // stage 1: per-length champion (max distinct count at each length)
    val g = m.groupBy($"n_tokens").agg(max($"n_distinct").as("dt_max"))
    // stage 2: champion survives iff strictly richer than every champion
    // of a strictly shorter length (bounded frame — see header)
    val w = Window.orderBy($"n_tokens")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = g
      .select($"n_tokens", $"dt_max",
        max($"dt_max").over(w).as("best_shorter"))
      .where($"best_shorter".isNull || $"dt_max" > $"best_shorter")
      .select($"n_tokens", $"dt_max".as("n_distinct"))
    // stage 3: all docs sitting exactly on a surviving frontier point
    // (coordinate ties are mutually non-dominating, so all are kept)
    m.join(broadcast(frontier), Seq("n_tokens", "n_distinct"))
      .select($"doc_id", $"n_tokens", $"n_distinct")
  }

  val qSkylineSql: String =
    """WITH m AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
      |           FROM documents)
      |SELECT doc_id, n_tokens, n_distinct FROM m a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM m b
      |  WHERE b.n_tokens <= a.n_tokens AND b.n_distinct >= a.n_distinct
      |    AND (b.n_tokens < a.n_tokens OR b.n_distinct > a.n_distinct))""".stripMargin

  // --------------------------------------------------------------------
  // GENERAL-DIMENSION SKYLINE — the d ≥ 3 algorithm (q_skyline's
  // prefix-max window trick is a 2-D special case): three curation
  // criteria — MAXIMIZE distinct tokens, MINIMIZE total tokens,
  // MINIMIZE stop-word hits — all exact integers, so dominance never
  // touches a float.
  //
  // Scale shape is the distributed two-phase skyline (local skyline →
  // global skyline of the union): rows are salted into 64 hash groups,
  // phase 1 removes everything dominated WITHIN its group (a group-
  // keyed self-join — n²/64 comparisons, shuffled on the salt, never a
  // full cartesian), and phase 2 runs the exact pairwise pass over the
  // phase-1 survivors only. Correct because dominance is transitive:
  // any globally-dominated row has a maximal dominator that is itself
  // undominated, hence survives ITS group's local pass and kills the
  // row in phase 2. Phase 2's comparison set is survivor-sized (the
  // union of 64 local skylines), so the non-equi join broadcasts.
  // The oracle runs the quadratic NOT EXISTS definition — the
  // decomposition is verified, not assumed.
  def qSkyline3(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split($"text", " ")
    val m = Tables.documents(spark, sfDir).select($"doc_id",
      size(toks).cast("long").as("nt"),
      size(array_distinct(toks)).cast("long").as("dt"),
      size(filter(toks, t => t.isInCollection(TextOps.stopWords)))
        .cast("long").as("st"))
      .withColumn("g", pmod(xxhash64($"doc_id"), lit(64)))
    def dom(b: String, a: String) =
      col(s"$b.dt") >= col(s"$a.dt") && col(s"$b.nt") <= col(s"$a.nt") &&
        col(s"$b.st") <= col(s"$a.st") &&
        (col(s"$b.dt") > col(s"$a.dt") || col(s"$b.nt") < col(s"$a.nt") ||
          col(s"$b.st") < col(s"$a.st"))
    val local = m.as("a").join(m.as("b"),
      $"a.g" === $"b.g" && dom("b", "a"), "left_anti")
    local.as("a").join(broadcast(local.as("b")), dom("b", "a"), "left_anti")
      .select($"doc_id", $"nt".as("n_tokens"), $"dt".as("n_distinct"),
        $"st".as("stop_hits"))
  }

  val qSkyline3Sql: String = {
    val stopList = TextOps.stopWords.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH m AS (SELECT doc_id,
       |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |                  CAST(len(list_filter(string_split(text, ' '),
       |                                       t -> t IN $stopList)) AS BIGINT) AS stop_hits
       |           FROM documents)
       |SELECT doc_id, n_tokens, n_distinct, stop_hits FROM m a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM m b
       |  WHERE b.n_distinct >= a.n_distinct AND b.n_tokens <= a.n_tokens
       |    AND b.stop_hits <= a.stop_hits
       |    AND (b.n_distinct > a.n_distinct OR b.n_tokens < a.n_tokens
       |         OR b.stop_hits < a.stop_hits))""".stripMargin
  }

  // --------------------------------------------------------------------
  // DBSCAN (Ester/Kriegel/Sander/Xu, KDD'96) over the 2-D quality-
  // feature space (avg token length × type-token ratio) — density-based
  // curation: the dense regions are "normal prose" clusters, the sparse
  // tail is exactly the quality-outlier set a reviewer triages. (The
  // synthetic embedding table is near-uniform in every axis — no density
  // structure to find — so the geometric operator runs where the data
  // HAS geometry; the embedding-space outlier face is q_embed_outliers.)
  //
  // Semantics: |N_eps(p)| counts p itself; core ⇔ count ≥ minPts;
  // clusters = connected components of the core-core eps-graph (labeled
  // by component-minimum doc_id via the alternating-star CC operator);
  // border = non-core within eps of ≥1 core, attached to its MINIMUM
  // core-neighbor cluster (deterministic, unlike the textbook's
  // first-come assignment); the rest is noise (cluster −1).
  //
  // Scale shape: candidate pairs come from a grid blocked at cell side
  // eps — each point probes its 3×3 neighborhood, every true eps-pair is
  // guaranteed inside (cell side = eps), and occupancy per cell is
  // bounded by the data's density, not corpus size. The eps-graph is
  // therefore an equi-join on cell keys, degree is one hash aggregation,
  // and the CC rounds are the O(log²) star operator. Both engines
  // evaluate the identical fixed-association distance expression
  // (dx·dx + dy·dy ≤ eps·eps on exact-integer-derived doubles), and the
  // oracle generates pairs BRUTE-FORCE, so the grid's completeness is
  // itself verified, not assumed.
  private[graft] val DbEps = 0.03
  private[graft] val DbMinPts = 5

  /** (doc_id, x = avg token length, y = type-token ratio) — both exact
    * integer ratios evaluated as one IEEE division per coordinate.
    * Total token chars uses the split identity Σ len(tok) =
    * len(text) − (n_tokens − 1) — splitting on one char turns every
    * separator into exactly one boundary, empty tokens included — so
    * the sum costs two codegen'd scalar ops instead of an interpreted
    * per-token lambda (the oracle computes the HOF form; the identity
    * makes them equal on every string). */
  private[graft] def dbscanFeaturesOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // pass-through of every non-consumed column — the streaming gate's
    // event-time contract (ts must ride the feature rows)
    val pass = docs.columns.filterNot(Set("doc_id", "text")).toSeq.map(col)
    docs
      .select($"doc_id" +: split($"text", " ").as("toks") +:
        length($"text").cast("long").as("len") +: pass: _*)
      .select($"doc_id" +: $"len" +:
        size($"toks").cast("long").as("nt") +:
        size(array_distinct($"toks")).cast("long").as("dt") +: pass: _*)
      .select($"doc_id" +:
        (($"len" - $"nt" + 1L).cast("double") / $"nt".cast("double")).as("x") +:
        ($"dt".cast("double") / $"nt".cast("double")).as("y") +: pass: _*)
  }

  /** Shared pipeline up to the labeled-core frame: (pts, nbr, deg,
    * coreLab) — the report face assembles roles on top; the streaming
    * attach gate commits coreLab ⋈ pts as its standing index. `stage`
    * materializes the three reused frames: localCheckpoint for ad-hoc
    * frames (the gate's index build), the Staging registry for the
    * sfDir route so the report and the silhouette audit share ONE
    * build per corpus (see dbscanStagedParts). */
  private[graft] def dbscanParts(docs: DataFrame,
      stage: (String, () => DataFrame) => DataFrame =
        (_, b) => b().localCheckpoint())
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    val eps2 = lit(DbEps) * lit(DbEps)
    // feeds probe side, home side, and the final attach
    val pts = stage("pts", () => dbscanFeaturesOf(docs)
      .select($"doc_id", $"x", $"y",
        floor($"x" / DbEps).as("cx"), floor($"y" / DbEps).as("cy")))
    // directed eps-graph: each point probes the 3×3 cells around its own;
    // the partner's HOME cell is unique, so each directed pair surfaces
    // exactly once — no distinct() needed
    val probe = pts
      .select($"doc_id".as("ida"), $"x".as("xa"), $"y".as("ya"),
        explode(sequence(lit(-1), lit(1))).as("ox"), $"cx", $"cy")
      .select($"ida", $"xa", $"ya",
        explode(sequence(lit(-1), lit(1))).as("oy"), $"ox", $"cx", $"cy")
      .select($"ida", $"xa", $"ya",
        ($"cx" + $"ox").as("kx"), ($"cy" + $"oy").as("ky"))
    val home = pts.select($"doc_id".as("idb"), $"x".as("xb"), $"y".as("yb"),
      $"cx".as("kx"), $"cy".as("ky"))
    // feeds degree, core-core edges, and border attach
    val nbr = stage("nbr", () => probe.join(home, Seq("kx", "ky"))
      .where($"ida" =!= $"idb" &&
        (($"xa" - $"xb") * ($"xa" - $"xb") +
          ($"ya" - $"yb") * ($"ya" - $"yb")) <= eps2)
      .select($"ida", $"idb"))
    val deg = nbr.groupBy($"ida").agg(count(lit(1)).as("nn"))
    val core = deg.where($"nn" + lit(1L) >= DbMinPts).select($"ida".as("doc_id"))
    // cluster labels via CELL CONTRACTION (the MR-DBSCAN merge step,
    // He et al. '11): cores sharing a FINE cell of side eps/2 are
    // mutually within eps·√2/2 < eps by construction (the float compare
    // can never disagree at that margin), so each fine cell contracts to
    // one node — its minimum core doc_id — and connected components run
    // over the cell-adjacency graph, whose edge count is bounded by
    // occupied-cell adjacency, NOT by point density. A dense blob makes
    // the point-graph quadratic in density (238k core-core edges at
    // sf0.1 — measured 4.9 s warm mostly in CC rounds); the contracted
    // graph stays a few thousand edges at any corpus size. Component
    // minima are preserved exactly: min over cell representatives =
    // min over member cores.
    val c2 = DbEps / 2.0
    val coreCells = core.join(pts, Seq("doc_id"))
      .select($"doc_id", floor($"x" / c2).as("c2x"), floor($"y" / c2).as("c2y"))
    // feeds the two edge-endpoint joins + the label attach
    val coreRep = stage("corerep", () => coreCells
      .join(coreCells.groupBy($"c2x", $"c2y").agg(min($"doc_id").as("rep")),
        Seq("c2x", "c2y"))
      .select($"doc_id", $"rep"))
    // coreRep is corpus-sized (cores ≈ corpus in a dense space) — these
    // joins shuffle on the id; only the CELL-sized label frame broadcasts
    val cellEdges = nbr
      .join(coreRep.select($"doc_id".as("ida"), $"rep".as("repa")), Seq("ida"))
      .join(coreRep.select($"doc_id".as("idb"), $"rep".as("repb")), Seq("idb"))
      .where($"repa" =!= $"repb")
      .select($"repa", $"repb").distinct()
    // component-minimum labels by DRIVER-SIDE union-find: the contracted
    // graph is geometry-bounded — occupied cells ≤ (feature extent /
    // (eps/2))², independent of corpus size — so it is a threshold-sized
    // frame by this repo's collect discipline (1.6k nodes / 18k edges at
    // sf0.1, and the SAME at sf100k because density saturates the grid,
    // not the node count). The alternating-star operator stays the right
    // tool for PAIR-scale graphs (duplicate clusters); here its per-round
    // scheduler cost (measured 6.6 s) dwarfs a millisecond union-find.
    // The bound is ENFORCED, not assumed: DriverComponents collects at
    // most cap + 1 contracted edges and falls back to the distributed
    // operator over its cap, so a pathological feature distribution
    // degrades to a slower plan instead of a silent driver OOM (review r11).
    val coreLab = stage("corelab", () => {
      val labels = graft.operators.DriverComponents.minLabels(cellEdges)
        .toDF("rep", "lbl")
      // a cell with no cross-cell edge is its own cluster — coalesce to
      // the representative (labels is a LocalRelation in the normal path
      // — Spark broadcasts it unhinted; hinting would be wrong in the
      // over-cap fallback where it is pair-scale)
      coreRep.join(labels, Seq("rep"), "left_outer")
        .select($"doc_id", coalesce($"lbl", $"rep").as("cluster"))
    })
    (pts, nbr, deg, coreLab)
  }

  /** The sfDir route: the three reused frames + the labeled cores live
    * in the Staging registry, so the report face, the silhouette audit
    * and the recall of the core index are ONE build per corpus (and the
    * bench charges it to setup, like every other staging family). */
  private def dbscanStagedParts(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    dbscanParts(Tables.documents(spark, sfDir),
      (k, b) => graft.operators.Staging.persisted(spark, sfDir, s"dbscan-$k")(b()))

  /** The committed (core point × cluster) table — the standing index the
    * streaming attach gate probes (EventStream.corpusDbscanIndex). */
  private[graft] def dbscanCoreIndex(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val (pts, _, _, coreLab) = dbscanParts(docs)
    coreLab.join(pts, Seq("doc_id"))
      .select($"doc_id", $"x", $"y", $"cx", $"cy", $"cluster")
  }

  def qDbscan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (pts, nbr, deg, coreLab) = dbscanStagedParts(spark, sfDir)
    val borderLab = nbr
      .join(coreLab.select($"doc_id".as("idb"), $"cluster"), Seq("idb"))
      .join(coreLab.select($"doc_id".as("ida")), Seq("ida"), "left_anti")
      .groupBy($"ida").agg(min($"cluster").as("cluster"))
      .select($"ida".as("doc_id"), $"cluster")
    pts.select($"doc_id")
      .join(coreLab.withColumnRenamed("cluster", "c_core"), Seq("doc_id"), "left_outer")
      .join(borderLab.withColumnRenamed("cluster", "c_border"), Seq("doc_id"), "left_outer")
      .join(deg.withColumnRenamed("ida", "doc_id"), Seq("doc_id"), "left_outer")
      .select($"doc_id",
        when($"c_core".isNotNull, "core")
          .when($"c_border".isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce($"c_core", $"c_border", lit(-1L)).as("cluster"),
        (coalesce($"nn", lit(0L)) + lit(1L)).as("n_in_eps"))
  }

  /** The brute-force DBSCAN CTE block (features → eps-graph → cores →
    * recursive-CTE CC → border attach) shared by the report oracle and
    * the silhouette oracle — one definition, zero drift. */
  private val DbscanCteSql: String =
    s"""f AS (SELECT doc_id,
       |             CAST(CAST(list_sum(list_transform(string_split(text, ' '),
       |                                               t -> len(t))) AS BIGINT)
       |                  AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x,
       |             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS y
       |      FROM documents),
       |nb AS (SELECT a.doc_id AS ida, b.doc_id AS idb
       |       FROM f a JOIN f b ON a.doc_id <> b.doc_id
       |        AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |              <= $DbEps * $DbEps),
       |deg AS (SELECT ida AS doc_id, count(*) AS nn FROM nb GROUP BY 1),
       |core AS (SELECT doc_id FROM deg WHERE nn + 1 >= $DbMinPts),
       |e AS (SELECT ida AS v, idb AS w FROM nb
       |      WHERE ida IN (SELECT doc_id FROM core)
       |        AND idb IN (SELECT doc_id FROM core)),
       |r AS (SELECT doc_id AS v, doc_id AS w FROM core
       |      UNION SELECT e.v, r.w FROM e JOIN r ON e.w = r.v),
       |lab AS (SELECT v AS doc_id, min(w) AS cluster FROM r GROUP BY 1),
       |bl AS (SELECT nb.ida AS doc_id, min(lab.cluster) AS cluster
       |       FROM nb JOIN lab ON nb.idb = lab.doc_id
       |       WHERE nb.ida NOT IN (SELECT doc_id FROM core) GROUP BY 1)""".stripMargin

  val qDbscanSql: String =
    s"""WITH RECURSIVE
       |$DbscanCteSql
       |SELECT f.doc_id,
       |       CASE WHEN lab.cluster IS NOT NULL THEN 'core'
       |            WHEN bl.cluster IS NOT NULL THEN 'border'
       |            ELSE 'noise' END AS role,
       |       COALESCE(lab.cluster, bl.cluster, -1) AS cluster,
       |       CAST(COALESCE(deg.nn, 0) + 1 AS BIGINT) AS n_in_eps
       |FROM f LEFT JOIN lab USING (doc_id) LEFT JOIN bl USING (doc_id)
       |       LEFT JOIN deg USING (doc_id)""".stripMargin

  // --------------------------------------------------------------------
  // Simplified silhouette (point-to-centroid; Kaufman & Rousseeuw's
  // silhouette with the medoid scan replaced by centroids — the form
  // every large-scale clustering dashboard uses because it is O(n·k),
  // not O(n²)): for every clustered document, a = distance to its OWN
  // cluster centroid, b = distance to the nearest OTHER centroid,
  // s = (b − a)/max(a, b) — the did-DBSCAN-carve-real-structure audit
  // next to the label-agreement face.
  //
  // Engine parity: features are rounded to 9-dp decimal BEFORE the
  // centroid mean (exact decimal sums, order-independent), each
  // centroid coordinate widens once as exact-sum/count, distances and
  // sqrt are the same fixed-association IEEE tree both sides, each s
  // rounds to 9-dp decimal before the per-cluster mean. Scale: one
  // corpus agg to the cluster-count-sized centroid table (geometry-
  // bounded, broadcast), one map-only cross of points × centroids, one
  // rollup.
  def qDbscanSilhouette(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val assigned = qDbscan(spark, sfDir).where($"cluster" >= 0)
      .select($"doc_id", $"cluster")
    val p = assigned
      .join(dbscanStagedParts(spark, sfDir)._1.select($"doc_id", $"x", $"y"),
        Seq("doc_id"))
      .select($"doc_id", $"cluster",
        round($"x", 9).cast("decimal(12,9)").as("x9"),
        round($"y", 9).cast("decimal(12,9)").as("y9"))
      // p feeds BOTH the centroid aggregate and the point×centroid
      // cross — DataFrame plans share no subtrees, so without a cut the
      // whole DBSCAN label derivation (a 214-operator plan, 175
      // Exchanges at r17 measurement) runs twice in one action;
      // checkpointing the narrow n-scale assignment runs it once and
      // truncates the plan (opt guide §3.3 / §5)
      .localCheckpoint()
    val cent = p.groupBy($"cluster").agg(
      (sum($"x9").cast("double") / count(lit(1)).cast("double")).as("cx"),
      (sum($"y9").cast("double") / count(lit(1)).cast("double")).as("cy"))
    val d = p.crossJoin(broadcast(cent.select($"cluster".as("cl2"), $"cx", $"cy")))
      .select($"doc_id", $"cluster",
        sqrt(($"x9".cast("double") - $"cx") * ($"x9".cast("double") - $"cx") +
          ($"y9".cast("double") - $"cy") * ($"y9".cast("double") - $"cy")).as("dist"),
        ($"cluster" === $"cl2").as("own"))
    val s = d.groupBy($"doc_id", $"cluster")
      .agg(max(when($"own", $"dist")).as("a"),
        min(when(!$"own", $"dist")).as("b"))
      .select($"cluster",
        round(when($"b".isNull, lit(null))
          .when(greatest($"a", $"b") === 0.0, lit(0.0))
          .otherwise(($"b" - $"a") / greatest($"a", $"b")), 9)
          .cast("decimal(12,9)").as("s9"))
    s.groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"), count($"s9").as("n_scored"),
        sum($"s9").as("ss"))
      .select($"cluster", $"n_members", $"n_scored",
        ($"ss".cast("double") / $"n_scored".cast("double")).as("mean_silhouette"))
  }

  val qDbscanSilhouetteSql: String =
    s"""WITH RECURSIVE
       |$DbscanCteSql,
       |asg AS (SELECT f.doc_id, COALESCE(lab.cluster, bl.cluster) AS cluster,
       |               CAST(round(f.x, 9) AS DECIMAL(12,9)) AS x9,
       |               CAST(round(f.y, 9) AS DECIMAL(12,9)) AS y9
       |        FROM f LEFT JOIN lab USING (doc_id) LEFT JOIN bl USING (doc_id)
       |        WHERE COALESCE(lab.cluster, bl.cluster) IS NOT NULL),
       |cent AS (SELECT cluster AS cl2,
       |                CAST(sum(x9) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cx,
       |                CAST(sum(y9) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cy
       |         FROM asg GROUP BY 1),
       |dd AS (SELECT doc_id, cluster,
       |              sqrt((CAST(x9 AS DOUBLE) - cx) * (CAST(x9 AS DOUBLE) - cx)
       |                 + (CAST(y9 AS DOUBLE) - cy) * (CAST(y9 AS DOUBLE) - cy))
       |                AS dist,
       |              cluster = cl2 AS own
       |       FROM asg CROSS JOIN cent),
       |ab AS (SELECT doc_id, cluster,
       |              max(CASE WHEN own THEN dist END) AS a,
       |              min(CASE WHEN NOT own THEN dist END) AS b
       |       FROM dd GROUP BY 1, 2),
       |sil AS (SELECT cluster,
       |               CAST(round(CASE WHEN b IS NULL THEN NULL
       |                    WHEN greatest(a, b) = 0.0 THEN 0.0
       |                    ELSE (b - a) / greatest(a, b) END, 9)
       |                 AS DECIMAL(12,9)) AS s9
       |        FROM ab)
       |SELECT cluster, count(*) AS n_members,
       |       CAST(count(s9) AS BIGINT) AS n_scored,
       |       CAST(sum(s9) AS DOUBLE) / CAST(count(s9) AS DOUBLE)
       |         AS mean_silhouette
       |FROM sil GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // DBSCAN eps SWEEP — the parameter-selection audit (Ester '96 §4.2's
  // k-dist heuristic made relational): per candidate eps, how many
  // documents are core / border / noise and how many clusters form —
  // the table a team reads before committing a 100 TB density run to
  // one eps, exactly as q_lsh_curve is read before committing to one
  // (b, r). The eps-graph is built ONCE at the WIDEST grid (cell side
  // = max eps, so the 3×3 probe covers every sweep point) carrying the
  // squared distance; each eps point is then a conditional filter over
  // that one pair table — degrees are one 3-way conditional aggregation
  // away, and only the cluster count needs a per-eps contraction +
  // driver union-find (geometry-bounded, as in q_dbscan). The oracle
  // recomputes every point brute-force with its own recursive-CTE
  // closure, so the shared-pair-table decomposition is verified.
  // Cost honesty: the widest-eps pair table is density-quadratic (54M
  // directed pairs at sf1), so at production scale this audit runs on
  // a corpus SAMPLE — the q_lsh_curve rule for every design-time audit
  // in this repo; the production-eps report (q_dbscan) keeps its own
  // tighter grid. The sample contract is ENFORCED (review r11), not a
  // comment: see DbSweepRowBudget / sampleToBudget below.
  private[queries] val DbSweepEps = Seq(0.02, 0.03, 0.045) // DbEps is the middle point

  /** Enforced sample-at-scale contract (review r11 item 3): the sweep's
    * pair table is density-quadratic, so over this many points the
    * audit runs on a deterministic sample. 20k keeps every oracle SF
    * (sf0.01 = 500 docs, sf0.1 = 5000) exactly unsampled — hashes
    * unchanged — while sf1's 50k docs sample to ~20k and a 100 TB
    * corpus to the same bounded audit size. */
  private[queries] val DbSweepRowBudget: Long = 20000L

  /** The budget is a session knob (`graft.dbscan.sweep.rowBudget`) so a
    * deployment can widen or tighten the audit's sample without a
    * rebuild; the default above is the contract. */
  private[queries] def dbSweepRowBudget(spark: SparkSession): Long =
    spark.conf.getOption("graft.dbscan.sweep.rowBudget")
      .map(_.toLong).getOrElse(DbSweepRowBudget)

  /** Deterministic row-budget sampler: identity at n ≤ budget,
    * hash-Bernoulli at ~budget/n above it (xxhash64 of doc_id — an
    * internal key that never reaches output, per the oracle-parity
    * house rules). Same rows every run, every partitioning. */
  private[queries] def sampleToBudget(pts: DataFrame, n: Long,
      budget: Long): DataFrame =
    if (n <= budget) pts
    else pts.where(pmod(xxhash64(col("doc_id")), lit(1000000L)) <
      lit(budget * 1000000L / n))

  private[queries] def sampleToBudget(pts: DataFrame, budget: Long): DataFrame =
    sampleToBudget(pts, pts.count(), budget)

  /** The sweep's staged inputs: the widest-grid point table and the
    * d2-carrying eps-graph at max(eps) — one build per corpus, shared
    * by the audit query and the setup prewarm. */
  private def dbscanSweepPts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val epsMax = DbSweepEps.max
    graft.operators.Staging.persisted(spark, sfDir, "dbscan-sweep-pts") {
      // budget decision off the cheap parquet count-star, not a feature
      // recompute; the guard fires before any quadratic work exists
      val docs = Tables.documents(spark, sfDir)
      sampleToBudget(dbscanFeaturesOf(docs), docs.count(),
        dbSweepRowBudget(spark))
        .select($"doc_id", $"x", $"y",
          floor($"x" / epsMax).as("cx"), floor($"y" / epsMax).as("cy"))
    }
  }

  private def dbscanSweepNbr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val epsMax = DbSweepEps.max
    val pts = dbscanSweepPts(spark, sfDir)
    graft.operators.Staging.persisted(spark, sfDir, "dbscan-sweep-nbr") {
      val probe = pts
        .select($"doc_id".as("ida"), $"x".as("xa"), $"y".as("ya"),
          explode(sequence(lit(-1), lit(1))).as("ox"), $"cx", $"cy")
        .select($"ida", $"xa", $"ya",
          explode(sequence(lit(-1), lit(1))).as("oy"), $"ox", $"cx", $"cy")
        .select($"ida", $"xa", $"ya",
          ($"cx" + $"ox").as("kx"), ($"cy" + $"oy").as("ky"))
      val home = pts.select($"doc_id".as("idb"), $"x".as("xb"), $"y".as("yb"),
        $"cx".as("kx"), $"cy".as("ky"))
      probe.join(home, Seq("kx", "ky"))
        .where($"ida" =!= $"idb")
        .select($"ida", $"idb",
          (($"xa" - $"xb") * ($"xa" - $"xb") +
            ($"ya" - $"yb") * ($"ya" - $"yb")).as("d2"))
        .where($"d2" <= lit(epsMax) * lit(epsMax))
    }
  }

  def qDbscanSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pts = dbscanSweepPts(spark, sfDir)
    val nbr = dbscanSweepNbr(spark, sfDir)
    val nDocs = pts.count()
    val idx = DbSweepEps.indices
    def within(eps: Double) = $"d2" <= lit(eps) * lit(eps)
    // ONE scan of the pair table: per-point neighbor counts at every eps
    // → per-eps core flags in one frame (the old per-eps formulation
    // scanned it ~12×: 4.5 s at sf0.1, 16 s at sf1)
    val degAggs = DbSweepEps.zipWithIndex.map { case (eps, i) =>
      sum(when(within(eps), 1L).otherwise(0L)).as(s"nn$i")
    }
    val flags = nbr.groupBy($"ida")
      .agg(degAggs.head, degAggs.tail: _*)
      .select($"ida" +: idx.map(i =>
        (col(s"nn$i") + 1L >= DbMinPts).as(s"c$i")): _*)
      .localCheckpoint() // feeds the border scan, the contractions, the rollup
    // ONE more scan: per point and eps, does it touch a core?
    val hasAggs = idx.map { i =>
      max(when(within(DbSweepEps(i)) && col(s"cb$i"), 1L).otherwise(0L)).as(s"h$i")
    }
    // broadcast the flag frame: it is ≤ DbSweepRowBudget rows by the
    // ENFORCED sample contract, but its localCheckpoint erases stats so
    // the planner would otherwise sort-merge and shuffle the quadratic
    // pair table against it (r18 profile: the nbr exchange was this
    // face's dominant residual cost)
    val touched = nbr
      .join(broadcast(flags.select($"ida".as("idb") +: idx.map(i =>
        col(s"c$i").as(s"cb$i")): _*)), Seq("idb"))
      .groupBy($"ida").agg(hasAggs.head, hasAggs.tail: _*)
    // per-eps core/border counts in ONE rollup of the flag frame
    // coalesce: an EMPTY flag frame (degenerate corpus with no pairs at
    // all) makes the ungrouped sums NULL — the oracle's per-eps counts
    // are zero there, and getLong would NPE (review r11 advice)
    val cntAggs = idx.flatMap { i =>
      Seq(coalesce(sum(when(col(s"c$i"), 1L).otherwise(0L)), lit(0L))
          .as(s"core$i"),
        coalesce(sum(when(!col(s"c$i") && col(s"h$i") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as(s"border$i"))
    }
    // The core/border rollup and the three per-eps cluster counts are
    // independent job chains over the shared (checkpointed/staged) flag
    // and pair frames — submit them concurrently (opt guide §2.6) so
    // the driver-sequential tail (4 chains × several small jobs each)
    // collapses to the slowest chain. Values are untouched: each chain
    // reads only immutable frames and lands at its input index.
    val cntThunk: () => org.apache.spark.sql.Row = () =>
      flags.join(touched, Seq("ida"))
        .agg(cntAggs.head, cntAggs.tail: _*).collect()(0)
    // per-eps cell contraction + driver union-find, core sets read from
    // the shared flag frame
    val clusterThunks = DbSweepEps.zipWithIndex.map { case (eps, i) => () => {
      val core = flags.where(col(s"c$i")).select($"ida".as("doc_id"))
      val c2 = eps / 2.0
      val coreCells = core.join(pts, Seq("doc_id"))
        .select($"doc_id", floor($"x" / c2).as("c2x"), floor($"y" / c2).as("c2y"))
      val coreRep = coreCells
        .join(coreCells.groupBy($"c2x", $"c2y").agg(min($"doc_id").as("rep")),
          Seq("c2x", "c2y"))
        .select($"doc_id", $"rep")
        .localCheckpoint() // feeds the two edge-endpoint joins + the rep list
      // broadcast coreRep on both endpoint joins (same budget-capped
      // size argument as the flag frame): the pair table stays unshuffled
      val cellEdges = nbr.where(within(eps))
        .join(broadcast(coreRep.select($"doc_id".as("ida"), $"rep".as("repa"))), Seq("ida"))
        .join(broadcast(coreRep.select($"doc_id".as("idb"), $"rep".as("repb"))), Seq("idb"))
        .where($"repa" =!= $"repb")
        .select($"repa", $"repb").distinct()
      // capped driver union-find (distributed fallback over the cap —
      // review r11). Cluster count without collecting reps (a
      // pathological all-isolated corpus makes the rep list
      // corpus-sized): components among edge-incident reps — both
      // counts are FREE on the driver path (the label array is already
      // local) — plus one isolated cluster per edge-less rep.
      val (_, nIncident, nComponents) =
        graft.operators.DriverComponents.minLabelsWithCounts(cellEdges)
      val nReps = coreRep.select($"rep").distinct().count()
      nComponents + (nReps - nIncident)
    }}
    val par = graft.operators.Par.run[Any](
      (cntThunk: () => Any) +: clusterThunks.map(t => (t: () => Any)))
    val cnt = par.head.asInstanceOf[org.apache.spark.sql.Row]
    val rows = DbSweepEps.zipWithIndex.map { case (eps, i) =>
      val nClusters = par(1 + i).asInstanceOf[Long]
      val nCore = cnt.getLong(2 * i)
      val nBorder = cnt.getLong(2 * i + 1)
      (eps, nCore, nBorder, nDocs - nCore - nBorder, nClusters)
    }
    rows.toDF("eps", "n_core", "n_border", "n_noise", "n_clusters")
  }

  val qDbscanSweepSql: String = {
    def block(i: Int, eps: Double): String =
      s"""deg$i AS (SELECT ida AS doc_id, count(*) AS nn FROM nb2
         |          WHERE d2 <= $eps * $eps GROUP BY 1),
         |core$i AS (SELECT doc_id FROM deg$i WHERE nn + 1 >= $DbMinPts),
         |e$i AS (SELECT ida AS v, idb AS w FROM nb2
         |        WHERE d2 <= $eps * $eps
         |          AND ida IN (SELECT doc_id FROM core$i)
         |          AND idb IN (SELECT doc_id FROM core$i)),
         |r$i AS (SELECT doc_id AS v, doc_id AS w FROM core$i
         |        UNION SELECT e$i.v, r$i.w FROM e$i JOIN r$i ON e$i.w = r$i.v),
         |lab$i AS (SELECT v, min(w) AS cluster FROM r$i GROUP BY 1),
         |bd$i AS (SELECT DISTINCT nb2.ida AS doc_id FROM nb2
         |         WHERE d2 <= $eps * $eps
         |           AND nb2.idb IN (SELECT doc_id FROM core$i)
         |           AND nb2.ida NOT IN (SELECT doc_id FROM core$i))""".stripMargin
    val blocks = DbSweepEps.zipWithIndex
      .map { case (e, i) => block(i, e) }.mkString(",\n")
    val branches = DbSweepEps.zipWithIndex.map { case (e, i) =>
      s"""SELECT CAST($e AS DOUBLE) AS eps,
         |       (SELECT count(*) FROM core$i) AS n_core,
         |       (SELECT count(*) FROM bd$i) AS n_border,
         |       (SELECT count(*) FROM f)
         |         - (SELECT count(*) FROM core$i)
         |         - (SELECT count(*) FROM bd$i) AS n_noise,
         |       (SELECT count(DISTINCT cluster) FROM lab$i) AS n_clusters"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    val em = DbSweepEps.max
    s"""WITH RECURSIVE
       |f AS (SELECT doc_id,
       |             CAST(CAST(list_sum(list_transform(string_split(text, ' '),
       |                                               t -> len(t))) AS BIGINT)
       |                  AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x,
       |             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS y
       |      FROM documents),
       |nb2 AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
       |               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
       |        FROM f a JOIN f b ON a.doc_id <> b.doc_id
       |        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |                <= $em * $em),
       |$blocks
       |$branches""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skyline" -> (qSkyline _),
    "q_dbscan_sweep" -> (qDbscanSweep _),
    "q_dbscan_silhouette" -> (qDbscanSilhouette _),
    "q_skyline3" -> (qSkyline3 _),
    "q_dbscan" -> (qDbscan _),
    "q_burrows_delta" -> (qBurrowsDelta _),
    "q_source_cosine" -> (qSourceCosine _),
    "q_profile_drift" -> (qProfileDrift _),
    "q_keyword_tag" -> (qKeywordTag _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_margin_mining" -> (qMarginMining _),
    "q_cluster_topics" -> (qClusterTopics _),
    "q_token_entropy" -> (qTokenEntropy _))

  val oracleSql: Map[String, String] = Map(
    "q_skyline" -> qSkylineSql,
    "q_skyline3" -> qSkyline3Sql,
    "q_dbscan_sweep" -> qDbscanSweepSql,
    "q_dbscan_silhouette" -> qDbscanSilhouetteSql,
    "q_dbscan" -> qDbscanSql,
    "q_burrows_delta" -> qBurrowsDeltaSql,
    "q_source_cosine" -> qSourceCosineSql,
    "q_profile_drift" -> qProfileDriftSql,
    "q_keyword_tag" -> qKeywordTagSql,
    "q_snapshot_diff" -> qSnapshotDiffSql,
    "q_margin_mining" -> qMarginMiningSql,
    "q_cluster_topics" -> qClusterTopicsSql,
    "q_token_entropy" -> qTokenEntropySql)
}
