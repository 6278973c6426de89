package graft.queries

import graft.SparkTestBase

/** Semantics for the corpus-governance module (Corpus.scala). The
  * driver gate hash-checks each query against DuckDB; these pin what
  * that compare can't see — equality with independent driver-side
  * reimplementations (the margin rule, the tag counts, the diff
  * classification, the lift ranking) and the plan shapes that carry
  * to 100 TB (broadcast dictionary, broadcast probe NL, bounded
  * top-k). */
class CorpusOpsSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def docRows: Array[(Long, String, String)] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)].collect()
  }

  test("keyword tag counts equal a driver-side phrase scan") {
    import spark.implicits._
    val dict = Corpus.TagDict.toMap // phrase -> category
    val expected = scala.collection.mutable.Map
      .empty[(Long, String), (Long, Set[String])]
    for ((id, _, text) <- docRows) {
      val toks = text.split(' ')
      val grams = toks.iterator ++
        toks.iterator.zip(toks.iterator.drop(1)).map { case (a, b) => s"$a $b" }
      for (g <- grams; cat <- dict.get(g)) {
        val (n, ps) = expected.getOrElse((id, cat), (0L, Set.empty[String]))
        expected((id, cat)) = (n + 1, ps + g)
      }
    }
    val got = Corpus.qKeywordTag(spark, sfDir)
      .as[(Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.keySet == expected.keySet.toSet)
    for ((k, (n, ps)) <- expected)
      assert(got(k) == ((n, ps.size.toLong)), s"mismatch at $k")
    // the dictionary side must broadcast: matching is map-side, the only
    // shuffle is the doc-keyed aggregation of sparse match rows
    val plan = Corpus.qKeywordTag(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("snapshot diff classifies by the derivation rules") {
    import spark.implicits._
    val rows = docRows
    val expected = scala.collection.mutable.Map.empty[(String, String), Long]
    def bump(src: String, st: String): Unit =
      expected((src, st)) = expected.getOrElse((src, st), 0L) + 1
    for ((id, src, _) <- rows) {
      if (id % 13 == 0) bump(src, "removed")
      else if (id % 7 == 0) bump(src, "changed")
      else bump(src, "unchanged")
      if (id % 11 == 0) bump(src, "added") // +1e6-keyed copy, new in B
    }
    val got = Corpus.qSnapshotDiff(spark, sfDir)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == expected.toMap)
  }

  test("margin mining equals a driver-side reimplementation of the rule") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def c9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val aIds = emb.keys.filter(_ % 2 == 0).toSeq.sorted
    val bIds = emb.keys.filter(_ % 2 == 1).toSeq.sorted
    val probes = aIds.filter(_ < 40)
    def topBy(scored: Seq[(Long, BigDecimal)], k: Int) =
      scored.sortBy { case (id, c) => (-c, id) }.take(k)
    val expected = probes.flatMap { q =>
      val scored = bIds.map(y => y -> c9(cos(emb(q), emb(y))))
      val short = topBy(scored, 8)
      val sx = topBy(scored, 4).map(_._2).sum
      val withMargin = short.map { case (y, c) =>
        val syScored = aIds.map(a => a -> c9(cos(emb(y), emb(a))))
        val sy = topBy(syScored, 4).map(_._2).sum
        y -> (c.toDouble * 8.0) / (sx + sy).toDouble
      }
      withMargin.sortBy { case (y, m) => (-m, y) }.take(3).zipWithIndex
        .map { case ((y, m), i) => (q, i + 1, y, m) }
    }.toSet
    val got = Corpus.qMarginMining(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == expected)
    // every top-k selection runs through the bounded operator (the
    // candidate scan's broadcast NL sits behind the shortlist's lazy
    // checkpoint, so it prints as ExistingRDD here — the crossJoin(
    // broadcast(probes)) construction pins its shape structurally)
    val plan = Corpus.qMarginMining(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupFinal"), plan)
  }

  test("sorted neighborhood equals a driver-side window scan and reports only true pairs") {
    import spark.implicits._
    val rows = docRows.map { case (id, _, text) => (id, text) }
    val byIdx = rows.sortBy { case (id, t) => (t, id) }.zipWithIndex
    def shingles(t: String): Set[String] =
      t.split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sh = rows.map { case (id, t) => id -> shingles(t) }.toMap
    val expected = (for {
      ((ida, _), ia) <- byIdx.iterator
      ((idb, _), ib) <- byIdx.iterator
      if ib > ia && ib - ia <= 8
      sa = sh(ida); sb = sh(idb)
      if sa.nonEmpty && sb.nonEmpty
      c = (sa & sb).size.toLong
      if c * 5 >= (sa.size + sb.size - c) * 3
    } yield (ida, idb, (ib - ia).toLong, c)).toSet
    val got = Dedup.qSortedNeighborhood(spark, sfDir)
      .select($"doc_a", $"doc_b", $"gap", $"c")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // every reported pair is a true >= 0.6 jaccard pair (the verify is
    // exact — SN's approximation is recall, never precision)
    assert(got.forall { case (a, b, _, c) =>
      val (sa, sb) = (sh(a), sh(b))
      c == (sa & sb).size && c * 5 >= (sa.size + sb.size - c) * 3
    })
  }

  test("multi-pass SN catches a planted prefix-divergent near-dup the single pass misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // docs 1 and 2 share their last 30 tokens but open with opposite-end
    // first tokens; 12 fillers sort BETWEEN them on the text key (gap 13
    // > window 8, so pass 1 never pairs them), while the reversed-text
    // key makes them adjacent (shared suffix = shared reversed prefix)
    val suffix = (1 to 30).map(i => s"tok$i").mkString(" ")
    val fillers = (1 to 12).map { i =>
      val mid = ('b' + (i % 20)).toChar
      (100L + i, s"${mid}filler$i " + (1 to 30).map(j => s"f${i}x$j").mkString(" "))
    }
    val docs = (Seq((1L, s"aaa $suffix"), (2L, s"zzz $suffix")) ++ fillers)
      .toDF("doc_id", "text")
    val hs = docs.select($"doc_id",
      array_sort(transform(graft.functions.functions.word_shingles($"text", 3),
        s => xxhash64(s))).as("hs"))
    // pass 1 alone: the planted pair is not even a CANDIDATE
    val p1 = Dedup.snCandidatePairs(docs, $"text")
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!p1.contains((1L, 2L)) && !p1.contains((2L, 1L)),
      s"planted pair reachable by the single key: $p1")
    // multi-pass: found (by pass 2 only) and verified at jaccard ~0.93
    val mp = Dedup.snMultiPassPairs(docs, hs)
      .select($"doc_a", $"doc_b", $"n_passes", $"jac")
      .as[(Long, Long, Long, Double)].collect()
    val planted = mp.filter(r => r._1 == 1L && r._2 == 2L)
    assert(planted.length == 1, mp.mkString(";"))
    assert(planted.head._3 == 1L, s"expected pass-2-only: ${planted.head}")
    assert(planted.head._4 > 0.9)
    // recall is monotone: every pass-1 candidate is an mp candidate, so
    // on the real corpus the mp face reports at least the single-pass set
    val single = Dedup.qSortedNeighborhood(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val multi = Dedup.qSortedNeighborhoodMp(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi),
      s"missing from mp: ${single -- multi}")
  }

  test("blocking-quality audit: multi-pass dominates its passes, ratios are coherent") {
    import spark.implicits._
    val rows = Dedup.qBlockingQuality(spark, sfDir)
      .as[(String, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(rows.keySet ==
      Set("sn_text", "sn_reverse", "sn_multipass", "simhash_bands"))
    val (t, r2, mp) = (rows("sn_text"), rows("sn_reverse"), rows("sn_multipass"))
    // the union can only add candidates and can only find more truth
    assert(mp._2 >= math.max(t._2, r2._2) && mp._2 <= t._2 + r2._2)
    assert(mp._3 >= math.max(t._3, r2._3))
    // every strategy: found-truth bounded by truth; ratios in [0, 1]
    rows.values.foreach { r =>
      assert(r._3 <= r._4)
      assert(r._5.forall(c => c >= 0 && c <= 1) && r._6.forall(x => x >= 0 && x <= 1))
      assert(r._5.contains(r._3.toDouble / r._4))
    }
  }

  test("lsh S-curve audit: exact dups collide in every config, ratios coherent") {
    import spark.implicits._
    // pigeonhole theorem under test: identical shingle sets → identical
    // portable signatures → every band key equal → the pair surfaces in
    // EVERY (b, r) config, no matter how strict
    val planted = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("a b c", "b c d", "c d e")),
      (3L, Seq("x y z", "y z w", "z w v"))).toDF("doc_id", "sh")
    val sig = Dedup.lshSigFromShingles(planted)
    // kernel parity: the fused portable_minhash equals a driver-side
    // recompute of the documented md5-affine family
    locally {
      val p = graft.functions.PortableMinhash.P
      val aM = graft.functions.PortableMinhash.AMul
      val bM = graft.functions.PortableMinhash.BMul
      val md = java.security.MessageDigest.getInstance("MD5")
      def base(s: String): Long = {
        val d = md.digest(s.getBytes("UTF-8"))
        (0 until 6).foldLeft(0L)((h, b) => (h << 8) | (d(b) & 0xffL)) % p
      }
      val expected = planted.collect().map { row =>
        val hs = row.getSeq[String](1).map(base)
        row.getLong(0) -> (0 until Dedup.NumHashes).map { j =>
          hs.map(h => (((j + 1) * aM % p) * h + ((j + 1) * bM + 17) % p) % p).min
        }
      }.toMap
      sig.collect().foreach { row =>
        assert(row.getSeq[Long](1) == expected(row.getLong(0)))
      }
    }
    Dedup.LshCfgs.foreach { case (b, r) =>
      val pairs = Dedup.lshBandPairs(sig, b, r)
        .as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 2L)), s"exact dup missed at b=$b r=$r")
      assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
        s"disjoint shingle sets collided at b=$b r=$r: $pairs")
    }
    val rows = Dedup.qLshCurve(spark, sfDir)
      .as[(String, Int, Int, Long, Long, Long,
           Option[Double], Option[Double], Option[Double])]
      .collect().map(r => (r._2, r._3) -> r).toMap
    assert(rows.keySet == Dedup.LshCfgs.toSet)
    rows.values.foreach { r =>
      assert(r._5 <= r._4 && r._5 <= r._6) // n_true ≤ candidates, ≤ truth
      assert(r._7.contains(r._5.toDouble / r._6))
      assert(r._8.forall(e => e >= 0 && e <= 1))
      assert(r._9.forall(x => x >= 0 && x <= 1))
    }
    // the S-curve steepens with rows-per-band: along the fixed-budget
    // grid the predicted recall over the same truth set never rises
    val byR = Dedup.LshCfgs.sortBy(_._2).map(c => rows(c)._8.get)
    assert(byR == byR.sorted.reverse, s"expected non-increasing in r: $byR")
  }

  test("lsh curve's sample-at-scale guard fires over budget, keeps ratios consistent") {
    import spark.implicits._
    val full = Dedup.qLshCurve(spark, sfDir)
      .select($"strategy", $"n_truth").as[(String, Long)].collect().toMap
    try {
      spark.conf.set("graft.dbscan.sweep.rowBudget", "100")
      val sampled = Dedup.qLshCurve(spark, sfDir)
        .as[(String, Int, Int, Long, Long, Long,
             Option[Double], Option[Double], Option[Double])].collect()
      assert(sampled.length == Dedup.LshCfgs.size)
      sampled.foreach { r =>
        // truth strictly shrank to sampled endpoints, invariants hold
        assert(r._6 <= full(r._1))
        assert(r._5 <= r._4 && r._5 <= r._6)
        if (r._6 > 0) assert(r._7.contains(r._5.toDouble / r._6))
      }
      assert(sampled.map(_._6).max < full.values.max,
        "guard did not restrict the truth table")
    } finally spark.conf.unset("graft.dbscan.sweep.rowBudget")
  }

  test("nb calibration bins equal a driver recompute over the score frame") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
    val scores = Curation.classifierScores(docs)
      .select($"doc_id", $"source", $"score".cast("double"))
      .as[(Long, String, Double)].collect()
    val ref = Set("src1", "src2", "src3")
    val expected = scores
      .map { case (_, src, s) =>
        (math.floor(s / 2.0).toLong, if (ref(src)) 1L else 0L,
          BigDecimal(1.0 / (1.0 + math.exp(-s)))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP))
      }
      .groupBy(_._1)
      .map { case (bin, rows) =>
        val n = rows.length.toLong
        val nr = rows.map(_._2).sum
        val sp = rows.map(_._3).sum
        (bin, n, nr, nr.toDouble / n.toDouble, (sp / n).toDouble)
      }.toSet
    val got = Curation.qNbCalibration(spark, sfDir)
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    // mean_pred divides the exact decimal sum as double/double — redo
    // that exactly for the comparison
    val expectedExact = expected.map { case (b, n, nr, fr, _) => (b, n, nr, fr) }
    assert(got.map(r => (r._1, r._2, r._3, r._4)) == expectedExact)
    got.foreach { r =>
      assert(r._4 >= 0 && r._4 <= 1 && r._5 >= 0 && r._5 <= 1)
    }
    // calibration direction: the highest-score bin must be purer in
    // reference docs than the lowest-score bin
    val byBin = got.toSeq.sortBy(_._1)
    assert(byBin.last._4 > byBin.head._4)
    assert(got.map(_._2).sum == scores.length)
  }

  test("skyline equals the brute-force quadratic Pareto set") {
    import spark.implicits._
    val m = docRows.map { case (id, _, text) =>
      val toks = text.split(' ')
      (id, toks.length.toLong, toks.distinct.length.toLong)
    }
    val expected = m.filter { case (_, nt, dt) =>
      !m.exists { case (_, nt2, dt2) =>
        nt2 <= nt && dt2 >= dt && (nt2 < nt || dt2 > dt)
      }
    }.map(_._1).toSet
    assert(expected.nonEmpty)
    val got = Corpus.qSkyline(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == expected)
    // frontier is a strict staircase: sorted by length, distinct counts
    // strictly increase (coordinate ties collapse to the same point)
    val stairs = got.map(r => (r._2, r._3)).distinct.sortBy(_._1)
    assert(stairs.sliding(2).forall {
      case Array((n1, d1), (n2, d2)) => n1 < n2 && d1 < d2
      case _ => true
    })
  }

  test("3-d skyline equals the brute-force Pareto set (two-phase merge verified)") {
    import spark.implicits._
    val stop = TextOps.stopWords.toSet
    val m = docRows.map { case (id, _, text) =>
      val toks = text.split(' ')
      (id, toks.length.toLong, toks.distinct.length.toLong,
        toks.count(stop).toLong)
    }
    def dom(b: (Long, Long, Long, Long), a: (Long, Long, Long, Long)) =
      b._3 >= a._3 && b._2 <= a._2 && b._4 <= a._4 &&
        (b._3 > a._3 || b._2 < a._2 || b._4 < a._4)
    val expected = m.filter(a => !m.exists(b => dom(b, a))).map(_._1).toSet
    val got = Corpus.qSkyline3(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSet == expected)
    // the third criterion genuinely widens the frontier on this corpus
    // (no containment assertion — an equal-(nt,dt), lower-stop point can
    // lawfully evict a 2-d skyline member from the 3-d frontier)
    val got2d = Corpus.qSkyline(spark, sfDir)
      .as[(Long, Long, Long)].collect().map(_._1).toSet
    assert(got.length > got2d.size)
  }

  test("dbscan equals a driver-side brute-force DBSCAN (grid completeness included)") {
    import spark.implicits._
    val eps = 0.03
    val minPts = 5
    val pts = docRows.map { case (id, _, text) =>
      val toks = text.split(' ')
      val nt = toks.length.toLong
      (id, toks.map(_.length.toLong).sum.toDouble / nt.toDouble,
        toks.distinct.length.toLong.toDouble / nt.toDouble)
    }
    def close(a: (Long, Double, Double), b: (Long, Double, Double)) =
      a._1 != b._1 &&
        (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3) <= eps * eps
    val nbrs = pts.map(p => p._1 -> pts.filter(q => close(p, q)).map(_._1).toSet).toMap
    val cores = pts.map(_._1).filter(id => nbrs(id).size + 1 >= minPts).toSet
    // BFS connected components over core-core edges, labeled by min id
    var cluster = Map.empty[Long, Long]
    for (c <- cores.toSeq.sorted if !cluster.contains(c)) {
      var frontier = Set(c); var comp = Set(c)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(v => nbrs(v).filter(cores)) -- comp
        comp ++= frontier
      }
      val lbl = comp.min
      comp.foreach(v => cluster += v -> lbl)
    }
    val expected = pts.map { p =>
      val id = p._1
      if (cores(id)) (id, "core", cluster(id), nbrs(id).size + 1L)
      else {
        val coreNb = nbrs(id).filter(cores)
        if (coreNb.nonEmpty) (id, "border", coreNb.map(cluster).min, nbrs(id).size + 1L)
        else (id, "noise", -1L, nbrs(id).size + 1L)
      }
    }.toSet
    val got = Corpus.qDbscan(spark, sfDir)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == expected)
    // structure is non-trivial at this sf: at least one of each role
    assert(Set("core", "border", "noise").subsetOf(got.map(_._2)))
  }

  test("dbscan sweep's middle point reconciles exactly with the report face") {
    import spark.implicits._
    val sweep = Corpus.qDbscanSweep(spark, sfDir)
      .as[(Double, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(sweep.keySet == Corpus.DbSweepEps.toSet)
    val report = Corpus.qDbscan(spark, sfDir)
      .as[(Long, String, Long, Long)].collect()
    val byRole = report.groupBy(_._2).view.mapValues(_.length.toLong)
      .toMap.withDefaultValue(0L)
    val nClusters = report.filter(_._3 >= 0).map(_._3).distinct.length.toLong
    assert(sweep(0.03) ==
      ((byRole("core"), byRole("border"), byRole("noise"), nClusters)))
    // density monotonicity: cores never shrink as eps widens
    val byEps = Corpus.DbSweepEps.sorted.map(sweep(_)._1)
    assert(byEps == byEps.sorted, s"core counts not monotone: $byEps")
    sweep.values.foreach { case (c, b, n, k) =>
      assert(c + b + n == report.length.toLong)
      assert(k <= c && (c == 0L) == (k == 0L))
    }
  }

  test("sampleToBudget is identity under budget, deterministic strict subset over it") {
    import spark.implicits._
    val pts = (0L until 2000L).map(i => (i, i * 0.001, i * 0.002))
      .toDF("doc_id", "x", "y")
    assert(Corpus.sampleToBudget(pts, 2000L).count() == 2000L)
    val s1 = Corpus.sampleToBudget(pts, 500L)
      .select($"doc_id").as[Long].collect().toSet
    val s2 = Corpus.sampleToBudget(pts.repartition(7), 500L)
      .select($"doc_id").as[Long].collect().toSet
    assert(s1 == s2, "sample must be partitioning-independent")
    assert(s1.size > 250 && s1.size < 750, s"~budget/n fraction, got ${s1.size}")
  }

  test("sweep's sample-at-scale guard fires on an over-budget corpus") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir).count()
    assert(docs > 100L)
    try {
      spark.conf.set("graft.dbscan.sweep.rowBudget", "100")
      graft.operators.Staging.invalidate(Some(sfDir))
      val sweep = Corpus.qDbscanSweep(spark, sfDir)
        .as[(Double, Long, Long, Long, Long)].collect()
      // every eps row reports the same sampled population, strictly
      // under the corpus and near the budget
      val totals = sweep.map(r => r._2 + r._3 + r._4).distinct
      assert(totals.length == 1, s"inconsistent totals: ${totals.toSeq}")
      val n = totals.head
      assert(n > 0 && n < docs, s"guard did not fire: n=$n of $docs")
      // deterministic: a fresh staging build lands on the same sample
      graft.operators.Staging.invalidate(Some(sfDir))
      val again = Corpus.qDbscanSweep(spark, sfDir)
        .as[(Double, Long, Long, Long, Long)].collect()
      assert(sweep.toSet == again.toSet)
    } finally {
      spark.conf.unset("graft.dbscan.sweep.rowBudget")
      graft.operators.Staging.invalidate(Some(sfDir))
    }
  }

  test("dbscan silhouette equals a driver recompute and is bounded in [-1, 1]") {
    import spark.implicits._
    def r9(d: Double): BigDecimal =
      BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val assigned = Corpus.qDbscan(spark, sfDir)
      .where($"cluster" >= 0).select($"doc_id", $"cluster")
      .as[(Long, Long)].collect().toMap
    val feats = Corpus.dbscanFeaturesOf(
        graft.core.Tables.documents(spark, sfDir).select($"doc_id", $"text"))
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r9(r._2), r9(r._3))).toMap
    val byCluster = assigned.groupBy(_._2).view.mapValues(_.keys.toSeq)
    // centroid = exact decimal sum widened once, divided as doubles —
    // the same two operations Spark performs
    val centD = byCluster.map { case (c, ids) =>
      val n = ids.length.toDouble
      c -> ((ids.map(feats(_)._1).sum.toDouble / n,
        ids.map(feats(_)._2).sum.toDouble / n))
    }.toMap
    def dist(p: (BigDecimal, BigDecimal), q: (Double, Double)): Double =
      math.sqrt((p._1.toDouble - q._1) * (p._1.toDouble - q._1) +
        (p._2.toDouble - q._2) * (p._2.toDouble - q._2))
    val sByCluster = assigned.toSeq.map { case (id, c) =>
      val a = dist(feats(id), centD(c))
      val bs = centD.collect { case (c2, q) if c2 != c => dist(feats(id), q) }
      val s = if (bs.isEmpty) None
      else {
        val b = bs.min
        Some(if (math.max(a, b) == 0.0) BigDecimal(0)
        else r9((b - a) / math.max(a, b)))
      }
      (c, s)
    }.groupBy(_._1)
    val got = Corpus.qDbscanSilhouette(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val expectedD = sByCluster.map { case (c, rows) =>
      val scored = rows.flatMap(_._2)
      (c, rows.length.toLong, scored.length.toLong,
        scored.sum.toDouble / scored.length.toDouble)
    }.toSet
    assert(got == expectedD, {
      val diff = (got -- expectedD) ++ (expectedD -- got)
      s"diffs: ${diff.take(4).mkString(",")}"
    })
    got.foreach(r => assert(r._4 >= -1.0 && r._4 <= 1.0))
    assert(got.size >= 3) // real multi-cluster structure at this sf
  }

  test("syndication matrix equals a driver rollup of the verified pairs") {
    import spark.implicits._
    val srcOf = docRows.map(r => r._1 -> r._2).toMap
    val pairs = Dedup.qDedupNear(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    val expected = pairs
      .map { case (a, b, j) =>
        (srcOf(a), srcOf(b),
          BigDecimal(j).setScale(9, BigDecimal.RoundingMode.HALF_UP))
      }
      .groupBy(r => (r._1, r._2))
      .map { case ((o, c), rows) =>
        (o, c, rows.length.toLong,
          rows.map(_._3).sum.toDouble / rows.length.toDouble)
      }.toSet
    val got = Curation.qSyndication(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == expected)
    assert(got.toSeq.map(_._3).sum == pairs.length)
  }

  test("dedup saturation curve: cumulative columns are consistent and monotone") {
    import spark.implicits._
    val rows = Curation.qDedupSaturation(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    val nDups = Dedup.nearDupPairs(spark, sfDir)
      .select($"doc_b").distinct().count()
    assert(rows.map(_._2).sum == nDocs)
    assert(rows.map(_._3).sum == nDups)
    assert(rows.last._4 == nDocs && rows.last._5 == nDups)
    // cum columns are prefix sums of the per-bucket columns
    assert(rows.scanLeft(0L)(_ + _._2).tail.sameElements(rows.map(_._4)))
    assert(rows.scanLeft(0L)(_ + _._3).tail.sameElements(rows.map(_._5)))
    rows.foreach(r => assert(r._6 >= 0.0 && r._6 <= 1.0 &&
      r._6 == r._5.toDouble / r._4.toDouble))
  }

  test("k-core pruning equals a driver-side peel and is a fixpoint at round 4") {
    import spark.implicits._
    val pairs = Dedup.qDedupNear(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    def peel(k: Int, rounds: Int): Map[Long, Int] = {
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      pairs.foreach { case (a, b) =>
        adj(a) = adj.getOrElse(a, Set.empty) + b
        adj(b) = adj.getOrElse(b, Set.empty) + a
      }
      var nodes = adj.keySet.toSet
      var deg = adj.view.mapValues(_.size).toMap
      for (_ <- 1 to rounds) {
        nodes = deg.collect { case (n, d) if d >= k => n }.toSet
        deg = nodes.map(n => n -> (adj(n) & nodes).size).toMap
      }
      deg.filter(_._2 >= k)
    }
    val expected = peel(2, 4).map { case (n, d) => (n, d.toLong) }.toSet
    val got = Dedup.qDupKcore(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    assert(got == expected, s"got $got\nexp $expected")
    // a non-empty pair table overflows cap 0, so this is the distributed path
    val input = Dedup.nearDupPairs(spark, sfDir).select("doc_a", "doc_b")
    assert(!input.isEmpty)
    assert(Dedup.kcore(input, cap = 0).as[(Long, Long)].collect().toSet == got)
    // declared-rounds honesty: 4 peels already reach the fixpoint here
    assert(peel(2, 4) == peel(2, 8), "4 rounds not a fixpoint on this corpus")
    // the core is a strict subset of the graph's nodes at this sf (the
    // peel must actually remove something or the face is vacuous)
    val allNodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(got.map(_._1).subsetOf(allNodes) && got.size < allNodes.size)
  }

  test("Burrows' delta equals an exact-integer driver recompute") {
    import spark.implicits._
    val rows = graft.core.Tables.documents(spark, sfDir)
      .select($"source", $"text").as[(String, String)].collect()
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    rows.foreach { case (src, t) =>
      t.split(" ").foreach(w => counts((src, w)) = counts.getOrElse((src, w), 0L) + 1)
    }
    val totals = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val fw = counts.groupBy(_._1._2).view.mapValues(_.values.sum).toSeq
      .sortBy { case (t, cf) => (-cf, t) }.take(20).map(_._1)
    val sources = totals.keys.toSeq.sorted
    val p = (for (s <- sources; t <- fw) yield
      (s, t) -> (BigInt(counts.getOrElse((s, t), 0L)) * 1000000000L / totals(s)).toLong).toMap
    val zs = fw.flatMap { t =>
      val mu = sources.map(s => p((s, t))).sum / sources.size
      val v2 = sources.map(s => BigInt(p((s, t)) - mu) * (p((s, t)) - mu)).sum /
        sources.size
      if (v2 > 0)
        Some(t -> sources.map(s =>
          s -> ((p((s, t)) - mu).toDouble / math.sqrt(v2.toDouble))).toMap)
      else None
    }.toMap
    def r9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val expected = (for {
      a <- sources; b <- sources if a < b
    } yield {
      val terms = zs.keys.toSeq
      val sd = terms.map(t => r9(math.abs(zs(t)(a) - zs(t)(b)))).sum
      (a, b) -> ((terms.size.toLong, sd.toDouble / terms.size))
    }).toMap
    val got = Corpus.qBurrowsDelta(spark, sfDir)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == expected,
      s"diff: ${expected.toSet -- got.toSet} / ${got.toSet -- expected.toSet}")
  }

  test("token entropy equals a driver recompute and respects the ln(V) bound") {
    import spark.implicits._
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    for ((_, src, text) <- docRows; t <- text.split(' '))
      counts((src, t)) = counts.getOrElse((src, t), 0L) + 1
    val expected = counts.keys.groupBy(_._1).map { case (src, keys) =>
      val cfs = keys.toSeq.map(counts)
      val tot = cfs.sum
      val h = cfs.map { cf =>
        val p = cf.toDouble / tot
        BigDecimal(-p * math.log(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      src -> ((tot, keys.size.toLong, h.toDouble))
    }
    val got = Corpus.qTokenEntropy(spark, sfDir)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expected)
    // 0 < H <= ln(n_types) + rounding slack (uniform is the maximum)
    assert(got.values.forall { case (_, v, h) =>
      h > 0 && h <= math.log(v.toDouble) + 1e-6 })
  }

  test("cluster topic lift equals a recompute from the staged cells") {
    import spark.implicits._
    val cells = Similarity.corpusCells(spark, sfDir)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    val docs = docRows
    val tf = scala.collection.mutable.Map.empty[(Long, String), Long]
    val cellTot = scala.collection.mutable.Map.empty[Long, Long]
    val cf = scala.collection.mutable.Map.empty[String, Long]
    var tot = 0L
    for ((id, _, text) <- docs; t <- text.split(' ')) {
      cf(t) = cf.getOrElse(t, 0L) + 1; tot += 1
      cells.get(id).foreach { c =>
        tf((c, t)) = tf.getOrElse((c, t), 0L) + 1
        cellTot(c) = cellTot.getOrElse(c, 0L) + 1
      }
    }
    val expected = tf.keys.groupBy(_._1).flatMap { case (c, keys) =>
      val scored = keys.toSeq.map { case (_, t) =>
        (t, tf((c, t)),
          (tf((c, t)) * tot).toDouble / (cf(t) * cellTot(c)).toDouble)
      }
      scored.sortBy { case (t, _, l) => (-l, t) }.take(5).zipWithIndex
        .map { case ((t, n, l), i) => (c, i + 1, t, n, l) }
    }.toSet
    val got = Corpus.qClusterTopics(spark, sfDir)
      .as[(Long, Int, String, Long, Double)].collect().toSet
    assert(got == expected)
  }

  test("source profile cosine equals a driver recompute, bounded in (0, 1]") {
    import spark.implicits._
    val counts = graft.core.Tables.documents(spark, sfDir)
      .select($"source", $"text").as[(String, String)].collect()
      .flatMap { case (src, t) => t.split(" ", -1).map(src -> _) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bySrc = counts.groupBy(_._1._1).view
      .mapValues(_.map { case ((_, tok), c) => tok -> c }.toMap).toMap
    val exp = (for {
      a <- bySrc.keys; b <- bySrc.keys if a < b
    } yield {
      val dot = bySrc(a).iterator
        .map { case (tok, ca) => ca * bySrc(b).getOrElse(tok, 0L) }.sum
      val cos = (dot.toDouble / math.sqrt(
        bySrc(a).values.map(c => c * c).sum.toDouble)) /
        math.sqrt(bySrc(b).values.map(c => c * c).sum.toDouble)
      (a, b) -> ((dot, cos))
    }).toMap
    val got = Corpus.qSourceCosine(spark, sfDir)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == exp)
    assert(got.values.forall { case (_, c) => c > 0.0 && c <= 1.0 })
  }

  test("curation lineage reconciles with the curation pipeline's survivors") {
    import spark.implicits._
    // n_kept per source must equal the docs q_curate actually emits —
    // the lineage face and the pipeline face share the same verified
    // building blocks and may never disagree on the survivor set
    val lineage = Curation.qCurateLineage(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(5))).toMap
    val survivors = Curation.qCurate(spark, sfDir)
      .join(graft.core.Tables.documents(spark, sfDir).select($"doc_id", $"source"),
        Seq("doc_id"))
      .groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    lineage.foreach { case (src, (n, kept)) =>
      assert(kept == survivors.getOrElse(src, 0L),
        s"$src: lineage kept $kept vs curate ${survivors.getOrElse(src, 0L)}")
      assert(kept <= n)
    }
    val totalDocs = graft.core.Tables.documents(spark, sfDir).count()
    assert(lineage.values.map(_._1).sum == totalDocs, "lineage must cover every doc")
  }

  test("classifier filter separates planted reference-like and background-like docs") {
    import spark.implicits._
    // src1 is the reference class (Curation.RefSources); give it a
    // distinctive vocabulary, give the background another, and plant a
    // background doc WRITTEN IN the reference vocabulary — the model
    // must keep it (classification is by content, not by source label)
    val docs = Seq(
      (1L, "src1", "alpha beta gamma alpha beta"),
      (2L, "src1", "alpha gamma alpha beta beta gamma"),
      (3L, "src9", "noise junk noise junk junk"),
      (4L, "src9", "junk noise junk noise noise junk"),
      (5L, "src9", "alpha beta gamma beta alpha") // ref-voiced stray
    ).toDF("doc_id", "source", "text")
    val r = Curation.classifierReport(docs).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3))))
      .toMap
    assert(r("src1") == ((2L, 2L, r("src1")._3)), "reference docs must be kept")
    assert(r("src1")._3 > 0, "reference class must score positive")
    // background keeps exactly the ref-voiced stray: 1 of 3
    assert(r("src9")._1 == 3L && r("src9")._2 == 1L,
      s"background keep set wrong: ${r("src9")}")
  }

  test("classifier filter: reference sources outscore the background on the real corpus") {
    import spark.implicits._
    val rows = Curation.qClassifierFilter(spark, sfDir).collect()
      .map(x => x.getString(0) -> x.getDouble(3)).toMap
    val ref = Seq("src1", "src2", "src3").flatMap(rows.get)
    val bg = rows.view.filterKeys(k => !Set("src1", "src2", "src3")(k)).values.toSeq
    assert(ref.nonEmpty && bg.nonEmpty)
    val refMean = ref.sum / ref.size
    val bgMean = bg.sum / bg.size
    info(f"avg score: reference $refMean%.4f vs background $bgMean%.4f")
    // NB trained to separate ref from background must rank its own
    // training class higher in expectation, even on near-uniform data
    assert(refMean > bgMean, s"no separation: $refMean vs $bgMean")
  }
}
