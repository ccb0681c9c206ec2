package graft

import org.apache.spark.sql.functions._
import graft.operators.{Calibration, Dedup, Multimodal}

/** Cap-calibration kernel (VERDICT r14 #4): the recommended df cap
  * caps the planted hot keys, keeps the genuine duplicate pairs, and
  * respects the stated pair-mass budget. */
class CalibrationSpec extends SparkSpec {

  // planted postings: 50 genuine dup groups sharing TWO fingerprints
  // each (so winnowPairs' minShared = 2 passes), one boilerplate
  // fingerprint held by 200 docs. Genuine pair mass = 100 keys × 1
  // pair = 100; boilerplate mass = 200·199/2 = 19900.
  private def plantedPostings() = {
    val s = spark
    import s.implicits._
    val genuine = (0 until 50).flatMap { g =>
      Seq((g * 10L, 1000L + g), (g * 10L + 1, 1000L + g),
        (g * 10L, 2000L + g), (g * 10L + 1, 2000L + g))
    }
    val boiler = (0 until 200).map(d => (5000L + d, 9999L))
    (genuine ++ boiler).toDF("doc_id", "fp_h")
  }

  test("recommendation fits the budget: hot key capped, genuine groups kept") {
    val p = Calibration.capProfile(plantedPostings(), Seq("fp_h"),
      pairMassBudget = 500L)
    // cumulative mass at df=2 is 100 ≤ 500; adding the df=200 key would
    // cost 20 000 — so the cap must land at exactly 2
    assert(p.recommendedCap == 2L, s"got $p")
    assert(p.keptPairMass == 100L && p.droppedPairMass == 19900L, s"got $p")
    assert(p.totalKeys == 101L && p.droppedKeys == 1L && p.maxDf == 200L, s"got $p")
    // feeding the recommendation to the winnowing pair join: all 50
    // genuine pairs survive, zero boilerplate pairs are generated
    val pairs = Dedup.winnowPairs(plantedPostings(), maxDf = p.recommendedCap)
      .collect()
    assert(pairs.length == 50, s"expected the 50 planted pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(1) == r.getLong(0) + 1 && r.getLong(2) == 2L))
    assert(pairs.forall(_.getLong(0) < 5000L), "no boilerplate doc may pair")
  }

  test("budget covering everything recommends the corpus max df (nothing dropped)") {
    val p = Calibration.capProfile(plantedPostings(), Seq("fp_h"),
      pairMassBudget = 100000L)
    assert(p.recommendedCap == 200L && p.droppedKeys == 0L &&
      p.keptPairMass == p.totalPairMass, s"got $p")
  }

  test("cap is monotone in budget, and the floor holds under an impossible budget") {
    val budgets = Seq(1L, 50L, 100L, 500L, 25000L)
    val caps = budgets.map(b =>
      Calibration.capProfile(plantedPostings(), Seq("fp_h"), b).recommendedCap)
    assert(caps == caps.sorted, s"caps must be monotone in budget: $caps")
    // budget 1 cannot even afford the genuine pairs: the floor (2) wins
    // so exact twins are still findable, and the overrun is reported
    val tight = Calibration.capProfile(plantedPostings(), Seq("fp_h"), 1L)
    assert(tight.recommendedCap == 2L && tight.keptPairMass == 100L, s"got $tight")
  }

  test("composite keys: the video (band, bv) postings profile feeds videoDupStats") {
    val s = spark
    import s.implicits._
    // 3 genuine clips ×2 copies + 10 clips sharing one boilerplate
    // band value — profile the SAME (band, bv) postings videoDupStats
    // caps (10 subset keys per frame), then run it with the
    // recommended cap
    def clip(id: Long, key: Long, size: Int) = Multimodal.RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f => Multimodal.blockFramePng(key, f, size))))
    val corpus = (0L until 3L).flatMap(k =>
      Seq(clip(k * 2, 10L + k, 16), clip(k * 2 + 1, 10L + k, 24))) ++
      (100L until 110L).map(id => clip(id, 777L, 16))
    val hashes = Multimodal.demuxFrameHashes(corpus.toDS())
    val postings = Multimodal.frameBandPostings(
        hashes.toDF("doc_id", "frame_no", "phash"))
      .select(col("doc_id"), col("band"), col("bv"))
      .distinct()
    // genuine pairs: band values shared by 2 docs; boilerplate: by 10
    val p = Calibration.capProfile(postings, Seq("band", "bv"),
      pairMassBudget = 200L)
    assert(p.recommendedCap >= 2L && p.recommendedCap < 10L, s"got $p")
    val got = Multimodal.videoDupStats(hashes, bandDfCap = p.recommendedCap)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert((0L until 6L).forall(got(_) == 1.0),
      s"genuine re-encode pairs must survive the calibrated cap: $got")
    assert((100L until 110L).forall(got(_) == 0.0),
      s"boilerplate clips must be capped: $got")
    CacheHygiene.sweep(s)
  }

  test("recallAtCaps prices the recall side of a candidate cap on a labeled sample") {
    val s = spark
    import s.implicits._
    // labeled sample: the 50 genuine pairs + one pair whose ONLY
    // shared key is the df=200 boilerplate fingerprint
    val labeled = ((0 until 50).map(g => (g * 10L, g * 10L + 1)) :+
      (5000L, 5001L)).toDF("doc_a", "doc_b")
    val rs = Calibration.recallAtCaps(plantedPostings(), Seq("fp_h"), "doc_id",
      labeled, caps = Seq(2L, 199L, 200L), minShared = 2L)
    // cap 2 and cap 199 retain exactly the genuine 50 (their two keys
    // have df=2; the boilerplate pair's key df=200 exceeds both caps);
    // cap 200 admits the hot key but the boilerplate pair shares only
    // ONE key, so minShared=2 still excludes it
    assert(rs.map(r => (r.cap, r.retainedPairs, r.totalPairs)) ==
      Seq((2L, 50L, 51L), (199L, 50L, 51L), (200L, 50L, 51L)), s"got $rs")
    // at minShared=1 the boilerplate pair IS a candidate once the cap
    // admits its key — the recall curve is monotone in cap
    val r1 = Calibration.recallAtCaps(plantedPostings(), Seq("fp_h"), "doc_id",
      labeled, caps = Seq(2L, 200L), minShared = 1L)
    assert(r1.map(_.retainedPairs) == Seq(50L, 51L), s"got $r1")
    assert(r1.last.recall == 1.0)
    // a pair of docs with NO postings at all is simply not retained
    val ghost = Seq((90000L, 90001L)).toDF("doc_a", "doc_b")
    val rg = Calibration.recallAtCaps(plantedPostings(), Seq("fp_h"), "doc_id",
      ghost, caps = Seq(200L))
    assert(rg == Seq(Calibration.CapRecall(200L, 0L, 1L)), s"got $rg")
    // input hygiene (ADVICE r16): duplicate caps must not alias-collide
    // the per-cap aggregates, and duplicate labeled rows must not
    // inflate `total` — recall is a pair-SET property
    val dup = Calibration.recallAtCaps(plantedPostings(), Seq("fp_h"), "doc_id",
      labeled.unionAll(labeled), caps = Seq(200L, 200L, 2L), minShared = 1L)
    assert(dup.map(r => (r.cap, r.retainedPairs, r.totalPairs)) ==
      Seq((200L, 51L, 51L), (2L, 50L, 51L)), s"got $dup")
  }

  test("recallAtCaps on the video (band, bv) postings reproduces the r16 A/B shape") {
    val s = spark
    import s.implicits._
    // the composite-key corpus from the videoDupStats test: 3 genuine
    // re-encode pairs + 10 boilerplate clips sharing one band value
    def clip(id: Long, key: Long, size: Int) = Multimodal.RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f => Multimodal.blockFramePng(key, f, size))))
    val corpus = (0L until 3L).flatMap(k =>
      Seq(clip(k * 2, 10L + k, 16), clip(k * 2 + 1, 10L + k, 24))) ++
      (100L until 110L).map(id => clip(id, 777L, 16))
    val hashes = Multimodal.demuxFrameHashes(corpus.toDS())
    val postings = Multimodal.frameBandPostings(
      hashes.toDF("doc_id", "frame_no", "phash"))
      .select(col("doc_id"), col("band"), col("bv"))
    val labeled = (0L until 3L).map(k => (k * 2, k * 2 + 1)).toDF("doc_a", "doc_b")
    // a cap admitting the genuine pairs' bands scores full recall; a
    // cap below their df forfeits everything — the cost-recall frontier
    val rs = Calibration.recallAtCaps(postings, Seq("band", "bv"), "doc_id",
      labeled, caps = Seq(1L, 64L))
    assert(rs.head.retainedPairs == 0L && rs.last.retainedPairs == 3L, s"got $rs")
    CacheHygiene.sweep(s)
  }

  test("degenerate inputs: empty postings, single-posting keys") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "fp_h")
    val pe = Calibration.capProfile(empty, Seq("fp_h"), 100L)
    assert(pe.totalKeys == 0L && pe.totalPairMass == 0L)
    // all-unique keys: zero pair mass, cap = maxDf = 1 → floored to 2
    val uniq = (0L until 20L).map(d => (d, d)).toDF("doc_id", "fp_h")
    val pu = Calibration.capProfile(uniq, Seq("fp_h"), 100L)
    assert(pu.totalPairMass == 0L && pu.recommendedCap == 2L)
  }
}
