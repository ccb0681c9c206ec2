package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pipelines, TextAnalysis}

/** Kernel-level specs for the round-6 pipeline operators: sequence
  * packing, weighted mixture sampling, chunk-level dup-span stats,
  * BM25. The registered queries are oracle-checked against DuckDB by
  * Verify; these cover the PUBLIC kernels on planted inputs where the
  * expected output is computable by hand, plus the invariants the
  * oracle can't express (layout independence, subset stability).
  */
class PipelinesSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("packManifest: hand-computed manifest on a planted corpus") {
    // token counts: 4, 3, 5, 2, 6 — with seqLen 8 the running stream
    // cuts at 8 and 16: cum_before = 0,4,7,12,14 -> seq 0,0,0,1,1
    val docs = docsDf(Seq(
      1L -> "a b c d", 2L -> "e f g", 3L -> "h i j k l",
      4L -> "m n", 5L -> "o p q r s t"))
    val got = Pipelines.packManifest(docs, seqLen = 8)
      .orderBy("seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (0L, 3L, 12L, 1L, 3L),  // docs 1-3: 4+3+5 tokens, doc 3 starts at 7 < 8
      (1L, 2L, 8L, 4L, 5L)))  // docs 4-5 start at 12, 14 -> sequence 1
  }

  test("packManifest: a doc spanning multiple sequences leaves documented seq_id gaps") {
    // doc 2 is 20 tokens at seqLen 8: it starts in seq 0 and spans
    // seqs 1-2 without any doc starting there — no manifest rows for
    // 1-2 (the loader derives spanned seqs from n_tokens), and the
    // next doc starts at cum 24 -> seq 3
    val docs = docsDf(Seq(
      1L -> "a b c d",
      2L -> (1 to 20).map(i => s"w$i").mkString(" "),
      3L -> "x y z"))
    val got = Pipelines.packManifest(docs, seqLen = 8)
      .orderBy("seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 2L, 24L), (3L, 1L, 3L)))
  }

  test("packManifest: cache=false (per-batch callers) computes the identical manifest") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val cached = Pipelines.packManifest(docs, 512)
      .orderBy("seq_id").collect().toSeq
    val cachedEntries = spark.sparkContext.getPersistentRDDs.size
    val uncached = Pipelines.packManifest(docs, 512, cache = false)
      .orderBy("seq_id").collect().toSeq
    assert(uncached == cached)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedEntries,
      "cache=false must not add a session cache entry")
  }

  test("packManifest: partition-count invariance (two-level prefix sum is layout-free)") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val a = Pipelines.packManifest(docs, 512, partitions = 32)
      .orderBy("seq_id").collect().toSeq
    val b = Pipelines.packManifest(docs, 512, partitions = 5)
      .orderBy("seq_id").collect().toSeq
    assert(a == b, "manifest must not depend on the physical partition count")
  }

  test("packManifest: invariants at sf0.001 — contiguous ids, token conservation, ordered spans") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val m = Pipelines.packManifest(docs, 512).orderBy("seq_id").collect()
    val totalToks = docs
      .agg(sum(size(filter(split(col("text"), "\\s+"), x => x =!= ""))))
      .head.getLong(0)
    // contiguity holds exactly when every doc is shorter than seqLen
    // (longer docs leave documented gaps — see the planted gap case);
    // verify the precondition so corpus drift can't silently turn
    // this assert into a false invariant
    val maxDoc = docs
      .agg(max(size(filter(split(col("text"), "\\s+"), x => x =!= ""))))
      .head.getInt(0)
    assert(maxDoc < 512, s"precondition: sf docs must be < seqLen, got $maxDoc")
    assert(m.map(_.getLong(0)).toSeq == (0L until m.length).toSeq,
      "seq_ids must be contiguous from 0 when every doc is < seqLen")
    assert(m.map(_.getLong(2)).sum == totalToks,
      "every corpus token must be accounted to exactly one sequence")
    // doc spans are ordered and non-overlapping across sequences
    m.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0).getLong(4) < w(1).getLong(3),
          "sequence doc spans must be disjoint and increasing")
    }
    m.foreach(r => assert(r.getLong(3) <= r.getLong(4)))
  }

  test("sampleWeighted: deterministic, subset-stable, rate-plausible") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
    val kept = Pipelines.sampleWeighted(docs, lit(5000), "spec")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // determinism: same salt, same corpus -> same membership
    val again = Pipelines.sampleWeighted(docs, lit(5000), "spec")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == again)
    // subset stability: sampling a filtered corpus = intersection —
    // a row's fate never depends on other rows (the property that
    // makes the sample reproducible as the corpus grows)
    val half = docs.filter(col("doc_id") % 2 === 0)
    val keptHalf = Pipelines.sampleWeighted(half, lit(5000), "spec")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptHalf == kept.filter(_ % 2 == 0))
    // ~50% +- wide tolerance (n=50 at sf0.001)
    val n = docs.count().toDouble
    assert(kept.size > n * 0.25 && kept.size < n * 0.75,
      s"5000bp sample kept ${kept.size} of $n")
    // different salt -> different (independent) membership
    val other = Pipelines.sampleWeighted(docs, lit(5000), "other-salt")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(other != kept)
    // schema purity: output schema == input schema, and a caller's
    // own `bp` column survives (the rate lives in the predicate)
    val withBp = docs.withColumn("bp", lit(9999))
    val sampled = Pipelines.sampleWeighted(withBp, lit(5000), "spec")
    assert(sampled.columns.toSeq == withBp.columns.toSeq)
    assert(sampled.select("bp").distinct().collect().map(_.getInt(0)).toSeq == Seq(9999))
  }

  test("temperatureSample: sqrt-flattens a 16:1 skew; smallest source keeps all") {
    val s = spark
    import s.implicits._
    // sources big:1600 docs, small:100 docs — 16:1 raw. sqrt
    // flattening targets kept_big = sqrt(100*1600) = 400 -> 4:1
    val docs = ((0 until 1600).map(i => (i.toLong, "big")) ++
      (0 until 100).map(i => (10000L + i, "small")))
      .toDF("doc_id", "source")
    val kept = Pipelines.temperatureSample(docs)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate_small = sqrt(100/100) = 1.0 -> every small doc survives
    assert(kept("small") == 100L, s"smallest source must keep all: $kept")
    // rate_big = sqrt(100/1600) = 0.25 exactly -> bp 2500; the salted
    // hash is uniform so kept_big ~ Binomial(1600, 0.25) -> +-3 sigma
    // = +-52 around 400
    assert(kept("big") >= 348 && kept("big") <= 452,
      s"big source must flatten to ~400 of 1600: $kept")
    // the flattened ratio is ~4:1, strictly flatter than the 16:1 raw
    assert(kept("big").toDouble / kept("small") < 8.0)
    // deterministic: same corpus, same draw
    val again = Pipelines.temperatureSample(docs)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == kept)
  }

  test("shuffleShard: exact partition of the corpus, contiguous positions, decorrelated order") {
    val df = Pipelines.shuffleShard(spark, sf).persist()
    try {
      val nDocs = graft.Tables.documents(spark, sf).count()
      // every doc exactly once, across all shards
      assert(df.count() == nDocs)
      assert(df.select("doc_id").distinct().count() == nDocs)
      // positions are 1..size within each shard (no gaps, no dups)
      val badPos = df.groupBy("shard").agg(
        count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
        countDistinct("pos").as("nd"))
        .filter(col("mn") =!= 1 || col("mx") =!= col("n") || col("nd") =!= col("n"))
      assert(badPos.count() == 0, "per-shard positions must be 1..size")
      // the permutation decorrelates input order: consecutive doc_ids
      // must not stay neighbors (a corpus-order passthrough would put
      // doc i and i+1 at adjacent global positions)
      val sameShardAdjacent = df.as("a").join(df.as("b"),
          col("a.doc_id") + 1 === col("b.doc_id") &&
          col("a.shard") === col("b.shard") &&
          (col("b.pos") - col("a.pos")).between(-1, 1))
        .count()
      assert(sameShardAdjacent < nDocs / 10,
        s"hash shuffle left $sameShardAdjacent/$nDocs consecutive ids adjacent")
    } finally df.unpersist()
  }

  test("evalSplit: partitions the corpus, train-dominated, subset-stable") {
    val df = Pipelines.evalSplit(spark, sf)
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.size == nDocs)
    assert(rows.values.forall(Set("train", "val", "test")))
    assert(rows.values.count(_ == "train") >= nDocs * 0.9,
      "train must dominate at 98 basis points")
    // subset-stability: the split of a filtered corpus is the restriction
    val sub = java.nio.file.Files.createTempDirectory("split").toString
    graft.Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$sub/documents.parquet")
    val subRows = Pipelines.evalSplit(spark, sub).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(subRows == rows.filter(_._1 % 2 == 0),
      "doc split decisions must not depend on other rows")
  }

  test("datasetCard: rollup rows are consistent sums of the leaf cells") {
    val rows = Pipelines.datasetCard(spark, sf).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3)))
    val leaves = rows.filter(r => r._1.isDefined && r._2.isDefined)
    val total = rows.find(r => r._1.isEmpty && r._2.isEmpty).get
    assert(total._3 == leaves.map(_._3).sum && total._4 == leaves.map(_._4).sum)
    rows.filter(r => r._1.isDefined && r._2.isEmpty).foreach { lang =>
      val cells = leaves.filter(_._1 == lang._1)
      assert(lang._3 == cells.map(_._3).sum && lang._4 == cells.map(_._4).sum,
        s"lang rollup ${lang._1} must sum its leaves")
    }
    assert(total._3 == graft.Tables.documents(spark, sf).count())
  }

  test("curateV3: manifest cells account for exactly the gated+deduped survivors") {
    val cells = Pipelines.pipelineCurateV3(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(cells.nonEmpty)
    assert(cells.forall(c => Set("train", "val", "test")(c._1) &&
      c._2 >= 0 && c._2 < 8))
    // recompute the survivor count from the composed stages directly
    val docs = graft.Tables.documents(spark, sf)
    val kept = docs.join(
      TextAnalysis.qualityRules(docs.select(col("doc_id"), col("text")))
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    val survivors = kept.groupBy(md5(col("text"))).count().count()
    assert(cells.map(_._3).sum == survivors,
      s"cells must partition the ${survivors} gated+deduped docs")
  }

  test("curateV4: substring gate drops exactly the high-coverage survivors v3 keeps") {
    val v3 = Pipelines.pipelineCurateV3(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val v4 = Pipelines.pipelineCurateV4(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val (n3, n4) = (v3.map(_._3).sum, v4.map(_._3).sum)
    // the gate must be ACTIVE on this corpus (near-dup docs survive
    // exact dedup with >50% duplicated-span coverage) and only remove
    assert(n4 < n3, s"substring gate dropped nothing: v3=$n3 v4=$n4")
    // independently recompute the expected drops from the shared
    // kernel over the v3 survivor set
    val docs = graft.Tables.documents(spark, sf)
    val kept = docs.join(
      TextAnalysis.qualityRules(docs.select(col("doc_id"), col("text")))
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    val survivors = kept.groupBy(md5(col("text")).as("h"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    val dropped = graft.operators.Dedup.substringDupStats(survivors, 8)
      .filter(col("dup_token_share") > 0.5).count()
    assert(n3 - n4 == dropped,
      s"gate must drop exactly the share>0.5 docs: v3-v4=${n3 - n4}, kernel says $dropped")
  }

  test("curateV5: budget draw is a weighted subset of the v4 survivors, hit target met") {
    val v4 = Pipelines.pipelineCurateV4(spark, sf).collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    val v5 = Pipelines.pipelineCurateV5(spark, sf).collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(4)))).toSeq
    // every drawn cell is a v4 cell and never exceeds its population
    v5.foreach { case (cell, (n, _)) =>
      assert(v4.contains(cell), s"drawn cell $cell absent from the v4 manifest")
      assert(n <= v4(cell), s"cell $cell drew $n of ${v4(cell)}")
    }
    // the systematic draw guarantees at least the k-target total hits
    val hits = v5.map(_._2._2).sum
    assert(hits >= 100, s"sum_hits=$hits below the k=100 draw target")
  }

  test("bloom decontamination: prefilter supersets true hits, prunes the join, output exact") {
    val s = spark
    import s.implicits._
    val docs = graft.Tables.documents(s, sf).select(col("doc_id"), col("text"))
    val isEval = pmod(graft.functions.CrossEngine.md5Long(
      concat(lit("decon:"), col("doc_id").cast("string"))), lit(20)) === 0
    val (train, eval) = (docs.filter(!isEval), docs.filter(isEval))
    val evalNgrams = Pipelines.fivegrams(eval)
      .select(col("s")).distinct().persist()
    val (bm, m) = Pipelines.bloomBitmap(evalNgrams)
    val trainNgrams = Pipelines.fivegrams(train).persist()
    val total = trainNgrams.count()
    val flagged = trainNgrams
      .filter(Pipelines.bloomMightContain(bm, m, col("s")))
    val nFlagged = flagged.count()
    val nTrue = trainNgrams.join(evalNgrams, Seq("s"), "left_semi").count()
    // no false negatives (every true hit flagged), real pruning, and
    // the FP overshoot bounded far below the pruned mass
    assert(flagged.join(evalNgrams, Seq("s"), "left_semi").count() == nTrue,
      "bloom must never drop a true hit")
    assert(nTrue <= nFlagged && nFlagged < total / 2,
      s"prefilter must prune: $nFlagged flagged of $total (true $nTrue)")
    assert(nFlagged - nTrue <= math.max(10L, total / 100),
      s"FP overshoot ${nFlagged - nTrue} of $total breaks the sizing rule")
    // end to end: identical keep/drop list to the exact operator
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
    val exact = Pipelines.decontaminateAgainst(train, eval).collect().map(key).toSet
    val bloom = Pipelines.decontaminateBloomAgainst(train, eval).collect().map(key).toSet
    assert(bloom == exact, "bloom prefilter must not change the output")
    assert(exact.exists(_._4) && exact.exists(!_._4), "corpus must discriminate")
    trainNgrams.unpersist(); evalNgrams.unpersist()
  }

  test("curateV6: excise keeps v4's drops (minus canonical carriers) with fewer tokens") {
    val v6 = Pipelines.pipelineCurateV6(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(v6.nonEmpty)
    assert(v6.forall(c => Set("train", "val", "test")(c._1) &&
      c._2 >= 0 && c._2 < 8))
    // recompute the shared chain front: gate → exact dedup survivors
    val docs = graft.Tables.documents(spark, sf)
    val survivors = docs.join(
        TextAnalysis.qualityRules(docs.select(col("doc_id"), col("text")))
          .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy(md5(col("text")).as("h"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
      .persist()
    val cleaned = Dedup.exciseDupSpans(survivors, 8).persist()
    // v6's manifest accounts exactly the excised docs that clear the
    // re-gate, token for token
    val regated = cleaned.join(
      TextAnalysis.qualityRules(
          cleaned.select(col("doc_id"), col("cleaned_text").as("text")))
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    val (nDocs, nToks) = regated
      .agg(count(lit(1)), sum(col("n_kept_tokens"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    assert(v6.map(_._3).sum == nDocs,
      s"v6 cells must partition the $nDocs regated excise survivors")
    assert(v6.map(_._4).sum == nToks,
      "v6 token mass must equal the regated survivors' kept tokens")
    // THE POINT of v6 vs v4: docs the coverage gate DROPS (share>0.5)
    // survive here as cleaned text — token count bounded above by the
    // original, strictly below it for every non-canonical carrier
    val v4Drops = Dedup.substringDupStats(survivors, 8)
      .filter(col("dup_token_share") > 0.5)
      .select(col("doc_id"), col("n_tokens"))
    val carried = v4Drops.join(cleaned, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(carried.nonEmpty,
      "corpus must carry v4 coverage-drops into the excised output")
    carried.foreach { case (id, orig, keptToks) =>
      assert(keptToks <= orig, s"doc $id grew under excision")
    }
    assert(carried.exists(c => c._3 < c._2),
      "at least one non-canonical v4 drop must actually lose tokens")
    cleaned.unpersist(); survivors.unpersist()
  }

  test("curateV7: manifest totals are the decontaminated, regated excise survivors of the train side") {
    // sf0.01: the smallest corpus whose cleaned train side still shares
    // a 5-gram with the eval side, so the decontamination stage is live
    val dir = "/root/testdata/sf0.01"
    val v7 = Pipelines.pipelineCurateV7(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(v7.nonEmpty)
    assert(v7.forall(c => Set("train", "val", "test")(c._1) &&
      c._2 >= 0 && c._2 < 8))
    // recompute the chain from the public kernels: the train side of
    // the decontamination split → gate → exact dedup → excise → re-gate
    val docs = graft.Tables.documents(spark, dir)
    val isEval = pmod(graft.functions.CrossEngine.md5Long(
      concat(lit("decon:"), col("doc_id").cast("string"))), lit(20)) === 0
    val train = docs.filter(!isEval)
    val survivors = train.join(
        TextAnalysis.qualityRules(train.select(col("doc_id"), col("text")))
          .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy(md5(col("text")).as("h"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
      .persist()
    val cleaned = Dedup.exciseDupSpans(survivors, 8).persist()
    val regated = cleaned.join(
      TextAnalysis.qualityRules(
          cleaned.select(col("doc_id"), col("cleaned_text").as("text")))
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    // → decontamination of the cleaned text against the eval side
    val clean = Pipelines.decontaminateAgainst(
        regated.select(col("doc_id"), col("cleaned_text").as("text")),
        docs.filter(isEval).select(col("doc_id"), col("text")))
      .filter(!col("contaminated")).select("doc_id")
    val (nDocs, nToks) = regated.join(clean, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)), sum(col("n_kept_tokens"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    assert(v7.map(_._3).sum == nDocs,
      s"v7 cells must partition the $nDocs decontaminated survivors")
    assert(v7.map(_._4).sum == nToks,
      "v7 token mass must equal the decontaminated survivors' kept tokens")
    assert(regated.count() > nDocs, "decontamination must drop a regated doc")
    cleaned.unpersist(); survivors.unpersist()
  }

  test("exciseDupSpans: canonical keeps all, copies lose the span, full copies vanish") {
    val span = (1 to 8).map(i => s"S$i").mkString(" ")
    val uniq2 = (1 to 6).map(i => s"u$i").mkString(" ")
    val docs = docsDf(Seq(
      // doc 1: canonical carrier — must survive UNTOUCHED
      1L -> (span + " tail1 tail2"),
      // doc 2: carries the span + its own unique tail — span excised,
      // tail kept
      2L -> (span + " " + uniq2),
      // doc 3: exact copy of doc 1 — fully excised, VANISHES
      3L -> (span + " tail1 tail2"),
      // doc 4: clean control — untouched
      4L -> (1 to 10).map(i => s"z$i").mkString(" ")))
    val got = Dedup.exciseDupSpans(docs, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(1L, 2L, 4L), s"got ids ${got.map(_._1)}")
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._3 == span + " tail1 tail2", "canonical doc must be untouched")
    assert(byId(4L)._3 == (1 to 10).map(i => s"z$i").mkString(" "))
    // doc 2: its only redundant shingle is the span itself (offset 0),
    // whose coverage is exactly the 8 copied tokens; the tail is never
    // covered by a redundant occurrence and survives
    assert(byId(2L)._3 == uniq2, s"copy must keep its unique tail: '${byId(2L)._3}'")
    assert(byId(2L)._2 == 6L)
  }

  test("paragraphDedup: global first occurrence kept, later and intra-doc copies cut, fully-copied doc rebuilds empty") {
    val docs = docsDf(Seq(
      1L -> "alpha one\nbeta two",
      // beta already seen in doc 1 (twice here: cross-doc AND
      // intra-doc copies both cut); gamma is new
      2L -> "beta two\ngamma three\nbeta two",
      // every paragraph seen before -> rebuilds to the EMPTY string,
      // does not vanish
      3L -> "alpha one",
      // intra-doc duplicate only: first kept, second cut
      4L -> "delta four\ndelta four",
      // empty lines are not paragraphs (the '\n\n' split artifact)
      5L -> "\n\nepsilon five\n\n"))
    val got = Dedup.paragraphDedup(docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((2L, 2L, "alpha one\nbeta two")),
      s"first carrier untouched: $got")
    assert(got(2L) == ((3L, 1L, "gamma three")),
      s"both beta copies cut, gamma kept: $got")
    assert(got(3L) == ((1L, 0L, "")), s"fully-copied doc rebuilds empty: $got")
    assert(got(4L) == ((2L, 1L, "delta four")), s"intra-doc copy cut: $got")
    assert(got(5L) == ((1L, 1L, "epsilon five")), s"blank lines ignored: $got")
  }

  test("chunkDupStats: planted spans — cross-doc copy, self-repetition, clean doc") {
    val span = (1 to 8).map(i => s"w$i").mkString(" ") // one full chunk
    val docs = docsDf(Seq(
      // doc 1: span + unique tail chunk; doc 2 copies the span at a
      // chunk-aligned position -> both flag 1 of 2 chunks
      1L -> (span + " " + (1 to 8).map(i => s"u$i").mkString(" ")),
      2L -> (span + " " + (1 to 8).map(i => s"v$i").mkString(" ")),
      // doc 3 repeats ITS OWN chunk twice -> self-duplication counts
      3L -> (Seq.fill(2)((1 to 8).map(i => s"s$i").mkString(" ")).mkString(" ")),
      // doc 4: all-unique tokens -> zero dup chunks
      4L -> (1 to 16).map(i => s"q$i").mkString(" "),
      // doc 5: shorter than one chunk -> absent from the output
      5L -> "tiny doc"))
    val got = Dedup.chunkDupStats(docs, chunkLen = 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 2L), (4L, 2L, 0L)))
  }

  test("substringDupStats: boundary-straddling span caught exactly; chunk pass provably misses it") {
    val span = (1 to 8).map(i => s"S$i").mkString(" ")
    val docs = docsDf(Seq(
      // doc 1 carries the span at offset 4 — dead center across its
      // two 8-token chunks; doc 2 carries it chunk-aligned at 0
      1L -> ((1 to 4).map(i => s"a$i").mkString(" ") + " " + span + " " +
        (1 to 4).map(i => s"b$i").mkString(" ")),
      2L -> (span + " " + (1 to 8).map(i => s"c$i").mkString(" ")),
      // doc 3: all-unique control
      3L -> (1 to 16).map(i => s"z$i").mkString(" "),
      // doc 4: 10 identical tokens — overlapping self-duplicated
      // shingles must union to 10 covered positions, not 3×8
      4L -> Seq.fill(10)("r").mkString(" ")))
    // the chunk pass sees ZERO duplicated chunks in docs 1-3: the span
    // straddles doc 1's chunk boundary, so no chunk content repeats
    val chunks = Dedup.chunkDupStats(docs, chunkLen = 8).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(chunks.take(3) == Seq((1L, 0L), (2L, 0L), (3L, 0L)))
    // the sliding pass covers exactly the 8 span tokens in each carrier
    val got = Dedup.substringDupStats(docs, k = 8).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == Seq((1L, 16L, 8L, 0.5), (2L, 16L, 8L, 0.5),
      (3L, 16L, 0L, 0.0), (4L, 10L, 10L, 1.0)))
  }

  test("substringDupSpans: planted span structure; summed spans == coverage on the real corpus") {
    val span = (1 to 8).map(i => s"S$i").mkString(" ")
    val span2 = (1 to 8).map(i => s"T$i").mkString(" ")
    val gap = (1 to 6).map(i => s"g$i").mkString(" ")
    val docs = docsDf(Seq(
      // doc 1: TWO separated duplicated spans (8 tokens each, 6-token
      // unique gap) -> n_spans = 2, max = 8, total = 16
      1L -> (span + " " + gap + " " + span2),
      // doc 2/3: the carriers making doc 1's spans duplicated; each
      // carries one span embedded in unique filler
      2L -> (span + " " + (1 to 8).map(i => s"c$i").mkString(" ")),
      3L -> ((1 to 8).map(i => s"d$i").mkString(" ") + " " + span2),
      // doc 4: clean control -> absent from the output
      4L -> (1 to 16).map(i => s"z$i").mkString(" ")))
    val got = Dedup.substringDupSpans(docs, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 2L, 8L, 16L), (2L, 1L, 8L, 8L), (3L, 1L, 8L, 8L)),
      s"got $got")
    // on the real corpus the interval-merge total must equal the
    // explode+distinct coverage doc for doc (two independent kernels)
    val corpus = graft.Tables.documents(spark, sf)
    val spans = Dedup.substringDupSpans(corpus, k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val coverage = Dedup.substringDupStats(corpus, k = 8)
      .filter(col("n_dup_tokens") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(spans == coverage,
      s"interval-merge vs coverage mismatch: ${(spans.toSet diff coverage.toSet).take(3)}")
  }

  test("text_bm25: scores descend, are positive for term-bearing docs, tf columns honest") {
    val out = TextAnalysis.textBm25(spark, sf).collect()
    assert(out.nonEmpty)
    val scores = out.map(_.getDouble(out.head.fieldIndex("bm25")))
    assert(scores.sameElements(scores.sortBy(-_)), "output must be rank-ordered")
    // spot-check one row's tf against a hand count
    val row = out.head
    val text = Tables.documents(spark, sf)
      .filter(col("doc_id") === row.getLong(0)).head.getAs[String]("text")
    val handTf = text.split("\\s+").count(_ == "spark").toLong
    assert(row.getAs[Long]("tf_spark") == handTf)
  }

  test("curate v2: every stage only removes rows; mixture commutes by subset-stability") {
    val s = spark
    val docs = Tables.documents(s, sf)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val out = Pipelines.pipelineCurateV2(s, sf).collect()
    assert(out.nonEmpty)
    // per-source budget: after the cap no source exceeds 15 docs
    out.groupBy(_.getString(0)).foreach { case (src, rs) =>
      assert(rs.map(_.getLong(2)).sum <= 15, s"source $src exceeds the cap")
    }
    // subset-stability: the mixture's doc-level decision is the same
    // whether applied to the full corpus or the capped+deduped subset,
    // so the chain's survivors == (capped+deduped) ∩ mixture(full)
    val bp = when(col("lang") === "en", 8000)
      .when(col("lang") === "de", 5000).otherwise(2500)
    val fullMix = Pipelines.sampleWeighted(docs, bp, "curate2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val n = out.map(_.getLong(2)).sum
    val nViaIntersection = Pipelines
      .sampleWeighted(docs.filter(col("doc_id").isin(fullMix.toSeq: _*)), bp, "curate2")
      .count()
    assert(nViaIntersection == fullMix.size,
      "sampling a pre-sampled frame must be the identity (subset-stable)")
    assert(n <= fullMix.size,
      "chain survivors are a subset of the full-corpus mixture selection")
  }

  test("BPE packing: token mass equals the profiler's bpe count; budget differs from whitespace") {
    import org.apache.spark.sql.functions._
    val bpe = Pipelines.packSequencesBpe(spark, sf)
    val ws = Pipelines.packSequences(spark, sf)
    // one count definition repo-wide: the packed mass must equal what
    // text_tokens_bpe reports, doc set for doc set
    val packedMass = bpe.agg(sum("n_tokens")).head.getLong(0)
    val profiled = TextAnalysis.textTokensBpe(spark, sf)
      .agg(sum(col("n_bpe_tokens").cast("long"))).head.getLong(0)
    assert(packedMass == profiled,
      s"packed BPE mass $packedMass must equal profiler total $profiled")
    // the synthetic corpus is bare lowercase words (bpe_per_word =
    // 1.0, so both budgets coincide there — asserted, since that
    // equality is what makes the oracle pair above meaningful)...
    val wsMass = ws.agg(sum("n_tokens")).head.getLong(0)
    assert(packedMass == wsMass,
      s"on the bare-word corpus the budgets must coincide ($packedMass vs $wsMass)")
    // ...so the divergence is proven on a PLANTED corpus with real
    // punctuation/digit mass, where pricing in words under-fills
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe-pack-sf").toString
    (0L until 300L).map(i => (i, s"it's doc-$i, rev 2.0 (beta)!", "en", "src", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val pBpe = Pipelines.packSequencesBpe(spark, tmp)
    val pWs = Pipelines.packSequences(spark, tmp)
    val (mBpe, mWs) = (pBpe.agg(sum("n_tokens")).head.getLong(0),
      pWs.agg(sum("n_tokens")).head.getLong(0))
    assert(mBpe > mWs,
      s"punctuated corpus: BPE tokens ($mBpe) must exceed words ($mWs)")
    assert(pBpe.count() > pWs.count(),
      "a larger token mass at the same seqLen must cut more sequences")
  }

  test("source balance: HHI within [1/n, 1], exact on a planted skew") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val real = Pipelines.qSourceBalance(spark, sf).head
    val n = real.getLong(0).toDouble
    assert(real.getDouble(1) >= 1.0 / n - 1e-9 && real.getDouble(1) <= 1.0,
      s"HHI ${real.getDouble(1)} out of [1/$n, 1]")
    assert(real.getDouble(2) >= 1.0 / n - 1e-9 && real.getDouble(2) <= 1.0)
    // planted 8/1/1 split: HHI = (64+1+1)/100, top = 0.8
    val tmp = java.nio.file.Files.createTempDirectory("balance-sf").toString
    (0 until 10).map(i => (i.toLong, if (i < 8) "a" else if (i == 8) "b" else "c",
        "t", "en", 1L))
      .toDF("doc_id", "source", "text", "lang", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val planted = Pipelines.qSourceBalance(spark, tmp).head
    assert(planted.getLong(0) == 3L && planted.getDouble(1) == 0.66 &&
      planted.getDouble(2) == 0.8, s"planted 8/1/1: got $planted")
  }
}
