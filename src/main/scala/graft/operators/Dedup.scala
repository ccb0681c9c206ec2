package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CrossEngine.{md5Long, md5LongSql, rnd, rndSql}

/** Deduplication suite for LLM-data pipelines (SURVEY.md §2 E).
  *
  * Scale design: the pairwise operators (jaccard, simhash-pairs,
  * embedding-cosine) are blocked — pairs are only formed inside a
  * blocking key (lang / label), never globally. The 100 TB path is
  * `dedup_minhash`: signatures are per-document (linear), and
  * candidate pairs come from an equi-join on (band, band-hash) — a
  * plain shuffle join on a compound key, no cross join anywhere.
  * The blocked pairwise forms double as oracles for the banded one.
  *
  * Thresholds are calibrated to the synthetic corpus (tiny shared
  * vocabulary → high baseline unigram overlap; random embeddings →
  * cosine within ±0.4): jaccard ≥ 0.8, hamming ≤ 3/16, cosine ≥ 0.3.
  */
object Dedup {

  private def toks: Column =
    filter(split(col("text"), "\\s+"), t => t =!= "")

  private val toksSql =
    "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"

  // ---------------------------------------------------------------- exact
  /** Exact dedup: group by content hash, keep the smallest doc_id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_md5"))

  private val dedupExactSql =
    """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY text_md5 ORDER BY text_md5""".stripMargin

  // ---------------------------------------------------------------- normalized exact
  /** Canonicalization for [[dedupNormalized]] — the C4/CCNet-style
    * text normalization every web pipeline dedups on BEFORE hashing
    * (two scrapes of one page differ in case, punctuation, and
    * whitespace long before they differ in words): lowercase, strip
    * everything outside [a-z0-9 whitespace], collapse whitespace
    * runs, trim. The regexes stay in the Java ∩ RE2 ∩ DuckDB common
    * subset so both engines canonicalize identically. */
  def normText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Normalization-canonicalized exact dedup — the tier between
    * [[dedupExact]] (byte-identical only) and minhash (token-set
    * approximate): group by md5 of the NORMALIZED text, keep the
    * smallest doc_id. `n_raw_variants` counts how many byte-distinct
    * texts each canonical group absorbed — the measured size of what
    * this tier catches beyond exact dedup (any group with
    * n_raw_variants ≥ 2 is invisible to `dedup_exact` by
    * construction). Same 100 TB shape as exact dedup: normalization
    * is a per-row codegen'd projection fused into the scan, and the
    * only exchange is the md5 groupBy with map-side partial
    * aggregation. */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(normText(col("text"))).as("norm_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"),
        countDistinct(md5(col("text"))).as("n_raw_variants"))
      .orderBy(col("norm_md5"))

  private val dedupNormalizedSql =
    """SELECT md5(trim(regexp_replace(
      |    regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
      |    '\s+', ' ', 'g'))) AS norm_md5,
      |  min(doc_id) AS keep_doc_id, count(*) AS n_copies,
      |  count(DISTINCT md5(text)) AS n_raw_variants
      |FROM documents GROUP BY norm_md5 ORDER BY norm_md5""".stripMargin

  // ---------------------------------------------------------------- jaccard
  /** Token-set Jaccard ≥ 0.8 pairs within language blocks (the exact
    * baseline the minhash variant approximates).
    *
    * Shape: NOT a pairwise cross join — the intersection size comes
    * from an equi-join on (lang, token) + a pair-count aggregate, so
    * only pairs that actually share a token ever materialize, and
    * |A∪B| = |A|+|B|−|A∩B| from precomputed set sizes. This is the
    * form that survives 100 TB (shuffle join on a compound key);
    * the cross-join form was 20× slower at sf0.1.
    *
    * Measured note: a PPJoin-style prefix-filtered variant (canonical
    * rarest-first order, explode only each set's (1−t)·|A|+1 prefix,
    * exact array_intersect on candidates) was implemented and was 4×
    * SLOWER here — this corpus's ~100-word vocabulary makes candidate
    * count ≈ qualifying-pair count while the candidates drag full
    * token arrays through the shuffle. On a natural-vocabulary corpus
    * (low df tails) prefix filtering wins; pick per corpus stats. */
  /** ADAPTIVE dispatch (round 2): a tiny stat probe collects the
    * per-lang vocabulary; when the whole vocabulary fits in 64 bits
    * (this corpus: 31 tokens/lang) each token SET is one bitmask and
    * exact jaccard is two popcounts — so we dedupe to DISTINCT sets
    * (4.3k masks vs 5k docs at sf0.1, and the gap widens with dup
    * density) and compare masks, never exploding tokens through a
    * shuffle at all. On a natural corpus (vocab ≫ 64) the probe picks
    * the token equi-join path, whose candidate count is bounded by
    * token co-occurrence. The probe is one small distinct-aggregate
    * job — the same collect-a-tiny-table pattern as kmeans centroids. */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame = {
    // persisted: consumed by the vocab stat probe AND the chosen path
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), array_distinct(toks).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probe in two stages so the driver NEVER collects unbounded data:
    // first the per-lang distinct-token COUNTS (one scalar per lang),
    // and only when every lang provably fits 64 bits the actual vocab
    // lists (≤ 64 strings per lang by then). On a natural 100 TB corpus
    // the first probe answers "no" and nothing bigger is ever collected.
    val tokens = t.select(col("lang"), explode(col("s")).as("tok")).distinct()
    val sizes = tokens.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("n")).collect()
    val maxVocab = if (sizes.isEmpty) 0L else sizes.map(_.getLong(1)).max
    if (maxVocab > 0 && maxVocab <= 64) {
      val vocab = tokens
        .groupBy(col("lang")).agg(sort_array(collect_set(col("tok"))).as("vocab"))
        .collect().map(r => (r.getString(0), r.getSeq[String](1)))
      jaccardBitmask(spark, t, vocab)
    } else if (maxVocab <= 512) {
      // tier 2 (round 7): vocab fits 8 machine words — masks stay
      // integer-exact (total recall) and the pairwise core runs over
      // DISTINCT SETS with XOR/popcount verification, no token
      // explode, no string arrays through any shuffle. The collect is
      // bounded: ≤ 512 strings per lang, proven by the count probe.
      val vocab = tokens
        .groupBy(col("lang")).agg(sort_array(collect_set(col("tok"))).as("vocab"))
        .collect().map(r => (r.getString(0), r.getSeq[String](1)))
      jaccardMaskWide(spark, t, vocab)
    } else jaccardTwoStage(t)
  }

  /** Tiny-vocabulary path: token set → 64-bit mask (bit = position in
    * the lang's sorted vocab), docs grouped by identical mask.
    * Identical-mask pairs are J=1.0 by construction; distinct-mask
    * pairs get exact popcount jaccard; winners expand back to doc
    * pairs (output-bounded). The pairwise compare runs over DISTINCT
    * SETS per lang — the bounded core the raw corpus size never
    * touches. */
  private def jaccardBitmask(spark: SparkSession, t: DataFrame,
      vocab: Array[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    val vf = broadcast(vocab.toSeq.toDF("lang", "vocab"))
    // persisted: consumed three times (intra pairs + both inter sides);
    // without it the scan+mask aggregate re-executes per consumer
    val groups = t.join(vf, "lang")
      .withColumn("mask", expr(
        """aggregate(
          |  transform(s, tk -> shiftleft(1L, cast(array_position(vocab, tk) as int) - 1)),
          |  0L, (acc, x) -> acc | x)""".stripMargin))
      .filter(col("mask") =!= 0L) // empty sets have undefined (0/0) jaccard
      .groupBy(col("lang"), col("mask"))
      .agg(collect_list(col("doc_id")).as("members"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val intra = groups.filter(col("n") >= 2)
      .select(explode(col("members")).as("doc_a"), col("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jac", lit(1.0d))
      .select(col("doc_a"), col("doc_b"), col("jac"))
    val ga = groups.select(col("lang"), col("mask").as("ma"), col("members").as("mem_a"))
    val gb = groups.select(col("lang").as("lang_b"), col("mask").as("mb"),
      col("members").as("mem_b"))
    val inter = ga.join(gb, col("lang") === col("lang_b") && col("ma") < col("mb"))
      .withColumn("c", expr("bit_count(ma & mb)"))
      .withColumn("u", expr("bit_count(ma | mb)"))
      .filter(col("c") * 5 >= col("u") * 4) // J >= 0.8, integer-exact
      .withColumn("jac", col("c").cast("double") / col("u"))
      .select(explode(col("mem_a")).as("da"), col("mem_b"), col("jac"))
      .select(col("da"), explode(col("mem_b")).as("db"), col("jac"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jac"))
    intra.unionAll(inter)
      .select(col("doc_a"), col("doc_b"), rnd(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Multi-word-mask path (round 7, 64 < vocab ≤ 512): the bitmask
    * idea at 8 machine words. Token positions come from a broadcast
    * (lang, tok, idx) join (an O(1) probe per token row — NOT
    * `array_position`'s O(vocab) scan per token, which at 512 tokens
    * × corpus scale would dominate); per-doc masks are `nWords`
    * `bit_or` aggregates of one (doc_id)-keyed exchange ∝ token rows.
    * The pairwise core then runs over DISTINCT (lang, mask) GROUPS —
    * the corpus size never touches it — with exact integer popcount
    * jaccard (Σ bit_count(a&b) / Σ bit_count(a|b)) and the J ≥ 0.8
    * size-band prune evaluated before any popcount. TOTAL recall
    * (every arithmetic step exact), unlike the minhash tier below:
    * measured at sf1 this tier verifies 10× data at ~6× cost where
    * the round-6 token-join fallback paid 33×.
    *
    * Scale domain, documented honestly: the mask-pair stage is
    * quadratic in DISTINCT SETS per lang — the right trade for
    * dup-dense bounded-vocabulary corpora (set count ≪ corpus and
    * saturating), not for natural 100 TB vocabularies, which the
    * count probe routes to the minhash two-stage tier instead. */
  def jaccardMaskWide(spark: SparkSession, t: DataFrame,
      vocab: Array[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    val nWords = math.max(1,
      (vocab.map(_._2.size).foldLeft(0)(math.max) + 63) / 64)
    val idx = broadcast(vocab.toSeq
      .flatMap { case (lang, vs) => vs.zipWithIndex.map { case (v, i) => (lang, v, i) } }
      .toDF("lang", "tok", "idx"))
    // mask words stay SEPARATE LONG COLUMNS end to end — never an
    // array: every hot-path expression below (bitwise and, bit_count,
    // the unrolled sums) is codegen'd, where the array form's
    // zip_with/aggregate lambdas run interpreted per surviving pair
    // (measured 29 s vs this form at sf1)
    val wordCols = (0 until nWords).map { w =>
      expr(s"bit_or(CASE WHEN idx div 64 = $w THEN shiftleft(1L, cast(idx % 64 as int)) ELSE 0L END)").as(s"w$w")
    }
    val masks = t.select(col("doc_id"), col("lang"), explode(col("s")).as("tok"))
      .join(idx, Seq("lang", "tok"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(wordCols.head, wordCols.tail: _*)
    // empty sets never reach here (explode of an empty array emits no
    // rows), so every mask has >= 1 bit; group by the word columns
    val wcols = (0 until nWords).map(w => col(s"w$w"))
    val szExpr = (0 until nWords).map(w => s"bit_count(w$w)").mkString(" + ")
    val groups = masks
      .groupBy(col("lang") +: wcols: _*)
      .agg(collect_list(col("doc_id")).as("members"), count(lit(1)).as("n"))
      .withColumn("sz", expr(szExpr))
      .withColumn("gid", array_min(col("members"))) // total order on groups
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val intra = groups.filter(col("n") >= 2)
      .select(explode(col("members")).as("doc_a"), col("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jac", lit(1.0d))
      .select(col("doc_a"), col("doc_b"), col("jac"))
    val ga = groups.select(Seq(col("lang"), col("gid"), col("sz").as("sza"),
      col("members").as("mem_a")) ++ (0 until nWords).map(w => col(s"w$w").as(s"a$w")): _*)
    val gb = groups.select(Seq(col("lang").as("lang_b"), col("gid").as("gid_b"),
      col("sz").as("szb"),
      col("members").as("mem_b")) ++ (0 until nWords).map(w => col(s"w$w").as(s"b$w")): _*)
    val interCnt = (0 until nWords).map(w => s"bit_count(a$w & b$w)").mkString(" + ")
    // size-band prune runs in the join condition, before any popcount
    val inter = ga.join(gb, col("lang") === col("lang_b") && col("gid") < col("gid_b") &&
        col("sza") * 5 >= col("szb") * 4 && col("szb") * 5 >= col("sza") * 4)
      .withColumn("c", expr(interCnt))
      .withColumn("u", col("sza") + col("szb") - col("c"))
      .filter(col("c") * 5 >= col("u") * 4) // J >= 0.8, integer-exact
      .withColumn("jac", col("c").cast("double") / col("u"))
      .select(explode(col("mem_a")).as("da"), col("mem_b"), col("jac"))
      .select(col("da"), explode(col("mem_b")).as("db"), col("jac"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jac"))
    intra.unionAll(inter)
      .select(col("doc_a"), col("doc_b"), rnd(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Two-stage natural-vocabulary path (round 7 — the registered
    * fallback): TOKEN-SET minhash band candidates → exact jaccard
    * verification on candidates only. Signatures are per-row (8
    * affine mixes of one md5 per distinct token, `array_min` folds —
    * zero shuffles on any layout); candidates come from a (lang,
    * band, h0, h1) equi-join with the J ≥ 0.8 size-band prune applied
    * at join-probe time; the exact measure touches ONLY candidates
    * (two output-bounded set joins + `array_intersect`). This is the
    * `pipeline_fuzzy_dedup` shape specialized to token-set jaccard —
    * work ∝ corpus + band collisions, never Σ df² over all shared
    * tokens (the round-6 fallback verified every token-join
    * candidate: 62 s at sf1 vs this form's band-bounded cost).
    *
    * Declared recall bound, documented honestly: a band of 2
    * minhashes agrees with probability J², so a true pair at jaccard
    * J is missed by all 4 bands with probability (1−J²)⁴ — ≤ 1.7% at
    * the τ = 0.8 threshold, ≤ 0.13% at J = 0.9, → 0 as J → 1. The
    * total-recall exact form stays available as
    * [[jaccardTokenJoinExact]] (the oracle/spec baseline);
    * DedupSimilaritySpec measures the two-stage form against it.
    *
    * Round 7 sf10 lessons (two, both measured):
    *
    * 1. The core runs over DISTINCT (lang, sorted-set) GROUPS, not
    * docs — the bitmask tiers' trick. Identical sets collide in every
    * band, so doc-level banding hands the verifier a candidate list
    * quadratic in each set's multiplicity for pairs the measure
    * resolves as J = 1.0 by construction. Identical-set pairs come
    * out as intra-group expansions (output-bounded, total recall);
    * winners expand members the same way.
    *
    * 2. The groups are first partitioned by CONNECTED COMPONENT of
    * the token co-occurrence graph (star edges: each set's tokens →
    * the set's first sorted token; J > 0 requires a shared token, so
    * qualifying pairs NEVER cross components — the decomposition is
    * lossless). Components whose vocabulary fits 64 bits take the
    * EXACT mask path against the component vocabulary (popcount
    * jaccard over distinct sets — total recall, ~ns per pair);
    * larger components keep the minhash banding with its documented
    * recall bound. This is what survives a dense-block corpus:
    * 500 k docs of ~22-token sets drawn from 31-token vocabulary
    * blocks degenerate EVERY hash-candidate scheme — measured at
    * sf10: minhash banding 329 M candidate pairs, df-ordered prefix
    * filtering 724 M, each candidate paying a ~µs string-array
    * intersect (670 s; 117× for 10× data) — while per-component
    * masks pay ~ns popcounts on the same pair space. A natural
    * corpus co-occurs into one giant component and runs the banding
    * path unchanged; the component pass costs one vocabulary-sized
    * label propagation ([[connectedComponentsOfPairs]], the shared
    * CC kernel — star edges keep it ∝ distinct (token, anchor)
    * links, never corpus bytes). */
  def jaccardTwoStage(t0: DataFrame): DataFrame = {
    // sort_array: `s` is array_distinct output, whose order follows
    // first token occurrence — the same set must be ONE group key.
    // gid = min member doc_id: unique across groups (doc → one group)
    // and orderable, so gid < gid_b dedupes candidate pairs.
    val groups = t0.filter(size(col("s")) > 0) // 0/0 jaccard undefined
      .groupBy(col("lang"), sort_array(col("s")).as("s"))
      .agg(collect_list(col("doc_id")).as("members"),
        min(col("doc_id")).as("gid"), count(lit(1)).as("n"))
      .withColumn("sz", size(col("s")))
      .withColumn("anchor", element_at(col("s"), 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val intra = groups.filter(col("n") >= 2)
      .select(explode(col("members")).as("doc_a"), col("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jac", lit(1.0d))
      .select(col("doc_a"), col("doc_b"), col("jac"))
    // ---- token co-occurrence components (lang-scoped node ids; the
    //  separator keeps (lang, tok) → node injective) ----
    def nodeId(l: Column, tk: Column): Column = concat_ws("\u0001", l, tk)
    val ccEdges = groups
      .select(col("lang"), col("anchor"), explode(col("s")).as("tok"))
      .filter(col("tok") =!= col("anchor"))
      .select(nodeId(col("lang"), col("tok")).as("doc_a"),
        nodeId(col("lang"), col("anchor")).as("doc_b"))
      .distinct()
    val labels = connectedComponentsOfPairs(ccEdges) // (node, lab)
    // token → component; an un-edged token (appears only in
    // single-token sets) is its own singleton component
    val tokComp = groups.select(col("lang"), explode(col("s")).as("tok")).distinct()
      .withColumn("node", nodeId(col("lang"), col("tok")))
      .join(labels, Seq("node"), "left")
      .select(col("lang"), col("tok"), coalesce(col("lab"), col("node")).as("comp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val compSz = tokComp.groupBy(col("comp")).agg(count(lit(1)).as("vsz"))
    // set → component via its anchor token (all of a set's tokens
    // share one component by construction)
    val gc = groups
      .join(tokComp.select(col("lang"), col("tok").as("anchor"), col("comp")),
        Seq("lang", "anchor"))
      .join(compSz, Seq("comp"))
    // ---- ≤64-token components: exact masks vs the component vocab.
    // vocab arrays exist ONLY for small components (bounded ≤ 64
    // strings each — never a collect_list over a natural vocabulary)
    val compVocab = tokComp.join(compSz.filter(col("vsz") <= 64), Seq("comp"))
      .groupBy(col("comp")).agg(sort_array(collect_list(col("tok"))).as("vocab"))
    val sm = gc.filter(col("vsz") <= 64).join(compVocab, Seq("comp"))
      .withColumn("mask", expr(
        """aggregate(
          |  transform(s, tk -> shiftleft(1L, cast(array_position(vocab, tk) as int) - 1)),
          |  0L, (acc, x) -> acc | x)""".stripMargin))
    val xa = sm.select(col("comp"), col("gid").as("gid_a"), col("sz").as("sza"),
      col("mask").as("ma"), col("members").as("mem_a"))
    val xb = sm.select(col("comp").as("comp_b"), col("gid").as("gid_b"),
      col("sz").as("szb"), col("mask").as("mb"), col("members").as("mem_b"))
    val smallPairs = xa.join(xb, col("comp") === col("comp_b") &&
        col("gid_a") < col("gid_b") &&
        col("sza") * 5 >= col("szb") * 4 && col("szb") * 5 >= col("sza") * 4)
      .withColumn("c", expr("bit_count(ma & mb)"))
      .withColumn("u", col("sza") + col("szb") - col("c"))
      .filter(col("c") * 5 >= col("u") * 4) // J >= 0.8, integer-exact
      .withColumn("jac", col("c").cast("double") / col("u"))
      .select(explode(col("mem_a")).as("da"), col("mem_b"), col("jac"))
      .select(col("da"), explode(col("mem_b")).as("db"), col("jac"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jac"))
    // ---- larger components: minhash banding (the natural-corpus path)
    val big = gc.filter(col("vsz") > 64)
    val seedCols = (0 until 8).map { s =>
      expr(s"array_min(transform(hb, h -> (${MinhashA(s)}L * h + ${MinhashB(s)}L) % ${MinhashP}L))").as(s"h$s")
    }
    val sig = big
      .withColumn("hb", transform(col("s"), tok => md5Long(tok) % MinhashP))
      .select(Seq(col("gid"), col("lang"), col("sz")) ++ seedCols: _*)
    val bands = sig
      .select(col("gid"), col("lang"), col("sz"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"), col(s"h${2 * b}").as("h0"), col(s"h${2 * b + 1}").as("h1"))
        }: _*)).as("bd"))
      .select(col("gid"), col("lang"), col("sz"), col("bd.band").as("band"),
        col("bd.h0").as("h0"), col("bd.h1").as("h1"))
    val x = bands.select(col("gid").as("gid_a"), col("lang"), col("sz").as("sza"),
      col("band"), col("h0"), col("h1"))
    val y = bands.select(col("gid").as("gid_b"), col("lang").as("lang_b"),
      col("sz").as("szb"), col("band").as("band_b"), col("h0").as("g0"), col("h1").as("g1"))
    // size-band predicate is implied by J >= 0.8 (min >= 0.8 * max):
    // prunes candidates at join-probe time, before the distinct
    val cand = x.join(y, col("lang") === col("lang_b") && col("band") === col("band_b") &&
        col("h0") === col("g0") && col("h1") === col("g1") &&
        col("gid_a") < col("gid_b") &&
        col("sza") * 5 >= col("szb") * 4 && col("szb") * 5 >= col("sza") * 4)
      .select(col("gid_a"), col("gid_b")).distinct()
    val ga = groups.select(col("gid").as("gid_a"), col("s").as("s_a"),
      col("members").as("mem_a"))
    val gb = groups.select(col("gid").as("gid_b"), col("s").as("s_b"),
      col("members").as("mem_b"))
    val inter = cand.join(ga, "gid_a").join(gb, "gid_b")
      .withColumn("c", size(array_intersect(col("s_a"), col("s_b"))))
      .withColumn("u", size(array_union(col("s_a"), col("s_b"))))
      .filter(col("c") * 5 >= col("u") * 4) // J >= 0.8, integer-exact
      .withColumn("jac", col("c").cast("double") / col("u"))
      .select(explode(col("mem_a")).as("da"), col("mem_b"), col("jac"))
      .select(col("da"), explode(col("mem_b")).as("db"), col("jac"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jac"))
    intra.unionAll(smallPairs).unionAll(inter)
      .select(col("doc_a"), col("doc_b"), rnd(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact natural-vocabulary baseline: intersection sizes from an
    * equi-join on (lang, token) + a pair-count aggregate — only pairs
    * that share a token ever materialize, and |A∪B| = |A|+|B|−|A∩B|
    * from precomputed set sizes. TOTAL recall, but verification work
    * ∝ candidate pairs × shared tokens (Σ df² per lang): measured 62 s
    * at sf1 vs the two-stage form above, which is why the registered
    * fallback is two-stage and this form is the oracle/spec baseline
    * ([[jaccardTwoStage]]'s recall is measured against it). */
  def jaccardTokenJoinExact(t0: DataFrame): DataFrame = {
    val t = t0.withColumn("sz", size(col("s")))
    val tok = t.select(col("doc_id"), col("lang"), col("sz"), explode(col("s")).as("tok"))
    val a = tok.select(col("doc_id").as("doc_a"), col("lang"), col("sz").as("sza"), col("tok"))
    val b = tok.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("sz").as("szb"), col("tok").as("tok_b"))
    // size-band predicate is implied by J >= 0.8 (min >= 0.8 * max):
    // prunes candidate rows at join-probe time, before the aggregate
    a.join(b, col("lang") === col("lang_b") && col("tok") === col("tok_b") &&
        col("doc_a") < col("doc_b") &&
        col("sza") * 5 >= col("szb") * 4 && col("szb") * 5 >= col("sza") * 4)
      .groupBy(col("doc_a"), col("doc_b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jac", col("c").cast("double") / (col("sza") + col("szb") - col("c")))
      .filter(col("jac") >= 0.8)
      .select(col("doc_a"), col("doc_b"), rnd(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------------------------------- ngram jaccard
  /** N-GRAM (word-trigram) Jaccard ≥ 0.5 pairs within language
    * blocks — the order-sensitive complement to the token-set
    * `dedup_jaccard`: shuffled word order destroys trigram overlap
    * but not unigram overlap, so this catches true passage reuse
    * rather than vocabulary reuse. Shingling is the same per-row
    * array expression the minhash kernel uses; candidates come from a
    * shingle equi-join (shingles are far rarer than tokens, so the
    * candidate set is tighter than the unigram path's), intersection
    * sizes from a pair-count aggregate, and the τ=0.5 cut is applied
    * integer-exactly (3·|∩| ≥ |A|+|B|) before the double jaccard is
    * ever computed. */
  def dedupJaccardNgram(spark: SparkSession, dir: String): DataFrame = {
    // persisted: both join sides explode this frame; without it the
    // tokenize+shingle+distinct chain runs once per side. NO size>0
    // filter: explode of an empty array emits nothing, and a filter on
    // a derived array column gets pushed below the project where the
    // whole shingle pipeline would be recomputed inside the scan.
    // spreadHint: the shingle chain is per-row work on a byte-small
    // scan. Leave-one-out at sf0.1, local[4]: 1.17 s with, 1.72 s
    // without (medians), the call winning 5 of 5 pairs
    val sets = Tables.spreadHint(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), toks.as("t"))
      .withColumn("s", array_distinct(expr(shingleExpr)))
      .withColumn("sz", size(col("s")))
      .select(col("doc_id"), col("lang"), col("s"), col("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // join on a 64-bit hash of the shingle, not the 3-word string:
    // the exchange/join comparator works on longs (string keys drag
    // ~10x the bytes through the shuffle and the sort). xxhash64 is
    // deterministic; a collision (~n²/2⁶⁴) could only ever merge two
    // shingles WITHIN a lang block and is vanishingly unlikely.
    val ex = sets.select(col("doc_id"), col("lang"), col("sz"), explode(col("s")).as("g0"))
      .select(col("doc_id"), col("lang"), col("sz"), xxhash64(col("g0")).as("g"))
    val a = ex.select(col("doc_id").as("doc_a"), col("lang"), col("sz").as("sza"), col("g"))
    val b = ex.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("sz").as("szb"), col("g").as("g_b"))
    a.join(b, col("lang") === col("lang_b") && col("g") === col("g_b") &&
        col("doc_a") < col("doc_b") &&
        col("sza") * 2 >= col("szb") && col("szb") * 2 >= col("sza"))
      .groupBy(col("doc_a"), col("doc_b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") * 3 >= col("sza") + col("szb")) // J >= 0.5, integer-exact
      .withColumn("jac", col("c").cast("double") / (col("sza") + col("szb") - col("c")))
      .select(col("doc_a"), col("doc_b"), rnd(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val dedupJaccardNgramSql =
    s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, list_distinct(list_filter(
       |    list_transform(tk, (x, i) -> CASE WHEN i + 2 <= len(tk)
       |      THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END),
       |    s -> s IS NOT NULL)) AS s
       |  FROM t),
       |f AS (SELECT * FROM sh WHERE len(s) > 0)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  ${rndSql("cast(len(list_intersect(a.s, b.s)) as double) / len(list_distinct(a.s || b.s))", 4)} AS jaccard
       |FROM f a JOIN f b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE 3 * len(list_intersect(a.s, b.s)) >= len(a.s) + len(b.s)
       |ORDER BY doc_a, doc_b""".stripMargin

  private val dedupJaccardSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, list_distinct($toksSql) AS s FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  ${rndSql("cast(len(list_intersect(a.s, b.s)) as double) / len(list_distinct(a.s || b.s))", 4)} AS jaccard
       |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE cast(len(list_intersect(a.s, b.s)) as double)
       |    / len(list_distinct(a.s || b.s)) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- minhash
  /** The 8 "independent" minhash functions are affine mixes of ONE
    * md5 base hash: h_i = (a_i·h + b_i) mod p, p = 2³¹−1 — the
    * standard universal-hashing construction. One md5 per shingle
    * instead of eight (md5 dominates signature cost); constants and
    * modulus chosen so every product stays < 2⁶² (no int64 overflow
    * on either engine). */
  private val MinhashP = 2147483647L // 2^31 - 1
  private val MinhashA = Seq(1299709L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)
  private val MinhashB = Seq(179424673L, 217645177L, 256203161L, 295075147L,
    334214459L, 373587883L, 413158511L, 452930459L)

  /** MinHash + LSH banding over word-trigram shingles: 8 affine-mixed
    * minhashes → 4 bands of 2 → candidate pairs share ≥1 band.
    * Linear in corpus size + one equi-join: the 100 TB dedup path.
    * Returns unordered (doc_a, doc_b, n_shared_bands) — shared by
    * `dedup_minhash` and the two-stage `pipeline_fuzzy_dedup`. */
  /** Public minhash signature kernel over an ARBITRARY documents
    * frame (needs `doc_id`, `text`): one row per doc with the 8
    * affine-mixed minhashes.
    *
    * Entirely PER-ROW: shingle array → one md5 per shingle
    * (`transform`) → per-seed `array_min` of the affine mix. No
    * explode, no distinct, no aggregate — min over a multiset equals
    * min over its set, so shingle dedup is unnecessary — and
    * therefore NO shuffle on any input layout: the signature stage of
    * a 100 TB dedup is a pure map over the corpus (the only exchange
    * in the whole pipeline is the band equi-join). A doc with < 3
    * tokens has no shingles → null signature → drops out of the
    * null-rejecting band join, same as the aggregate form. */
  /** Word-trigram shingles of the token array `t`, as a per-row
    * array expression (no explode, no window). */
  private val shingleExpr =
    """filter(
      |  transform(t, (x, i) -> CASE WHEN i + 2 < size(t)
      |    THEN concat(x, ' ', element_at(t, i + 2), ' ', element_at(t, i + 3))
      |    END),
      |  s -> s IS NOT NULL)""".stripMargin

  def minhashSignatures(docs: DataFrame): DataFrame = {
    val seedCols = (0 until 8).map { s =>
      expr(s"array_min(transform(hb, h -> (${MinhashA(s)}L * h + ${MinhashB(s)}L) % ${MinhashP}L))").as(s"h$s")
    }
    docs.select(col("doc_id"), toks.as("t"))
      .withColumn("sh", expr(shingleExpr))
      .withColumn("hb", transform(col("sh"), s => md5Long(s) % MinhashP))
      .select(col("doc_id") +: seedCols: _*)
  }

  /** Band rows (doc_id, band, h0, h1) for an arbitrary documents
    * frame — THE bucket-key projection shared by the streaming dedup,
    * the incremental index, and the batch query (one definition, so
    * an index built today and a probe run tomorrow cannot drift).
    * Pure per-row like the signatures: zero exchanges on any layout.
    * Null-signature docs (< 3 tokens, no shingles) drop out, matching
    * the stream's null-rejecting band join. */
  def minhashBandRows(docs: DataFrame): DataFrame =
    minhashSignatures(docs)
      .select(col("doc_id"), explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"), col(s"h${2 * b}").as("h0"), col(s"h${2 * b + 1}").as("h1"))
      }: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"),
        col("bd.h0").as("h0"), col("bd.h1").as("h1"))
      .filter(col("h0").isNotNull && col("h1").isNotNull)

  // ------------------------------------------------------- incremental dedup
  /** Minhash band index over a corpus: one row per OCCUPIED bucket,
    * carrying its canonical (min doc_id). This is the entire state an
    * incremental dedup needs about a 100 TB corpus — ∝ occupied
    * buckets (≤ 4 rows/doc before bucket collapse), not corpus bytes,
    * and it never stores text. */
  def minhashIndexFrame(corpus: DataFrame): DataFrame =
    minhashBandRows(corpus).groupBy(col("band"), col("h0"), col("h1"))
      .agg(min(col("doc_id")).as("canon"))

  /** Build + atomically publish the index as a [[graft.sources.ManifestTable]]
    * — readers during a rebuild/update see the old or the new complete
    * index, never a half-written one. */
  def writeMinhashIndex(corpus: DataFrame, path: String): Unit = {
    val spark = corpus.sparkSession
    val idx = minhashIndexFrame(corpus)
    val v = graft.sources.ManifestTable.prepare(spark, path)(dir =>
      idx.write.parquet(dir))
    graft.sources.ManifestTable.publish(spark, path, v)
  }

  /** Fold an ingested batch into the index: min-merge its bucket
    * canons with the current version, publish as the next version.
    * Cost ∝ index + batch — the corpus is never re-scanned. (A plain
    * key-replace upsert would be WRONG here: the merge is min(), not
    * last-writer-wins.) */
  def updateMinhashIndex(newDocs: DataFrame, path: String): Unit = {
    val spark = newDocs.sparkSession
    val merged = graft.sources.ManifestTable.read(spark, path)
      .unionByName(minhashIndexFrame(newDocs))
      .groupBy(col("band"), col("h0"), col("h1"))
      .agg(min(col("canon")).as("canon"))
    // lazy plan reads the CURRENT version while the new one writes:
    // safe — publish retains the previous version dir for one commit
    val v = graft.sources.ManifestTable.prepare(spark, path)(dir =>
      merged.write.parquet(dir))
    graft.sources.ManifestTable.publish(spark, path, v)
  }

  /** Dedup an ingest batch against an index WITHOUT re-scanning the
    * corpus: collisions against the index's canons ∪ the batch itself
    * (two new near-identical docs must flag each other even when the
    * corpus has neither). Emits (doc_id, dup_of = bucket canonical,
    * band) per colliding band, like the streaming dedup.
    *
    * Scale shape: the only joins are bucket equi-joins; the batch
    * side is ingest-sized (broadcastable), the index side ∝ occupied
    * buckets. The corpus' text is never touched. */
  def dedupAgainstIndex(index: DataFrame, newDocs: DataFrame): DataFrame = {
    val nb = minhashBandRows(newDocs)
    val canon = index
      .select(col("canon").as("doc_id"), col("band"), col("h0"), col("h1"))
      .unionByName(nb)
      .groupBy(col("band"), col("h0"), col("h1"))
      .agg(min(col("doc_id")).as("canon"))
    nb.join(canon, Seq("band", "h0", "h1"))
      .filter(col("doc_id") > col("canon"))
      .select(col("doc_id"), col("canon").as("dup_of"), col("band"))
  }

  /** Registered query: the last 20% of doc_ids arrive as the ingest
    * batch, the first 80% are the already-indexed corpus. In-engine
    * it composes [[minhashIndexFrame]] + [[dedupAgainstIndex]]; the
    * file-backed write/update/probe path is spec-proven equal
    * (DedupSimilaritySpec). The split point is a bounded driver
    * scalar (max doc_id), integer math on both engines. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    // no spreadHint here: measured 1.05 -> 1.29 s at sf0.1 — the frame
    // feeds a 1-row max() probe plus two filtered signature passes, and
    // the extra exchange costs more than the spread saves
    val docs = Tables.documents(spark, dir)
    // max over an empty corpus is NULL — treat as split 0 (empty batch)
    val maxRow = docs.agg(max(col("doc_id"))).head
    val split = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) * 4 / 5
    val idx = minhashIndexFrame(docs.filter(col("doc_id") < split))
    dedupAgainstIndex(idx, docs.filter(col("doc_id") >= split))
      .orderBy(col("doc_id"), col("band"))
  }

  // lazy: minhashCandidateCtes is declared further down the object
  private lazy val dedupIncrementalSql =
    s"""WITH $minhashCandidateCtes,
       |split AS (SELECT max(doc_id) * 4 // 5 AS s FROM documents),
       |occ AS (
       |  SELECT band, h0, h1, min(doc_id) AS canon
       |  FROM bands WHERE h0 IS NOT NULL AND h1 IS NOT NULL
       |  GROUP BY band, h0, h1)
       |SELECT b.doc_id, o.canon AS dup_of, b.band
       |FROM bands b
       |JOIN occ o ON b.band = o.band AND b.h0 = o.h0 AND b.h1 = o.h1
       |CROSS JOIN split
       |WHERE b.doc_id >= split.s AND b.doc_id > o.canon
       |  AND b.h0 IS NOT NULL AND b.h1 IS NOT NULL
       |ORDER BY b.doc_id, b.band""".stripMargin

  private def minhashCandidatePairs(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the band equi-join consumes this frame on BOTH sides;
    // one row per doc, so the cache is tiny while saving a full
    // shingle+min-aggregate recompute (the dominant signature cost)
    val sig = minhashSignatures(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = sig
      .select(col("doc_id"), explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"), col(s"h${2 * b}").as("h0"), col(s"h${2 * b + 1}").as("h1"))
      }: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"),
        col("bd.h0").as("h0"), col("bd.h1").as("h1"))
    val x = bands.select(col("doc_id").as("doc_a"), col("band"), col("h0"), col("h1"))
    val y = bands.select(col("doc_id").as("doc_b"), col("band").as("band_b"),
      col("h0").as("g0"), col("h1").as("g1"))
    x.join(y, col("band") === col("band_b") && col("h0") === col("g0") &&
        col("h1") === col("g1") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashCandidatePairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** CTE chain ending in `cand(doc_a, doc_b, n_shared_bands)` —
    * shared by the minhash oracle and the fuzzy-pipeline oracle. */
  private val minhashCandidateCtes =
    s"""tk AS (
       |  SELECT doc_id, unnest($toksSql) AS tok,
       |    generate_subscripts($toksSql, 1) AS pos
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
       |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |hb AS (
       |  SELECT doc_id, ${md5LongSql("shingle")} % $MinhashP AS hb
       |  FROM sh WHERE shingle IS NOT NULL),
       |mh AS (
       |  SELECT doc_id, s.seed,
       |    min((s.a * hb + s.b) % $MinhashP) AS h
       |  FROM hb CROSS JOIN (
       |    SELECT unnest(${MinhashA.indices.mkString("[", ",", "]")}) AS seed,
       |      unnest(${MinhashA.mkString("[", ",", "]")}) AS a,
       |      unnest(${MinhashB.mkString("[", ",", "]")}) AS b) s
       |  GROUP BY doc_id, s.seed),
       |bands AS (
       |  SELECT doc_id, seed // 2 AS band,
       |    max(CASE WHEN seed % 2 = 0 THEN h END) AS h0,
       |    max(CASE WHEN seed % 2 = 1 THEN h END) AS h1
       |  FROM mh GROUP BY doc_id, band),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS n_shared_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
       |    AND a.doc_id < b.doc_id
       |  GROUP BY doc_a, doc_b)""".stripMargin

  private val dedupMinhashSql =
    s"""WITH $minhashCandidateCtes
       |SELECT doc_a, doc_b, n_shared_bands FROM cand
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- fuzzy pipeline
  /** The production fuzzy-dedup shape as ONE plan: minhash-band
    * candidate generation (linear + equi-join, output-bounded) →
    * exact jaccard verification ONLY on the candidate pairs (two
    * output-bounded joins pull in the token sets) → threshold. This
    * is how near-dup dedup actually runs at 100 TB: the exact measure
    * never touches the n² pair space, only band collisions.
    *
    * Unlike the lang-blocked `dedup_jaccard`, candidates here are NOT
    * language-blocked: shingle-band collisions find cross-language
    * near-dups too (on this corpus most verified pairs are cross-lang
    * ones the blocked operator can't see). */
  /** Verified near-dup pairs (doc_a < doc_b, exact jaccard ≥ 0.8 on
    * minhash-band candidates) — shared by `pipeline_fuzzy_dedup` and
    * the connected-components clustering below. */
  private def fuzzyVerifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    val cand = minhashCandidatePairs(spark, dir)
    // persisted: joined once per pair side (doc_a, doc_b)
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(toks).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sa = sets.select(col("doc_id").as("doc_a"), col("s").as("s_a"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("s").as("s_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("c", size(array_intersect(col("s_a"), col("s_b"))))
      .withColumn("u", size(array_union(col("s_a"), col("s_b"))))
      .withColumn("jac", col("c").cast("double") / col("u"))
      .filter(col("jac") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"), col("jac"))
  }

  def pipelineFuzzyDedup(spark: SparkSession, dir: String): DataFrame =
    fuzzyVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        rnd(col("jac"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  // ---------------------------------------------------------------- containment
  /** Directed CONTAINMENT pairs on the minhash-band candidates:
    * c(sub→sup) = |sub ∩ sup| / |sub| ≥ 0.9 — the asymmetric
    * complement to jaccard (a short doc quoted wholesale inside a
    * long one has high containment but low jaccard; jaccard-only
    * dedup keeps both copies). Same two-stage scale shape as
    * `pipeline_fuzzy_dedup`: the exact measure touches only band
    * candidates, each candidate emits its two directions, and only
    * the directed rows above threshold survive.
    *
    * Declared recall bound, documented honestly: symmetric minhash
    * banding finds HIGH-JACCARD candidates, so a tiny-doc-in-huge-doc
    * pair can be missed at the candidate stage; the full-recall scale
    * structure for pure containment search is a shingle
    * inverted-index join (the `dedup_chunk` machinery). The oracle
    * scopes to the same candidate set, so the measure itself is
    * hash-checked end to end. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val cand = minhashCandidatePairs(spark, dir)
    val sets = Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(toks).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val j = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("s_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("s_b")), "doc_b")
      .withColumn("c", size(array_intersect(col("s_a"), col("s_b"))))
      .withColumn("sza", size(col("s_a")))
      .withColumn("szb", size(col("s_b")))
    // both directions from ONE pass over j: a unionAll of two
    // projections would re-plan the candidate join and re-run the
    // dominant array_intersect per pair (ReuseExchange dedups
    // shuffles, not join+projection subtrees)
    val dirs = j.select(explode(array(
        struct(col("doc_a").as("doc_sub"), col("doc_b").as("doc_sup"),
          col("c"), (col("c").cast("double") / col("sza")).as("containment")),
        struct(col("doc_b").as("doc_sub"), col("doc_a").as("doc_sup"),
          col("c"), (col("c").cast("double") / col("szb")).as("containment"))))
        .as("d"))
      .select(col("d.doc_sub"), col("d.doc_sup"), col("d.c"),
        col("d.containment"))
    dirs.filter(col("containment") >= 0.9)
      .select(col("doc_sub"), col("doc_sup"), col("c").as("n_shared_tokens"),
        rnd(col("containment"), 4).as("containment"))
      .orderBy(col("doc_sub"), col("doc_sup"))
  }

  private val dedupContainmentSql =
    s"""WITH $minhashCandidateCtes,
       |sets AS (SELECT doc_id, list_distinct($toksSql) AS s FROM documents),
       |j AS (
       |  SELECT c.doc_a, c.doc_b,
       |    cast(len(list_intersect(a.s, b.s)) as int) AS c,
       |    cast(len(a.s) as int) AS sza, cast(len(b.s) as int) AS szb
       |  FROM cand c
       |  JOIN sets a ON c.doc_a = a.doc_id
       |  JOIN sets b ON c.doc_b = b.doc_id),
       |dirs AS (
       |  SELECT doc_a AS doc_sub, doc_b AS doc_sup, c,
       |    cast(c as double) / sza AS containment FROM j
       |  UNION ALL
       |  SELECT doc_b AS doc_sub, doc_a AS doc_sup, c,
       |    cast(c as double) / szb AS containment FROM j)
       |SELECT doc_sub, doc_sup, c AS n_shared_tokens,
       |  ${rndSql("containment", 4)} AS containment
       |FROM dirs WHERE containment >= 0.9
       |ORDER BY doc_sub, doc_sup""".stripMargin

  // ------------------------------------------------- containment, full recall
  /** FULL-RECALL directed containment pairs (round 8) — closes the
    * recall gap `dedup_containment` documents: symmetric minhash
    * banding finds high-JACCARD candidates, so a tiny-doc-quoted-in-
    * huge-doc pair (high containment, low jaccard) can be missed at
    * its candidate stage. This operator finds EVERY pair with
    * c(sub→sup) = |sub ∩ sup| / |sub| ≥ 0.9 over distinct token
    * sets, via PREFIX FILTERING (the SSJoin/PPJoin family —
    * Chaudhuri et al., ICDE 2006; Xiao et al., WWW 2008):
    *
    * with cmin = ⌈0.9·|sub|⌉ shared tokens required, at most
    * |sub| − cmin of sub's tokens lie outside sup, so among sub's
    * first |sub| − cmin + 1 tokens IN ANY FIXED GLOBAL ORDER at
    * least one is in sup — joining just that prefix against the full
    * inverted index has total recall, and ordering tokens RAREST-
    * FIRST (ascending document frequency, then token) makes the
    * joined prefix tokens precisely the low-df ones, so posting-list
    * collisions stay small. Exact verification then touches only
    * candidates. The oracle is the brute-force ALL-PAIRS containment
    * — hash-equality IS the full-recall proof (O(n²) oracle side, so
    * an sf ≤ 1 check like the other all-pairs twins).
    *
    * Plan: token explode (persisted, pays for df + rank + index),
    * per-doc prefix via a doc-keyed window over the global (df, tok)
    * order, prefix ⋈ index equi-join on token, distinct, exact
    * verify on the candidate set only. At 100 TB: everything is
    * token- or doc-keyed; the inherent cost driver is posting-list
    * skew on rare-token collisions, the documented price of EXACT
    * full recall (the banded operator stays the cheap probabilistic
    * path). */
  def dedupContainmentExact(spark: SparkSession, dir: String): DataFrame =
    containmentPairsExact(Tables.documents(spark, dir))

  /** The prefix-filter kernel over an ARBITRARY documents frame
    * (needs `doc_id`, `text`) — see [[dedupContainmentExact]]. */
  def containmentPairsExact(docs: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // persist BEFORE the empty-set filter: pushing the filter below
    // the projection substitutes the set derivation into the
    // predicate and re-evaluates it per row (see the
    // [[containmentPrefixPairs]] forensic for the pathological
    // per-element form of the same hazard)
    val cached = docs
      .select(col("doc_id"), array_distinct(toks).as("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sets = cached.filter(size(col("s")) > 0)
    val tokens = sets.select(col("doc_id"), size(col("s")).as("sz"),
        explode(col("s")).as("tok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // vocab probe, the jaccard-ladder dispatch: when the GLOBAL
    // vocabulary fits one machine word, exact verification is a
    // single popcount over 64-bit set masks and prefix filtering is
    // pointless anyway (round-8 measurement on this 31-token corpus:
    // at containment ≥ 0.9 a third of ALL ordered pairs qualify, so
    // no candidate filter can prune below the output — the prefix
    // path paid 406 s at sf0.1 on µs-scale string-array intersects
    // where the mask path pays ns-scale popcounts over the ~4k
    // DISTINCT sets and expands to doc pairs afterwards).
    val vocab = tokens.select(col("tok")).distinct()
    if (vocab.count() <= 64) containmentMasks(sets, tokens, vocab)
    else containmentPrefix(sets, tokens)
  }

  /** Vocab ≤ 64 tier: sets become single-long bitmasks (global token
    * index ⋈ bit_or), the ~|distinct sets|² comparisons are one
    * popcount-AND each over the broadcast distinct-mask table, and
    * qualifying MASK pairs expand back to doc pairs — work ∝
    * distinct-set pairs + true output, never doc² string intersects.
    * Same output and rounding as the prefix tier (one double
    * division + rnd per pair). */
  private def containmentMasks(sets: DataFrame, tokens: DataFrame,
      vocab: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = sets.sparkSession
    import spark.implicits._
    // ≤ 64 rows by the dispatch probe: a bounded driver collect
    val idx = vocab.orderBy(col("tok")).as[String].collect().zipWithIndex
    val idxDf = broadcast(idx.toSeq.toDF("tok", "tid"))
    val masks = tokens.join(idxDf, "tok")
      .groupBy(col("doc_id"))
      .agg(expr("bit_or(shiftleft(1L, tid))").as("m"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dm = masks.select(col("m")).distinct()
    // the stream side is REPARTITIONED to the session's parallelism
    // before the nested-loop: AQE coalesces the distinct-mask frame by
    // BYTES (a few KB → 1 partition), but the work of this stage is
    // |dm|² popcount pairs, so the coalesced plan ran the whole
    // quadratic comparison in ONE task (measured sf0.1: a 3.3 s
    // single-task stage inside an 8 s query). A keyless repartition of
    // the ~|distinct sets| rows is noise next to the pair mass it
    // parallelizes, and AQE leaves user-pinned partition counts alone.
    val maskPairs = dm.repartition(
        sets.sparkSession.sparkContext.defaultParallelism)
      .select(col("m").as("ma"))
      .crossJoin(broadcast(dm.select(col("m").as("mb"))))
      .withColumn("c", expr("cast(bit_count(ma & mb) as int)"))
      .withColumn("sza", expr("cast(bit_count(ma) as int)"))
      .filter(col("c").cast("double") / col("sza") >= 0.9d)
    maskPairs
      .join(masks.select(col("doc_id").as("doc_sub"), col("m").as("ma")), "ma")
      .join(masks.select(col("doc_id").as("doc_sup"), col("m").as("mb")), "mb")
      .filter(col("doc_sub") =!= col("doc_sup"))
      .select(col("doc_sub"), col("doc_sup"), col("c").as("n_shared_tokens"),
        rnd(col("c").cast("double") / col("sza"), 4).as("containment"))
      .orderBy(col("doc_sub"), col("doc_sup"))
  }

  /** The prefix tier's CANDIDATE pair frame alone — public so the
    * filter's selectivity is a measurable quantity (specs count it;
    * SURVEY §6 records it next to the tracked bench number): the
    * tier's cost is candidates × per-pair verify, so when the bench
    * entry grows, counting this frame says whether the corpus got
    * bigger or the filter got weaker (the PPJoin positional-filter
    * upgrade becomes worth it when candidates ≫ qualifying pairs). */
  def containmentPrefixCandidates(tokens: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val dfreq = tokens.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // every token ranked in ONE global rarest-first (df, tok) order —
    // both the prefix side and the index side need the position, so
    // the window runs once and the ranked frame persists
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val ranked = tokens.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("tok"), col("rn"), col("sz"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // k = sz − ⌈0.9·sz⌉ + 1 prefix tokens, integer-exact
    val prefix = ranked
      .filter(col("rn") <= col("sz") - expr("(9 * sz + 9) div 10") + 1)
      .select(col("doc_id").as("doc_sub"), col("tok"),
        col("rn").as("rn_sub"), col("sz").as("sz_sub"))
    // PPJoin positional filter (Xiao et al., WWW 2008): the ranks are
    // a shared total order, so for the FIRST shared token of any true
    // pair, overlap ≤ 1 + min(tokens after it in sub, tokens after it
    // in sup); a qualifying pair (c ≥ ⌈0.9·|sub|⌉) therefore passes
    // the bound at that entry — which the prefix property puts in
    // sub's prefix — so pruning entries whose bound < cmin keeps
    // total recall while killing pairs whose shared rare token sits
    // too late in either doc to matter (measured sf0.1: 133,253 →
    // far fewer pairs reaching the array_intersect verify).
    prefix
      .join(ranked.select(col("doc_id").as("doc_sup"), col("tok"),
        col("rn").as("rn_sup"), col("sz").as("sz_sup")), "tok")
      .filter(col("doc_sub") =!= col("doc_sup") &&
        lit(1) + least(col("sz_sub") - col("rn_sub"),
          col("sz_sup") - col("rn_sup")) >=
          expr("(9 * sz_sub + 9) div 10"))
      .select(col("doc_sub"), col("doc_sup"))
      .distinct()
  }

  /** Natural-vocabulary tier: the prefix-filter inverted-index join
    * (see [[dedupContainmentExact]]'s scaladoc for the bound). */
  private def containmentPrefix(sets: DataFrame, tokens: DataFrame): DataFrame = {
    containmentPrefixCandidates(tokens)
      .join(sets.select(col("doc_id").as("doc_sub"), col("s").as("s_sub")), "doc_sub")
      .join(sets.select(col("doc_id").as("doc_sup"), col("s").as("s_sup")), "doc_sup")
      .withColumn("c", size(array_intersect(col("s_sub"), col("s_sup"))))
      .withColumn("containment", col("c").cast("double") / size(col("s_sub")))
      .filter(col("containment") >= 0.9d)
      .select(col("doc_sub"), col("doc_sup"), col("c").as("n_shared_tokens"),
        rnd(col("containment"), 4).as("containment"))
      .orderBy(col("doc_sub"), col("doc_sup"))
  }

  /** The prefix tier as a PUBLIC kernel over an arbitrary
    * `(doc_id, s: array<T>)` sets frame — [[containmentPrefix]] is
    * element-type-generic (explode / size / array_intersect), so
    * callers with hashed-shingle long sets use the same code as the
    * string-token path. No vocab probe here: callers reach for this
    * form precisely when the vocabulary is known natural (≫ 64), so
    * dispatch is static rather than probed. */
  def containmentPrefixPairs(sets0: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // PERSIST BEFORE the empty-set filter — load-bearing order
    // (round 10 forensic): a filter on top of the un-materialized
    // frame lets predicate pushdown SUBSTITUTE the caller's full `s`
    // derivation into the predicate, where any base array it
    // references (e.g. the ngram caller's t = filter(split(text)))
    // loses the project-collapse multi-reference guard and
    // re-evaluates PER LAMBDA ELEMENT — measured 8.7 s vs 0.7 s for
    // the same sets count at sf0.1, an O(tokens²)-per-doc tax hidden
    // in a "free" filter. The cache boundary pins `s` as a
    // materialized column; the filter then reads it.
    val cached = sets0.select(col("doc_id"), col("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sets = cached.filter(size(col("s")) > 0)
    val tokens = sets.select(col("doc_id"), size(col("s")).as("sz"),
        explode(col("s")).as("tok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    containmentPrefix(sets, tokens)
  }

  /** Full-recall containment over word-TRIGRAM shingle sets — the
    * natural-vocabulary twin of [[dedupContainmentExact]], registered
    * so the PREFIX tier (the one that matters at 100 TB) carries a
    * tracked bench number: the synthetic corpus's ~100-word unigram
    * vocabulary always routes the exact query to the ≤ 64 popcount-
    * mask tier, so without this entry the inverted-index join never
    * runs at bench scale (the `dedup_jaccard_ngram` precedent —
    * trigram shingles give a realistic sparse vocabulary). Spark
    * operates on xxhash64-hashed shingles (64-bit join/intersect
    * keys — ~10× fewer shuffle bytes than 3-word strings; a
    * collision merging two shingles within one doc pair is ~n²/2⁶⁴);
    * the oracle is brute-force all-pairs over the STRING shingles,
    * so hash-equality simultaneously proves recall and that no
    * collision bit. */
  /** The ngram query's hashed-shingle sets frame, public so specs
    * can measure the prefix filter's candidate count on exactly the
    * frame the registered query runs. */
  def containmentNgramSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("t"))
      .withColumn("s",
        transform(array_distinct(expr(shingleExpr)), g => xxhash64(g)))
      .select(col("doc_id"), col("s"))

  def dedupContainmentNgram(spark: SparkSession, dir: String): DataFrame =
    containmentPrefixPairs(containmentNgramSets(spark, dir))

  private val dedupContainmentNgramSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_filter(
       |    list_transform(tk, (x, i) -> CASE WHEN i + 2 <= len(tk)
       |      THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END),
       |    s -> s IS NOT NULL)) AS s
       |  FROM t),
       |f AS (SELECT * FROM sh WHERE len(s) > 0),
       |pairs AS (
       |  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup,
       |    cast(len(list_intersect(a.s, b.s)) as int) AS c,
       |    cast(len(a.s) as int) AS sza
       |  FROM f a JOIN f b ON a.doc_id <> b.doc_id)
       |SELECT doc_sub, doc_sup, c AS n_shared_tokens,
       |  ${rndSql("cast(c as double) / sza", 4)} AS containment
       |FROM pairs WHERE cast(c as double) / sza >= 0.9
       |ORDER BY doc_sub, doc_sup""".stripMargin

  private val dedupContainmentExactSql =
    s"""WITH sets AS (
       |  SELECT doc_id, list_distinct($toksSql) AS s FROM documents
       |  WHERE len(list_distinct($toksSql)) > 0),
       |pairs AS (
       |  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup,
       |    cast(len(list_intersect(a.s, b.s)) as int) AS c,
       |    cast(len(a.s) as int) AS sza
       |  FROM sets a JOIN sets b ON a.doc_id <> b.doc_id)
       |SELECT doc_sub, doc_sup, c AS n_shared_tokens,
       |  ${rndSql("cast(c as double) / sza", 4)} AS containment
       |FROM pairs WHERE cast(c as double) / sza >= 0.9
       |ORDER BY doc_sub, doc_sup""".stripMargin

  // ---------------------------------------------------------------- clusters
  /** The step every production dedup actually needs AFTER pair
    * generation: the transitive closure. Near-dup similarity is not
    * transitive (A~B, B~C does not imply A~C), so a keep/drop decision
    * made per PAIR both over- and under-deletes; the standard policy
    * is to group pairs into connected components and keep one
    * canonical doc (min doc_id) per component.
    *
    * Components via iterative min-label propagation: every doc starts
    * labeled with itself; each round, a node's label becomes the min
    * of its own and its neighbors' labels; fixpoint = component min.
    * The edge list (symmetrized verified pairs) is pre-partitioned by
    * src and persisted ONCE; labels are localCheckpoint'd per round
    * (one-round lineage — unlike pagerank's fixed 3-round unroll this
    * loop is open-ended, so lineage must not grow with rounds);
    * convergence is a two-scalar driver check on an order-independent
    * (count, xor-hash) fingerprint. Rounds needed = component
    * diameter; near-dup clusters are dense (everything is ~a copy of
    * one base doc), so 2-3 rounds in practice. At 100 TB the same
    * loop runs with edges bucketed by src; on round-cap exhaustion it
    * falls back to the published large-star/small-star kernel.
    *
    * Output: one row per document — its cluster id, the cluster size,
    * and the keep flag (true iff the doc IS its cluster's canonical). */
  /** PUBLIC connected-components kernel over an arbitrary undirected
    * edge list: `nodes` is one `node` column (every vertex, including
    * isolated ones), `pairs` is (doc_a, doc_b). Returns (node, lab)
    * where lab = the component's minimum node id. Iterative min-label
    * propagation; see pipelineDedupClusters for the loop discipline.
    * Any pair family feeds it — fuzzy/minhash, simhash, embedding.
    *
    * If the round cap is reached before the fixpoint (label
    * propagation needs DIAMETER rounds — a >maxRounds-long chain
    * would otherwise return silently-wrong labels), the kernel logs
    * and falls back to the O(log n)-round star-contraction kernel,
    * which converges on any topology. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 25): DataFrame =
    propagateMinLabels(symmetrize(pairs), nodes.select(col("node")), maxRounds)
      .getOrElse {
        log.warn(s"connectedComponents: no fixpoint within $maxRounds rounds " +
          "(component diameter exceeds cap); falling back to star contraction")
        connectedComponentsStar(nodes, pairs)
      }

  /** Components over ONLY the nodes that appear in `pairs` — the form
    * a dedup pipeline wants: dup pairs ≪ corpus, so the iterative
    * loop shuffles the touched subgraph, never the full document set.
    * Untouched docs are singleton components by definition; callers
    * left-join this result and `coalesce(lab, node)`. */
  def connectedComponentsOfPairs(pairs: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    val sym = symmetrize(pairs)
    // both endpoints appear as src after symmetrization
    val touched = sym.select(col("src").as("node")).distinct()
    propagateMinLabels(sym, touched, maxRounds).getOrElse {
      log.warn(s"connectedComponentsOfPairs: no fixpoint within $maxRounds " +
        "rounds; falling back to star contraction")
      connectedComponentsStar(touched, pairs)
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Eager localCheckpoint + the block-manager RDD ids it created, so
    * iterative loops can FREE a superseded round's blocks: checkpoint
    * blocks are invisible to the SQL cache (clearCache never drops
    * them), and a maxRounds-long loop would otherwise hold every
    * round's label/edge copy in memory simultaneously. */
  private[operators] def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = df.localCheckpoint()
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  private[operators] def freeBlocks(spark: SparkSession, ids: Set[Int]): Unit = {
    val sc = spark.sparkContext
    // Two-part discipline (round 18): first wait (bounded) for active
    // jobs to drain — an AQE stage-materialization future can outlive
    // the action that triggered it, and unpersisting a checkpoint it
    // still reads makes its tasks throw
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (truncated lineage cannot
    // recompute; a stale read is a task failure, not a cache miss) —
    // then BLOCKING removal, so the superseded round's blocks are
    // gone before the next round's job submits (the discipline Bench
    // applies between timed runs).
    graft.CacheHygiene.drainActiveJobs(spark)
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
  }

  /** (doc_a, doc_b) pairs → src-partitioned persisted symmetric edges. */
  private def symmetrize(pairs: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val p = pairs.select(col("doc_a"), col("doc_b"))
    p.unionAll(p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Min-label propagation loop. Convergence = unchanged (count,
    * bit_xor(xxhash64(node, lab))) fingerprint — order-independent and
    * collision-resistant, unlike a sum(lab), which wraps silently on
    * Long overflow at billion-node scale and could in principle alias
    * two distinct label states. Returns None when the round cap is
    * hit before the fixpoint (labels would be only partially
    * propagated — callers must NOT use them).
    *
    * One driver action per round (r19): the fingerprint rides the
    * checkpoint materialization as an accumulator over the SAME
    * xxhash64(node, lab) column the old separate agg job hashed —
    * count and XOR are order-independent, so the accumulated pair is
    * bit-identical to the agg's (and the round count, hence the
    * labels, unchanged). The hash column is burned into the
    * checkpoint (8 B/row/round, freed with the round) and selected
    * away before the frame is used, so downstream schema and the
    * per-round join/agg plan are untouched. */
  private def propagateMinLabels(sym: DataFrame, nodes: DataFrame,
      maxRounds: Int): Option[DataFrame] = {
    // checkpoint df and return (node, lab) + the (count, xor-of-hash)
    // fingerprint accumulated DURING the checkpoint's one job. The
    // identity UDF is nondeterministic so the optimizer can neither
    // collapse nor duplicate it; accumulator updates ride result-task
    // completions, which the scheduler applies exactly once per
    // partition (failed/duplicate attempts are dropped).
    def fpCheckpoint(df: DataFrame): (DataFrame, Set[Int], (Long, Long)) = {
      val acc = new graft.functions.XorCountAcc
      df.sparkSession.sparkContext.register(acc, "cc_fp")
      val tick = udf((h: Long) => { acc.add(h); h }).asNondeterministic()
      val (cp, ids) = checkpointTracked(
        df.withColumn("__fp", tick(xxhash64(col("node"), col("lab")))))
      (cp.select(col("node"), col("lab")), ids, acc.value)
    }
    var (labels, labelIds, prev) = fpCheckpoint(
      nodes.select(col("node"), col("node").as("lab")))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val (next, nextIds, cur) = fpCheckpoint(
        sym.join(labels, col("src") === col("node"))
          .select(col("dst").as("node"), col("lab"))
          .unionAll(labels)
          .groupBy(col("node")).agg(min(col("lab")).as("lab")))
      converged = cur == prev
      prev = cur
      // next is materialized (eager checkpoint): the superseded
      // round's blocks can go — the returned frame keeps only its own
      freeBlocks(labels.sparkSession, labelIds)
      labels = next
      labelIds = nextIds
      round += 1
    }
    if (converged) Some(labels) else None
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the published
    * O(log n)-round algorithm: label propagation needs DIAMETER
    * rounds, so a 10⁶-long chain needs 10⁶ shuffles; star contraction
    * needs ~log n. Each round: large-star hangs every strictly-larger
    * neighbor under its neighborhood minimum, small-star hangs the
    * node and its smaller neighbors under it; edges converge to star
    * graphs centered at component minima. Same contract as
    * `connectedComponents` — (node, lab) with lab = component min —
    * and the same random-graph union-find property test covers both.
    * Near-dup clusters are dense/low-diameter, so the simple kernel
    * wins there; THIS is the one that survives adversarial topology. */
  def connectedComponentsStar(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 15): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    def sym(df: DataFrame): DataFrame =
      df.unionAll(df.select(col("b").as("a"), col("a").as("b")))
        .select(col("a").as("u"), col("b").as("v"))
    def fp(df: DataFrame): (Long, Long) = {
      // set fingerprint: xor never overflows and is order-independent
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val w = Window.partitionBy(col("u"))
    var (edges, edgeIds) = checkpointTracked(
      canon(pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))))
    var prev = fp(edges)
    var converged = prev._1 == 0
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star: (v, m) for every neighbor v > u, m = min(N(u) ∪ u)
      val ls = sym(edges)
        .withColumn("m", least(col("u"), min(col("v")).over(w)))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
      val (e1, e1Ids) = checkpointTracked(canon(ls))
      // small-star: (v, m) for every neighbor v < u, plus (u, m)
      val withM = sym(e1).filter(col("v") < col("u"))
        .withColumn("m", least(col("u"), min(col("v")).over(w)))
      val ss = withM.select(col("v").as("a"), col("m").as("b"))
        .unionAll(withM.select(col("u").as("a"), col("m").as("b")).distinct())
      val (newEdges, newIds) = checkpointTracked(canon(ss))
      // newEdges is materialized: the intermediate e1 and the
      // superseded round's edges can both go
      freeBlocks(edges.sparkSession, e1Ids ++ edgeIds)
      edges = newEdges
      edgeIds = newIds
      val cur = fp(edges)
      converged = cur == prev || cur._1 == 0
      prev = cur
      round += 1
    }
    // cap exhaustion must FAIL, not mislabel: this kernel is the
    // last-resort fallback (propagateMinLabels already refused to
    // return partial labels), and labels computed from a non-star
    // edge set are silently wrong — the one thing worse than an error
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge within $maxRounds rounds; " +
        "raise maxRounds (rounds needed ~ O(log n))")
    // at convergence edges are (root, child) stars: label = min over
    // the symmetric neighborhood; isolated nodes label themselves
    val lab = sym(edges).groupBy(col("u").as("node"))
      .agg(min(col("v")).as("nmin"))
      .select(col("node"), least(col("node"), col("nmin")).as("lab"))
    nodes.join(lab, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("lab"), col("node")).as("lab"))
  }

  def pipelineDedupClusters(spark: SparkSession, dir: String): DataFrame =
    // components run on the touched subgraph only (dup pairs ≪ corpus
    // — at 100 TB the iterative loop must never shuffle the full
    // document set); untouched docs join back as singletons
    Tables.documents(spark, dir).select(col("doc_id").as("node"))
      .join(connectedComponentsOfPairs(fuzzyVerifiedPairs(spark, dir)),
        Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("lab"), col("node")).as("lab"))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("lab"))))
      .select(col("node").as("doc_id"), col("lab").as("cluster_id"),
        col("cluster_size"), (col("node") === col("lab")).as("keep"))
      .orderBy(col("doc_id"))

  private val pipelineDedupClustersSql =
    s"""WITH RECURSIVE $minhashCandidateCtes,
       |sets AS (SELECT doc_id, list_distinct($toksSql) AS s FROM documents),
       |verified AS (
       |  SELECT c.doc_a, c.doc_b FROM cand c
       |  JOIN sets a ON c.doc_a = a.doc_id
       |  JOIN sets b ON c.doc_b = b.doc_id
       |  WHERE cast(len(list_intersect(a.s, b.s)) as double)
       |      / len(list_distinct(a.s || b.s)) >= 0.8),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM verified
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM verified),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS lab FROM documents
       |  UNION
       |  SELECT r.node, s.dst AS lab FROM reach r JOIN sym s ON r.lab = s.src),
       |cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS keep
       |FROM cl ORDER BY doc_id""".stripMargin

  private val pipelineFuzzyDedupSql =
    s"""WITH $minhashCandidateCtes,
       |sets AS (SELECT doc_id, list_distinct($toksSql) AS s FROM documents)
       |SELECT c.doc_a, c.doc_b, c.n_shared_bands,
       |  ${rndSql("cast(len(list_intersect(a.s, b.s)) as double) / len(list_distinct(a.s || b.s))", 4)} AS jaccard
       |FROM cand c
       |JOIN sets a ON c.doc_a = a.doc_id
       |JOIN sets b ON c.doc_b = b.doc_id
       |WHERE cast(len(list_intersect(a.s, b.s)) as double)
       |    / len(list_distinct(a.s || b.s)) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- simhash
  /** (doc_id, lang, sh): 16-bit SimHash from md5 token hashes —
    * per-bit ±1 votes over the distinct token set. Linear in corpus
    * size; shared by the exact-pairwise and banded candidate paths.
    * The 16 per-bit votes are 16 aggregate expressions in ONE groupBy
    * pass (same no-bit-explode shape as the wide variant below — the
    * explode form multiplied the shuffle by 16 rows/token).
    * Persisted: every caller self-joins it (one row per doc). */
  /** Per-row simhash signature builder shared by the 16-bit and
    * 60-bit kernels: one md5 per DISTINCT token (`transform`), then
    * one `aggregate` fold per bit (±1 votes), reassembled into the
    * signature in a single projection. No explode, no groupBy —
    * signatures are a pure map over the corpus on any layout; the
    * only shuffle in a simhash dedup is the band equi-join. */
  private def simhashSigExpr(nBits: Int): String = {
    val votes = (0 until nBits).map { b =>
      s"(CASE WHEN aggregate(th, 0, (acc, h) -> acc + CASE WHEN shiftright(h, $b) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b}L ELSE 0L END)"
    }
    votes.mkString(" + ")
  }

  /** Public 16-bit simhash signature kernel over an ARBITRARY
    * documents frame (needs `doc_id`, `lang`, `text`) — entirely
    * per-row, zero shuffles (see simhashSigExpr). */
  def simhashSignatures(docs: DataFrame): DataFrame =
    // zero-token docs have no signature (the oracle omits them). The
    // filter runs on the RAW text (any non-whitespace char ⟺ ≥1
    // token) so its pushed-down copy is one cheap regex at the scan —
    // a size(t)>0 filter on the derived array would be pushed below
    // the project and recompute the whole tokenize chain per row.
    docs.filter(col("text").rlike("\\S"))
      .select(col("doc_id"), col("lang"), array_distinct(toks).as("t"))
      .withColumn("th", transform(col("t"), tok => md5Long(tok)))
      .select(col("doc_id"), col("lang"), expr(simhashSigExpr(16)).as("sh"))

  private def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    simhashSignatures(Tables.documents(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Near-dups = hamming ≤ 3 within a lang block, via per-lang
    * ALL-PAIRS comparison. O(n²/|langs|) — kept as the exact oracle
    * baseline for `dedup_simhash_banded`, the scale path. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhashSigs(spark, dir)
    val a = sh.select(col("doc_id").as("doc_a"), col("lang"), col("sh").as("ha"))
    val b = sh.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"), col("sh").as("hb"))
    a.join(b, col("lang") === col("lang_b") && col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("cast(bit_count(ha ^ hb) as int)"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // band b covers signature bits [bound(b), bound(b+1)) — near-equal
  // widths; ANY partition of the bits preserves the pigeonhole bound
  private def bandBounds(bits: Int, bands: Int): IndexedSeq[Int] =
    (0 to bands).map(b => b * bits / bands)

  /** Width in bits of the widest packed `agree`-band key (the sum of
    * the `agree` widest bands). */
  private def maxKeyBits(bits: Int, bands: Int, agree: Int): Int =
    bandBounds(bits, bands).sliding(2).map(p => p(1) - p(0)).toSeq
      .sorted.reverse.take(agree).sum

  /** The `agree`-subsets of `bands` bands in lex order — the order of
    * [[pigeonholeKeys]]' `sub` ids. */
  private def bandSubsets(bands: Int, agree: Int): Vector[Seq[Int]] =
    (0 until bands).combinations(agree).map(_.toSeq).toVector

  /** Validates a banding geometry and returns its `agree` (bands −
    * maxHamming): bits in [1, 64], 1 ≤ bands ≤ bits, 0 ≤ maxHamming <
    * bands, and every packed key ≤ 63 bits (which also rejects a single
    * 64-bit band, whose mask `(1L << 64) - 1` is 0). */
  private def bandingAgree(bits: Int, bands: Int, maxHamming: Int): Int = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    require(bands >= 1 && bands <= bits, s"bands must be in [1, $bits], got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole recall needs 0 <= maxHamming < bands, got $maxHamming vs $bands")
    val agree = bands - maxHamming
    require(maxKeyBits(bits, bands, agree) <= 63,
      s"packed $agree-band key must fit 63 bits, got ${maxKeyBits(bits, bands, agree)}")
    agree
  }

  /** The pigeonhole band keys of a `bits`-wide signature column — the
    * one key builder behind every banded near-dup join (text simhash,
    * image phash, video frame postings, the banding probe). The
    * signature splits into `bands` near-equal contiguous bands; with
    * hamming ≤ bands − agree at most that many bands differ, so ≥
    * `agree` bands match EXACTLY and one of the C(bands, agree)
    * lex-ordered subsets matches on all its bands. Each subset's band
    * bits are packed (first band highest) into one Long. Returns an
    * array of (sub, key) structs, `sub` the subset's lex index, for one
    * explode. `shiftright` is signed, but the mask after it keeps only
    * bits [lo, lo + width), so it equals an unsigned shift whenever
    * lo + width ≤ 64 — which every band satisfies, up to `bits` = 64. */
  private[graft] def pigeonholeKeys(sh: Column, bits: Int, bands: Int,
      agree: Int): Column = {
    bandingAgree(bits, bands, bands - agree)
    val bound = bandBounds(bits, bands)
    def band(b: Int): Column =
      shiftright(sh, bound(b)).bitwiseAND(lit((1L << (bound(b + 1) - bound(b))) - 1))
    array(bandSubsets(bands, agree).zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("sub"), s.tail.foldLeft(band(s.head)) { (acc, b) =>
        shiftleft(acc, bound(b + 1) - bound(b)).bitwiseOR(band(b))
      }.as("key"))
    }: _*)
  }

  /** PUBLIC banded-hamming kernel — the reusable 100 TB candidate
    * generator behind every simhash path. Input: (doc_id, block, sh)
    * rows — `block` is any coarse blocking key (lang here; pairs never
    * cross blocks), `sh` a `bits`-wide Long signature. With `bands`
    * bands and hamming ≤ maxHamming, at least `agree = bands −
    * maxHamming` bands match exactly, so an equi-join on (block, sub,
    * key) over the [[pigeonholeKeys]] has TOTAL recall and the exact
    * hamming filter removes false positives; the recall bound is
    * property-tested over random (bits, bands, maxHamming) configs in
    * PropertySpec. Candidate count ∝ key-bucket collisions, not n².
    * Trade: explode factor C(bands, agree) rows per doc vs collision
    * mass ∝ n²/2^(agree·width) — at 60 bits / hamming ≤ 4, the 6-band
    * agree-2 config pays 15 rows/doc (vs 5) for 2²⁰-bucket keys (vs
    * 2¹²). Which agree wins is a corpus property —
    * [[chooseBandingConfig]] measures both terms and
    * [[bandedHammingPairsAuto]] dispatches (at sf10 the natural corpus
    * stays agree-1, 63.3 s vs 160.1 s agree-2; at sf100 its saturated
    * buckets flip the probe to agree-2, 3.7× less candidate mass —
    * SCALING.md r16).
    *
    * Multi-key collisions dedup WITHOUT a shuffle: per candidate, one
    * XOR gives the band-match bitmask `bm` (bit b set ⟺ band b
    * identical), and the lex-FIRST matching subset is exactly the
    * `agree` LOWEST set bits of `bm`. A subset `s` IS the lowest-agree
    * bits of `bm` ⟺ `bm` restricted to [0, max(s)] equals s's mask —
    * both sides of that test are per-subset CONSTANTS, so the filter is
    * one CASE-pair lookup per candidate, O(bands) work at ANY agree
    * (at agree = 1 it is the "first matching band" rule). */
  def bandedHammingPairs(sigs: DataFrame, bits: Int, bands: Int,
      maxHamming: Int): DataFrame = {
    val agree = bandingAgree(bits, bands, maxHamming)
    val bound = bandBounds(bits, bands)
    val subsets = bandSubsets(bands, agree)
    val exploded = sigs.select(col("doc_id"), col("block"), col("sh"),
      explode(pigeonholeKeys(col("sh"), bits, bands, agree)).as("kd"))
      .select(col("doc_id"), col("block"), col("sh"),
        col("kd.sub").as("sub"), col("kd.key").as("kbits"))
    val a = exploded.select(col("doc_id").as("doc_a"), col("block"),
      col("sub"), col("kbits"), col("sh").as("ha"))
    val b = exploded.select(col("doc_id").as("doc_b"), col("block").as("block_b"),
      col("sub").as("sub_b"), col("kbits").as("kbits_b"), col("sh").as("hb"))
    // band-match bitmask over the pair's XOR: bit b ⟺ band b identical
    val xr = col("ha").bitwiseXOR(col("hb"))
    val bm = (0 until bands).map { b =>
      val mask = ((1L << (bound(b + 1) - bound(b))) - 1) << bound(b)
      when(xr.bitwiseAND(lit(mask)) === 0L, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    def perSubset(v: Seq[Int] => Long): Column =
      subsets.zipWithIndex.tail.foldLeft(when(col("sub") === 0, lit(v(subsets.head)))) {
        case (acc, (s, i)) => acc.when(col("sub") === i, lit(v(s)))
      }
    // bm restricted to bits [0, max(s)] must equal s's own mask
    val lexFirst = bm.bitwiseAND(perSubset(s => -1L >>> (63 - s.max))) ===
      perSubset(_.map(1L << _).reduce(_ | _))
    a.join(b,
        col("block") === col("block_b") && col("sub") === col("sub_b") &&
        col("kbits") === col("kbits_b") && col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(xr).cast("int"))
      .filter(col("hamming") <= maxHamming && lexFirst)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** [[bandedHammingPairs]] with a per-key document-frequency cap —
    * the winnowing/video hot-key discipline applied to the band-key
    * postings: any (block, sub, key) bucket held by more than
    * `bandDfCap` docs is corpus boilerplate whose c·(c−1)/2 candidate
    * mass the caller refuses to pay, and is dropped BEFORE the join.
    * NOT total recall: a pair whose every shared key is over-cap is
    * lost — calibrate the cap with [[Calibration.capProfile]] over the
    * postings this kernel builds and price the loss with
    * [[Calibration.recallAtCaps]] (minShared = 1 matches this kernel's
    * survival rule exactly) before choosing it over the lossless
    * agree-escalation of [[bandedHammingPairsAuto]]. MEASURED (r17,
    * `probe.SimhashProbe --cap 1024`, sf10 documents corpus, 60 bits /
    * 6 bands / hamming ≤ 4): recall 1.0000 — 15,536,528 of 15,536,528
    * uncapped pairs retained; no (sub, key) bucket exceeds df 1024 at
    * that SF, so the cap is pure insurance there (SCALING.md
    * round-17). Pair dedup here is a groupBy on (doc_a, doc_b) —
    * output-sized, not candidate-sized — because the lex-first
    * surviving subset is cap-dependent, so the mask trick above cannot
    * canonicalize. */
  def bandedHammingPairsCapped(sigs: DataFrame, bits: Int, bands: Int,
      maxHamming: Int, bandDfCap: Long): DataFrame = {
    val agree = bandingAgree(bits, bands, maxHamming)
    require(bandDfCap >= 2, s"a cap below 2 keeps no pair, got $bandDfCap")
    // df per key via a window on the join key itself: one shuffle,
    // reused by the join (same partitioning), never a second pass
    val exploded = sigs.select(col("doc_id"), col("block"), col("sh"),
      explode(pigeonholeKeys(col("sh"), bits, bands, agree)).as("kd"))
      .select(col("doc_id"), col("block"), col("sh"),
        col("kd.sub").as("sub"), col("kd.key").as("kbits"))
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("block"), col("sub"), col("kbits"))))
      .filter(col("df") <= bandDfCap)
      .drop("df")
    val a = exploded.select(col("doc_id").as("doc_a"), col("block"),
      col("sub"), col("kbits"), col("sh").as("ha"))
    val b = exploded.select(col("doc_id").as("doc_b"), col("block").as("block_b"),
      col("sub").as("sub_b"), col("kbits").as("kbits_b"), col("sh").as("hb"))
    a.join(b, col("block") === col("block_b") && col("sub") === col("sub_b") &&
        col("kbits") === col("kbits_b") && col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("cast(bit_count(ha ^ hb) as int)"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The probe's verdict, exposed so specs (and curious callers) can
    * see WHY a config was chosen, not just which: estimated costs are
    * in exploded-row units, scaled to the full corpus;
    * `massSingle`/`massSubset` are the measured (sample-rescaled)
    * collision masses the costs were built from — the raw evidence,
    * carried so bench telemetry can expose a verdict that a future
    * corpus would flip. Round 17 — the agree-k escalation (VERDICT
    * r16 #1): `agree` is the CHOSEN subset size (1 = single-band
    * keys; ≥ 2 = the C(maxHamming+agree, agree)-subset keys), and
    * `costByAgree`/`massByAgree` carry every candidate config's
    * measured point so the decade at which the next escalation fires
    * is visible in telemetry before it happens. `costSubset`/
    * `massSubset` remain the BEST subset config's numbers (the
    * pre-r17 fields compared agree-2 only). */
  case class BandingChoice(useSubset: Boolean,
      costSingle: Double, costSubset: Double,
      massSingle: Double = 0.0, massSubset: Double = 0.0,
      agree: Int = 1,
      costByAgree: Map[Int, Double] = Map.empty,
      massByAgree: Map[Int, Double] = Map.empty)

  /** Corpus-stat probe choosing the banding ESCALATION LADDER rung —
    * single-band (agree-1), agree-2, agree-3, … (up to `maxAgree`) —
    * for a (block, sh) signature frame: the vocab-probe dispatch
    * pattern (jaccard ladder, containment tiers) applied to banding
    * width, replacing per-corpus hand-tuning of the band constants.
    * EVERY candidate config produces IDENTICAL output (total recall
    * by pigeonhole + the same exact hamming filter), so the choice is
    * pure cost, and the cost model has two terms:
    *   cost ≈ explodedRows + W · candidatePairs
    * (agree-k: C(h+k, k) rows/doc; candidate mass ∝ Σ n_b²/2^(k·width)
    * once buckets saturate, so each rung trades a constant-factor
    * explode for an exponential selectivity gain — the 100 TB
    * contract SCALING.md r16 closed on: a fixed-width banded join is
    * quadratic past saturation, and the answer is to raise `agree`
    * with the corpus, which this probe now does automatically
    * (VERDICT r16 #1) instead of stopping at agree-2).
    * W CALIBRATION (round 10 — round 9 shipped W = 4, a guess that
    * mis-routed this very corpus): solving the two-term model against
    * the measured sf0.1 A/B (single-band 1.7 s at 300k exploded rows
    * / 1.28M bucket pairs; subset 5.3 s at 900k rows / 1.05M pairs)
    * gives a per-pair cost β ≈ 0 — statistically indistinguishable
    * from free, because a surviving candidate is one codegen'd
    * popcount+CASE in-core while an exploded row pays exchange
    * serialize/shuffle/probe — consistent with the round-8 sf10 A/B
    * (single 63.3 s vs subset 160.1 s at 3× the rows). W = 0.1 is
    * the conservative ceiling: it keeps every measured natural-corpus
    * point on the single-band branch at any mass scaling up to
    * n²-in-buckets, yet still routes the genuinely saturated regime
    * (one band ≈ one bucket, mass ≈ n²/2 ≫ rows — the planted
    * PropertySpec corpus) to the subset keys, which is the regime
    * agree ≥ 2 exists for.
    * candidatePairs per config is estimated WITHOUT forming pairs:
    * Σ c·(c−1)/2 over the config's key buckets — BOTH configs' keys
    * tagged and exploded in ONE count aggregate over a deterministic
    * xxhash64-keyed sample (≤ probeCap docs; collision mass scales
    * as f², exploded rows as f). The probe never materializes a
    * single pair, so its cost is one count plus one banding pass
    * over the sample — two driver jobs total. */
  def chooseBandingConfig(sigs: DataFrame, bits: Int, maxHamming: Int,
      probeCap: Long = 100000L, maxAgree: Int = 3): BandingChoice = {
    require(maxAgree >= 1, s"maxAgree must be >= 1, got $maxAgree")
    val n = sigs.count()
    val f = if (n <= probeCap) 1.0 else probeCap.toDouble / n
    // clamp to ≥ 1: at n > probeCap·1e6 the raw truncation hits 0 and
    // the sample silently empties (the probe would then always pick
    // single-band on exactly the corpora that need the probe). The
    // EFFECTIVE fraction is derived from the clamped threshold so the
    // mass rescale below matches what was actually sampled — rescaling
    // by the unclamped f² would inflate the mass term by (1e-6/f)²
    // past the clamp point and mis-route toward the subset kernel.
    val thresh = math.max(1L, (f * 1e6).toLong)
    val fEff = if (f >= 1.0) 1.0 else thresh.toDouble / 1e6
    val sample =
      if (f >= 1.0) sigs
      else sigs.filter(
        pmod(xxhash64(col("doc_id")), lit(1000000L)) < lit(thresh))
    // candidate configs: agree = k over maxHamming + k bands, for
    // every k ∈ [1, maxAgree] the geometry admits (bands fit the
    // signature, the packed agree-subset key fits a long, and the
    // C(bands, k) explode stays sane — past 128 keys/doc the explode
    // term alone exceeds any realistic mass saving at these widths)
    def feasible(k: Int): Boolean = {
      val bands = maxHamming + k
      bands <= bits && maxKeyBits(bits, bands, k) <= 63 &&
        bandSubsets(bands, k).size <= 128
    }
    val agrees = (1 to maxAgree).filter(feasible)
    require(agrees.contains(1), s"single-band config infeasible at bits=$bits")
    val keyCount: Map[Int, Int] =
      agrees.map(k => k -> bandSubsets(maxHamming + k, k).size).toMap
    // every config's keys, tagged by agree, in ONE explode + count pass
    val masses = sample
      .select(col("block"), explode(array(agrees.map { k =>
        struct(lit(k).as("cfg"),
          pigeonholeKeys(col("sh"), bits, maxHamming + k, k).as("keys"))
      }: _*)).as("c"))
      .select(col("block"), col("c.cfg").as("cfg"), explode(col("c.keys")).as("kd"))
      .groupBy(col("block"), col("cfg"), col("kd"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cfg"))
      .agg(coalesce(sum(col("c") * (col("c") - lit(1L)) / lit(2L)),
        lit(0L)).cast("double").as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    def mass(k: Int): Double = masses.getOrElse(k, 0.0) / (fEff * fEff)
    val W = 0.1
    def cost(k: Int): Double = keyCount(k).toDouble * n + W * mass(k)
    val costByAgree = agrees.map(k => k -> cost(k)).toMap
    val massByAgree = agrees.map(k => k -> mass(k)).toMap
    // argmin cost; ties break toward the SMALLER agree (less explode,
    // fewer shuffle rows at equal estimated cost)
    val best = agrees.minBy(k => (costByAgree(k), k))
    val subsetAgrees = agrees.filter(_ >= 2)
    val bestSubset = if (subsetAgrees.isEmpty) -1
      else subsetAgrees.minBy(k => (costByAgree(k), k))
    BandingChoice(best >= 2, costByAgree(1),
      if (bestSubset < 0) Double.PositiveInfinity else costByAgree(bestSubset),
      massByAgree(1),
      if (bestSubset < 0) 0.0 else massByAgree(bestSubset),
      best, costByAgree, massByAgree)
  }

  /** Rebuild the full [[BandingChoice]] from its persisted core
    * (chosen rung + per-rung cost/mass maps) — the same derivation of
    * the summary fields as [[chooseBandingConfig]]'s tail, so a
    * verdict loaded from disk is indistinguishable from a fresh
    * probe's. */
  private def choiceFromCore(best: Int, costByAgree: Map[Int, Double],
      massByAgree: Map[Int, Double]): BandingChoice = {
    val subsetAgrees = costByAgree.keys.filter(_ >= 2)
    val bestSubset = if (subsetAgrees.isEmpty) -1
      else subsetAgrees.minBy(k => (costByAgree(k), k))
    BandingChoice(best >= 2, costByAgree(1),
      if (bestSubset < 0) Double.PositiveInfinity else costByAgree(bestSubset),
      massByAgree.getOrElse(1, 0.0),
      if (bestSubset < 0) 0.0 else massByAgree.getOrElse(bestSubset, 0.0),
      best, costByAgree, massByAgree)
  }

  /** Probe verdicts recorded per (corpus root paths, bits, maxHamming)
    * for bench telemetry (VERDICT r10 #7, the containment
    * candidate-count precedent): the memoized dispatch means a flipped
    * verdict on a future corpus would otherwise be invisible outside
    * a memoized variable — Bench surfaces this map into
    * BENCH_DETAIL.json so the chosen config and its measured collision
    * masses ride in the tracked artifact. Keys are human-readable;
    * values are the full [[BandingChoice]]. */
  val bandingProbeTelemetry =
    new java.util.concurrent.ConcurrentHashMap[String, BandingChoice]()

  private def corpusPaths(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
    plan.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }.distinct

  private def corpusLabel(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String = {
    val paths = corpusPaths(plan)
    if (paths.isEmpty) s"plan#${plan.semanticHash()}" else paths.mkString(",")
  }

  /** Memoized probe verdicts, keyed on the signature frame's
    * CANONICALIZED logical plan (so two builds of the same frame —
    * same source paths, same expressions — share one entry; a
    * different corpus dir is a different relation and misses) plus
    * (bits, maxHamming). The banding choice is a per-corpus
    * property, not a per-query one: round 9 re-ran the probe's
    * driver-blocking jobs inside every registered simhash query and
    * paid a deterministic 2.4-2.7× on both — this cache restores
    * steady-state cost to the bare kernel while keeping the dispatch
    * automatic. CAVEAT: the key is the PLAN, not the data — if the
    * files under a corpus path are regenerated in place within one
    * JVM, the unchanged plan serves the stale verdict. Cost-only
    * either way (both configs are total-recall), accepted for a
    * bench/ETL process where inputs are immutable per run. Bounded
    * at [[BandingCacheMax]] entries with access-ordered LRU eviction
    * (VERDICT r17 wart #1: the former wholesale clear() meant one
    * overflow evicted EVERY corpus's verdict and the next touch of
    * each re-paid its probe — the same defect the r16 schema registry
    * fixed; each entry retains a LogicalPlan graph, so the bound also
    * caps plan retention across a long-lived JVM probing many
    * corpora). Synchronized wrapper: access-ordered get() mutates the
    * map, so even reads need the lock. */
  private val BandingCacheMax = 64
  private[graft] val bandingChoiceCache: java.util.Map[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int), BandingChoice] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int), BandingChoice](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int), BandingChoice]): Boolean =
          size() > BandingCacheMax
      })

  /** Count of actual probe passes (sampled count jobs) run by
    * [[chooseBandingConfig]] via the auto dispatch — lets specs assert
    * that the memo/verdict-file layers actually short-circuit the
    * probe rather than re-running it. */
  private[graft] val bandingProbeRuns = new java.util.concurrent.atomic.AtomicLong()

  /** Fingerprint of the corpus files behind a signature frame: per
    * root path, recursive (file count, total bytes) — the
    * [[graft.Tables.sourceFingerprint]] granularity (any rewrite of an
    * immutable-write parquet dir changes sizes/counts; mtimes excluded
    * so byte-identical copies match). Empty-path plans (in-memory
    * frames) return None: no files → nothing to invalidate a persisted
    * verdict against, so those stay JVM-memoized only. */
  private[graft] def corpusFingerprint(spark: SparkSession,
      paths: Seq[String]): Option[String] =
    if (paths.isEmpty) None
    else try {
      val conf = spark.sparkContext.hadoopConfiguration
      Some(paths.sorted.map { p0 =>
        val p = new org.apache.hadoop.fs.Path(p0)
        val fs = p.getFileSystem(conf)
        var n = 0L
        var bytes = 0L
        // xor of per-file (path, len, mtime) hashes: a corpus
        // regenerated in-place to the same file count and total bytes
        // but different content no longer reads as unchanged (VERDICT
        // r18 item 7 — the stale verdict only mis-costs, never
        // mis-answers, but it defeats the probe's purpose). mtime is
        // the cheap content proxy the FileStatus already carries;
        // order-independent xor keeps the walk order irrelevant. The
        // path keeps equal-size, equal-mtime files from hashing alike
        // and cancelling each other out of the xor.
        var mix = 0L
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile) {
            n += 1; bytes += st.getLen
            mix ^= scala.util.hashing.MurmurHash3.stringHash(
              s"${st.getPath}:${st.getLen}@${st.getModificationTime}").toLong
          }
        }
        s"$n:$bytes:$mix"
      }.mkString(";"))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def verdictFilePath(spark: SparkSession, label: String, bits: Int,
      maxHamming: Int): org.apache.hadoop.fs.Path = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$label|bits=$bits|h=$maxHamming".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"graft_banding_$tag.verdict")
  }

  /** Load a persisted probe verdict if one exists AND its recorded
    * corpus fingerprint still matches; best-effort (any IO/parse
    * problem reads as "no verdict"). File format (one verdict per
    * (corpus paths, bits, h), under the warehouse dir like the
    * co-order layout manifest): line 1 fingerprint, line 2 chosen
    * rung, lines 3/4 the per-rung cost/mass maps as k=v CSV. */
  private[graft] def loadBandingVerdict(spark: SparkSession, label: String,
      bits: Int, maxHamming: Int, fp: String): Option[BandingChoice] =
    try {
      val vf = verdictFilePath(spark, label, bits, maxHamming)
      val fs = vf.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(vf)) None
      else {
        val in = fs.open(vf)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            .split("\n").toSeq
          finally in.close()
        def parseMap(s: String): Map[Int, Double] =
          s.split(",").filter(_.nonEmpty)
            .map { kv => val Array(k, v) = kv.split("="); k.toInt -> v.toDouble }
            .toMap
        if (lines.size < 4 || lines.head.trim != fp) None // stale or malformed
        else {
          val cost = parseMap(lines(2).trim)
          if (!cost.contains(1)) None
          else Some(choiceFromCore(lines(1).trim.toInt, cost,
            parseMap(lines(3).trim)))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Persist a probe verdict (best-effort): staged to a `.tmp` then
    * renamed, so readers never see a torn file. Doubles round-trip via
    * `Double.toString`. */
  private[graft] def saveBandingVerdict(spark: SparkSession, label: String,
      bits: Int, maxHamming: Int, fp: String, c: BandingChoice): Unit =
    try {
      val vf = verdictFilePath(spark, label, bits, maxHamming)
      val fs = vf.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(vf.getParent)) fs.mkdirs(vf.getParent)
      val tmp = new org.apache.hadoop.fs.Path(vf.getParent,
        vf.getName + s".tmp.${java.util.UUID.randomUUID()}")
      def fmt(m: Map[Int, Double]): String =
        m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
      val out = fs.create(tmp, true)
      try out.write(
        s"$fp\n${c.agree}\n${fmt(c.costByAgree)}\n${fmt(c.massByAgree)}\n"
          .getBytes("UTF-8"))
      finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri,
        spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, fs.makeQualified(vf),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** [[bandedHammingPairs]] with the config probe-chosen by
    * [[chooseBandingConfig]] instead of hand-fixed: same output
    * whichever agree wins (every config is total-recall for
    * hamming ≤ maxHamming and applies the same exact filter), so
    * oracles are untouched — only the candidate-generation cost
    * moves. The probe runs ONCE per (corpus frame, bits, maxHamming)
    * per JVM ([[bandingChoiceCache]]) — and, for file-backed corpora,
    * once per corpus LIFETIME across JVMs: the verdict is persisted
    * under the warehouse dir keyed by the corpus fingerprint
    * (VERDICT r17 missing #4 — a fresh session at sf100 used to
    * re-pay a ~2-4 s three-rung probe that a previous session had
    * already run; regenerated data changes the fingerprint and
    * re-probes). Repeat invocations pay only the kernel. */
  def bandedHammingPairsAuto(sigs: DataFrame, bits: Int,
      maxHamming: Int): DataFrame = {
    val key = (sigs.queryExecution.analyzed.canonicalized, bits, maxHamming)
    // get-then-put rather than computeIfAbsent: the synchronized map's
    // computeIfAbsent would hold the cache lock across the probe's
    // multi-second Spark jobs, blocking every other query's cache read.
    // The benign race (two first-callers both probe, same verdict, one
    // duplicate cost) is the cheaper failure mode.
    val cached = bandingChoiceCache.get(key)
    val choice = if (cached != null) cached else {
      val spark = sigs.sparkSession
      val label = corpusLabel(sigs.queryExecution.analyzed)
      val fp = corpusFingerprint(spark, corpusPaths(sigs.queryExecution.analyzed))
      val fromDisk = fp.flatMap(loadBandingVerdict(spark, label, bits, maxHamming, _))
      val c = fromDisk.getOrElse {
        bandingProbeRuns.incrementAndGet()
        val fresh = chooseBandingConfig(sigs, bits, maxHamming)
        fp.foreach(saveBandingVerdict(spark, label, bits, maxHamming, _, fresh))
        fresh
      }
      bandingChoiceCache.put(key, c)
      c
    }
    bandingProbeTelemetry.put(
      s"${corpusLabel(sigs.queryExecution.analyzed)}|bits=$bits|h=$maxHamming",
      choice)
    bandedHammingPairs(sigs, bits, maxHamming + choice.agree, maxHamming)
  }

  /** 16-bit banded demo — the pigeonhole proof at toy width: the same
    * pairs as `dedup_simhash` (PlanShapeSpec asserts equality with the
    * all-pairs baseline) via the parameterized kernel at 4 bands of 4
    * bits, hamming ≤ 3. NOT the registered scale path since round 7:
    * a 4-bit band has only 16 buckets, so on a growing corpus every
    * bucket fills and candidates → n²/16 (measured 22× for 10× data
    * at sf1). Kept public as the spec/demo kernel; the registered
    * `dedup_simhash_banded` routes to the 60-bit config below. */
  def dedupSimhashBanded16(spark: SparkSession, dir: String): DataFrame =
    bandedHammingPairs(
      simhashSigs(spark, dir).select(col("doc_id"), col("lang").as("block"), col("sh")),
      bits = 16, bands = 4, maxHamming = 3)

  /** The registered banded-simhash query — since round 7 this IS the
    * 60-bit/5×12-band production config ([[dedupSimhashWide]]): 4096
    * buckets per band keep candidate collisions ∝ true near-dups at
    * any corpus size, where the former 16-bit config saturated (16
    * buckets/band → candidates ~ n²/2¹⁶, 22× cost for 10× data). The
    * name is kept — a user asking for "banded simhash dedup" must get
    * the plan that survives 100×; `dedup_simhash_wide` stays
    * registered under its historical name for bench continuity (same
    * kernel, same oracle — a documented alias, not extra surface).
    * The 16-bit pigeonhole demo lives on as [[dedupSimhashBanded16]],
    * spec-proven equal to the all-pairs `dedup_simhash` baseline. */
  def dedupSimhashBanded(spark: SparkSession, dir: String): DataFrame =
    dedupSimhashWide(spark, dir)

  private val dedupSimhashSql =
    s"""WITH tokh AS (
       |  SELECT doc_id, lang, unnest(list_distinct($toksSql)) AS tok
       |  FROM documents),
       |th AS (SELECT doc_id, lang, ${md5LongSql("tok")} AS th FROM tokh),
       |votes AS (
       |  SELECT doc_id, lang, b.bit,
       |    sum(CASE WHEN (th >> b.bit) % 2 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th CROSS JOIN (SELECT unnest(range(0, 16)) AS bit) b
       |  GROUP BY doc_id, lang, b.bit),
       |sh AS (
       |  SELECT doc_id, lang,
       |    cast(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) as bigint) AS sh
       |  FROM votes GROUP BY doc_id, lang)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  cast(bit_count(xor(a.sh, b.sh)) as int) AS hamming
       |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- simhash wide
  /** 60-bit SimHash (full md5Long width) with 5×12-bit bands — the
    * signature width the 100 TB path actually uses. Where the 16-bit
    * toy signature has only 16 buckets per 4-bit band (weak
    * selectivity on a dup-dense corpus), 12-bit bands give 4096
    * buckets each, so candidate collisions ≈ true near-dups.
    * Pigeonhole: hamming ≤ 4 over 5 bands ⇒ ≥ 1 exact band match —
    * total recall against the exact-pairwise oracle below.
    *
    * The per-bit votes are 60 aggregate expressions in ONE groupBy
    * pass (no bit-explode — the 16-bit form's explode would cost
    * 60 rows/token here); the signature reassembles from the vote
    * columns in a single projection. */
  private val WideBits = 60
  private val WideBands = 5 // 12 bits each; hamming <= WideBands - 1
  // Past this corpus size the 5×12 single-band buckets saturate
  // (measured ≈22× cost for 10× data crossing sf1 → sf10) and the
  // 6-band agree-2 subset join takes over: same hamming ≤ 4 output
  // (one oracle), 2²⁰-bucket keys for a 3× explode.
  // Round-8 A/B at sf10 (500k docs, isolated min-of-2 runs): the
  // single-band 5×12 join measures 63.3 s, the 6-band agree-2 subset
  // join 160.1 s — the round-7 "band buckets saturating" hypothesis
  // for the 84.5 s sf10 reading was WRONG about where the time goes:
  // candidate verification is not the dominant term on this corpus,
  // the banding explode + shuffle mass is, so tripling the exploded
  // rows (15 subset keys/doc vs 5 bands/doc) costs 2.5× however few
  // candidates survive. The registered query therefore stays on the
  // agree-1 config at every SF; agree ≥ 2 (the same
  // [[bandedHammingPairs]] kernel) remains the property-tested option
  // for corpora where collision mass genuinely dominates (dup-dense
  // buckets, higher maxHamming, narrower signatures).
  // Round 9: the choice is no longer a hand-fixed literal — the
  // registered query dispatches through [[chooseBandingConfig]]'s
  // collision-mass probe, which on THIS corpus picks the same
  // single-band config the A/B measured as the winner (and on a
  // planted dup-dense corpus picks the subset join — PropertySpec).
  // Output is identical either way, so the oracle is untouched.
  // Round 16: the dispatch fired its first natural flip — at sf100
  // (5 M docs) the probe measured 5.80 B single-band vs 1.56 B
  // agree-2 candidate mass and chose the subset join (SCALING.md).
  // Round 17 (VERDICT r16 #1): the ladder no longer stops at
  // agree-2 — the probe prices agree-3 in the same pass, so the
  // NEXT saturation decade escalates the subset width (2²⁶-bucket
  // keys for a 35/15 explode step) instead of going quadratic;
  // `probe.SimhashProbe` (test scope) reproduces the decomposition
  // on any corpus.
  def dedupSimhashWide(spark: SparkSession, dir: String): DataFrame =
    bandedHammingPairsAuto(
      simhashWideSigsForProbe(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), // self-joined
      bits = WideBits, maxHamming = WideBands - 1)

  /** The wide-simhash signature frame (doc_id, block, sh):
    * [[dedupSimhashWide]]'s input, exposed for the banding probe and
    * specs. */
  def simhashWideSigsForProbe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").rlike("\\S")) // cheap raw-text form of size(t)>0 (see simhashSignatures)
      .select(col("doc_id"), col("lang"), array_distinct(toks).as("t"))
      .withColumn("th", transform(col("t"), tok => md5Long(tok)))
      .select(col("doc_id"), col("lang").as("block"), expr(simhashSigExpr(WideBits)).as("sh"))

  private val dedupSimhashWideSql = {
    val votes = (0 until WideBits)
      .map(b => s"sum(CASE WHEN (th >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val shExpr = (0 until WideBits)
      .map(b => s"(CASE WHEN v$b > 0 THEN 1::BIGINT << $b ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tokh AS (
       |  SELECT doc_id, lang, unnest(list_distinct($toksSql)) AS tok
       |  FROM documents),
       |th AS (SELECT doc_id, lang, ${md5LongSql("tok")} AS th FROM tokh),
       |votes AS (
       |  SELECT doc_id, lang,
       |    $votes
       |  FROM th GROUP BY doc_id, lang),
       |sh AS (SELECT doc_id, lang, $shExpr AS sh FROM votes)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  cast(bit_count(xor(a.sh, b.sh)) as int) AS hamming
       |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= ${WideBands - 1}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- embedding
  /** Embedding-cosine near-dup pairs within label blocks — the exact
    * ALL-PAIRS baseline (O(n²/|labels|)): registered as
    * `dedup_embedding_exact` since round 7, the oracle/spec reference
    * the cluster-scoped `dedup_embedding` (Similarity.scala) is
    * measured against. Not the scale path — 10× vectors per label
    * block → 100× pairs (measured 36.7× at sf1). All float math is
    * double-cast element-wise with a sequential left fold —
    * bit-identical on both engines, so the threshold is exact.
    *
    * Why no total-recall banding exists at this threshold (measured,
    * round 7): EVERY qualifying pair on this corpus lies in cos ∈
    * [0.3, 0.5) with the nearest non-qualifier at 0.29998 — the
    * continuous tail of the random-pair distribution, not a planted
    * high-cos dup band. At τ = 0.3 (θ = 72.5°), a k-bit hyperplane
    * band agrees on a boundary pair with probability 0.597^k, so any
    * banding with ≥ 90% recall at the boundary admits ≈ half of ALL
    * pairs as candidates — all-pairs in disguise. Exactness at scale
    * therefore costs n²; the registered query bounds the compare
    * scope by clustering instead (SemDeDup's trade). */
  def dedupEmbeddingExact(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        // codegen'd native array cast (see Similarity.vecs)
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val a = e.select(col("vec_id").as("vec_a"), col("label"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("label").as("label_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos",
        VectorFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.3)
      .select(col("vec_a"), col("vec_b"), rnd(col("cos"), 6).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val dedupEmbeddingSql =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> cast(x as double)) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nrm
       |  FROM e)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${rndSql("list_reduce(list_transform(a.v, (x, i) -> x * b.v[i]), (x, y) -> x + y) / (a.nrm * b.nrm)", 6)} AS cos_sim
       |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE list_reduce(list_transform(a.v, (x, i) -> x * b.v[i]), (x, y) -> x + y)
       |    / (a.nrm * b.nrm) >= 0.3
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- chunk dedup
  /** Disjoint-chunk width for [[dedupChunk]]: 8 tokens ≈ the
    * granularity at which the synthetic docs (10-100 tokens) show
    * shared spans without every doc colliding. */
  private val ChunkLen = 8

  /** Duplicated-span share — the practical approximation of exact
    * substring dedup (the RefinedWeb/MassiveText curation pass that
    * catches boilerplate and templated spans EXACT-doc dedup misses):
    * each document's token stream is cut into disjoint [[ChunkLen]]
    * -token chunks; a chunk occurrence is duplicated iff its content
    * appears anywhere else in the corpus (including elsewhere in the
    * same document). Per doc: chunk count, duplicated count, share —
    * the score a pipeline thresholds to drop or trim docs.
    *
    * Plan shape: chunks are a per-row expression (transform over a
    * static index range, NO explode before hashing), so the exploded
    * frame carries (doc_id, md5) only — 16 bytes of content per chunk
    * regardless of chunk text. Corpus-wide occurrence counts are one
    * groupBy on the chunk hash; the count joins back on the same key
    * (co-partitioned with the aggregate — AQE plans the join off the
    * shuffle already keyed by ck); per-doc stats are one more
    * aggregate. Three exchanges total, all ∝ chunk count — the
    * minimal shape for corpus-wide span statistics. The full 128-bit
    * md5 is the join key: at 100 TB chunk counts pass 2^40, where a
    * 60-bit key would birthday-collide. */
  /** PUBLIC kernel: per-doc duplicated-span stats for any (doc_id,
    * text) frame — docs shorter than `chunkLen` tokens have no full
    * chunk and are absent from the output.
    *
    * `cache` persists the exploded chunk frame so the occurrence
    * count and the join probe share one tokenize+hash pass — right
    * for one-shot use, but the entry lives until the session ends;
    * long-lived per-batch callers should pass `cache = false`
    * (chunking then runs twice, deterministically — see the
    * decodeSplit release-handle precedent). */
  def chunkDupStats(docs: DataFrame, chunkLen: Int,
      cache: Boolean = true): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(chunkLen >= 1, s"chunkLen must be >= 1, got $chunkLen")
    val chunkArr = expr(
      s"""CASE WHEN size(t) >= $chunkLen THEN
         |  transform(sequence(0, size(t) div $chunkLen - 1),
         |    j -> md5(concat_ws(' ', slice(t, j * $chunkLen + 1, $chunkLen))))
         |ELSE array() END""".stripMargin)
    val chunks0 = docs
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), explode(chunkArr).as("ck"))
    val chunks = // occurrence counts + join probe reuse one pass
      if (cache) chunks0.persist(StorageLevel.MEMORY_AND_DISK) else chunks0
    val counts = chunks.groupBy(col("ck")).agg(count(lit(1)).as("cnt"))
    chunks.join(counts, "ck")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        rnd(sum(when(col("cnt") >= 2, 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("dup_share"))
  }

  def dedupChunk(spark: SparkSession, dir: String): DataFrame =
    chunkDupStats(Tables.documents(spark, dir), ChunkLen)
      .orderBy(col("doc_id"))

  private val dedupChunkSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |ch AS (
       |  SELECT doc_id,
       |    md5(array_to_string(tk[j * $ChunkLen + 1 : j * $ChunkLen + $ChunkLen], ' ')) AS ck
       |  FROM (SELECT doc_id, tk,
       |          unnest(range(0, len(tk) // $ChunkLen)) AS j FROM t)),
       |c AS (SELECT ck, count(*) AS cnt FROM ch GROUP BY ck)
       |SELECT ch.doc_id,
       |  cast(count(*) as bigint) AS n_chunks,
       |  cast(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) as bigint) AS n_dup_chunks,
       |  ${rndSql("cast(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) as double) / count(*)", 6)} AS dup_share
       |FROM ch JOIN c USING (ck)
       |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin

  // ---------------------------------------------------------------- paragraph dedup
  /** Paragraph-level dedup — the NATURAL-boundary tier of the span
    * ladder (fixed chunks 38a, content-defined chunks 38a-cdc, token
    * shingles 38a'), and the pass published pipelines actually run
    * first (Dolma's paragraph dedup, CCNet's line dedup): repeated
    * boilerplate — cookie banners, nav footers, license headers —
    * recurs as WHOLE paragraphs, so the paragraph is the unit that
    * catches it without any window parameter. This is the APPLY form:
    * every non-FIRST corpus-wide occurrence of a paragraph is cut and
    * the document rebuilt from its kept paragraphs in order ("first"
    * = minimal (doc_id, paragraph index) — a total order both engines
    * share; a doc whose every paragraph appeared earlier rebuilds to
    * the empty string rather than vanishing).
    *
    * Plan: one posexplode of '\n'-paragraphs; first-occurrence table
    * = groupBy md5(para) min(packed position) with map-side combine
    * (∝ DISTINCT paragraphs); the probe joins back on the same md5
    * key (AQE reuses the keyed shuffle); rebuild is one per-doc
    * aggregate of the kept (idx, para) structs. Three exchanges, all
    * ∝ paragraph mass — the dedup_chunk shape with the rebuild
    * aggregate on top. packed = doc_id·2²⁰ + idx assumes < 2²⁰
    * paragraphs per doc (a million '\n' blocks — far past any real
    * document; stated, not silently wrong: idx past the bound would
    * bleed into the next doc_id's range) and keeps the order key one
    * long. */
  def paragraphDedup(docs: DataFrame, cache: Boolean = true): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val paras0 = docs
      .select(col("doc_id"),
        filter(split(col("text"), "\n"), p => p =!= "").as("ps"))
      .select(col("doc_id"), posexplode(col("ps")).as(Seq("idx", "para")))
      .select(col("doc_id"), col("idx"), col("para"),
        md5(col("para")).as("ph"),
        (col("doc_id") * lit(1048576L) + col("idx")).as("packed"))
    val paras = // first-occurrence table + probe share one split pass
      if (cache) paras0.persist(StorageLevel.MEMORY_AND_DISK) else paras0
    val firsts = paras.groupBy(col("ph")).agg(min(col("packed")).as("kp"))
    paras.join(firsts, "ph")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("packed") === col("kp"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws("\n",
          transform(
            array_sort(collect_list(
              when(col("packed") === col("kp"),
                struct(col("idx"), col("para"))))),
            s => s.getField("para"))).as("text"))
  }

  def dedupParagraph(spark: SparkSession, dir: String): DataFrame =
    paragraphDedup(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  private val dedupParagraphSql =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, chr(10)), p -> p <> '')
      |      AS ps
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, unnest(range(1, len(ps) + 1)) AS i, ps FROM d),
      |p AS (
      |  SELECT doc_id, i - 1 AS idx, ps[i] AS para,
      |    doc_id * 1048576 + (i - 1) AS packed
      |  FROM x),
      |f AS (SELECT para, min(packed) AS kp FROM p GROUP BY para)
      |SELECT p.doc_id,
      |  cast(count(*) as bigint) AS n_paras,
      |  cast(sum(CASE WHEN packed = kp THEN 1 ELSE 0 END) as bigint)
      |    AS n_kept,
      |  coalesce(string_agg(CASE WHEN packed = kp THEN para END, chr(10)
      |    ORDER BY idx), '') AS text
      |FROM p JOIN f USING (para)
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  // ---------------------------------------------------------------- CDC chunks
  /** Expected CDC chunk length (tokens): a token starts a new chunk
    * iff its salted md5 ≡ 0 (mod this) — comparable granularity to
    * [[dedupChunk]]'s fixed 8-token chunks. */
  private val CdcModulus = 8

  /** Content-defined chunking dedup — the storage-dedup / long-doc
    * answer to fixed chunking's alignment fragility (Muthitacharoen
    * et al., LBFS, SOSP 2001): chunk boundaries are decided by LOCAL
    * CONTENT (a token whose salted hash ≡ 0 mod m starts a new
    * chunk), so inserting one token early in a document shifts only
    * the chunk it lands in — boundaries re-synchronize at the next
    * boundary token, and every later chunk still matches its twin.
    * Fixed chunks shift EVERY subsequent chunk's content by one
    * token and lose them all (the planted spec measures exactly
    * this). Same per-doc stats surface as `dedup_chunk`
    * (n_chunks / n_dup_chunks / dup_share) so the two tiers are
    * directly comparable.
    *
    * Plan: chunk assembly is a PER-ROW `aggregate` expression over
    * the token array (a left fold: boundary token → close the open
    * chunk, start a new one), mirroring [[chunkDupStats]]'s
    * no-explode-before-hash shape — the chunking itself costs zero
    * exchanges and no per-doc window sort (the first cut of this
    * operator paid explode + window + collect_list and ran 3×
    * slower). The exploded frame carries (doc_id, 16-byte md5) only;
    * downstream is the shared corpus-count + probe-join + per-doc
    * aggregate, all exchanges ∝ chunk count. Chunk keys dedupe
    * across docs at ANY offset — no alignment assumption anywhere. */
  def cdcChunkStats(docs: DataFrame, modulus: Int = CdcModulus): DataFrame = {
    def closed(done: Column, cur: Column): Column =
      when(cur === "", done).otherwise(array_append(done, cur))
    val chunkArr = transform(
      aggregate(
        toks,
        struct(array().cast("array<string>").as("done"), lit("").as("cur")),
        (acc, x) => {
          val (done, cur) = (acc.getField("done"), acc.getField("cur"))
          val boundary =
            pmod(md5Long(concat(lit("cdc:"), x)), lit(modulus)) === 0
          when(boundary, struct(closed(done, cur).as("done"), x.as("cur")))
            .otherwise(struct(done.as("done"),
              when(cur === "", x).otherwise(concat(cur, lit(" "), x))
                .as("cur")))
        },
        acc => closed(acc.getField("done"), acc.getField("cur"))),
      c => md5(c))
    val chunks = docs.select(col("doc_id"), explode(chunkArr).as("ck"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = chunks.groupBy(col("ck")).agg(count(lit(1)).as("cnt"))
    chunks.join(counts, "ck")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_share",
        rnd(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
  }

  def dedupCdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunkStats(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  private val dedupCdcChunksSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |p AS (
       |  SELECT doc_id, unnest(tk) AS tok,
       |    generate_subscripts(tk, 1) AS pos
       |  FROM t),
       |b AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN ${md5LongSql("'cdc:' || tok")} % $CdcModulus = 0
       |      THEN 1 ELSE 0 END AS ib
       |  FROM p),
       |cid AS (
       |  SELECT doc_id, pos, tok,
       |    sum(ib) OVER (PARTITION BY doc_id ORDER BY pos) AS cid
       |  FROM b),
       |ch AS (
       |  SELECT doc_id, cid,
       |    md5(string_agg(tok, ' ' ORDER BY pos)) AS ck
       |  FROM cid GROUP BY doc_id, cid),
       |c AS (SELECT ck, count(*) AS cnt FROM ch GROUP BY ck)
       |SELECT ch.doc_id,
       |  cast(count(*) as bigint) AS n_chunks,
       |  cast(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) as bigint) AS n_dup_chunks,
       |  ${rndSql("cast(sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) as double) / count(*)", 6)} AS dup_share
       |FROM ch JOIN c USING (ck)
       |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin

  // ---------------------------------------------------------------- substring dedup
  /** Sliding-shingle width for [[dedupSubstring]] — same span
    * granularity as [[ChunkLen]] so the two operators' scores are
    * directly comparable: a duplicated span of ≥ 8 tokens is ALWAYS
    * caught here, whereas `dedup_chunk` only sees it when it happens
    * to align with an 8-token chunk boundary. */
  private[operators] val SubstrLen = 8

  /** EXACT duplicated-substring coverage — the RefinedWeb/MassiveText
    * curation pass that [[chunkDupStats]] approximates with disjoint
    * chunks. A token position is duplicated iff it lies inside SOME
    * k-token window whose content appears ≥ 2 times anywhere in the
    * corpus (any offset, any doc, including elsewhere in the same
    * doc). Because shingles are taken at EVERY offset, a copied span
    * of length ≥ k is detected no matter how it straddles chunk
    * boundaries — the exact form `dedup_chunk`'s scaladoc declares
    * out of reach for its disjoint-chunk approximation (planted
    * proof: PipelinesSpec "boundary-straddling span").
    *
    * Plan shape (three exchanges, all linear in token count):
    * 1. shingle hashes are a per-row expression (transform over a
    *    static index range, no explode before hashing) → posexplode
    *    carries (doc_id, offset, 16-byte md5) only;
    * 2. corpus-wide occurrence counts = one groupBy on the shingle
    *    hash; the probe joins back on the same key (co-partitioned
    *    with the aggregate under AQE);
    * 3. coverage = duplicated shingles exploded to their k covered
    *    positions → distinct (doc_id, pos) → per-doc count. The ×k
    *    explode bills DUPLICATED shingles only — on a mostly-clean
    *    corpus the dominant cost stays the linear shingle pass.
    *    (The explode-free alternative — sort offsets per doc and
    *    merge intervals with a lag window — saves that factor when
    *    dup density is high, at the price of a per-doc sort; the
    *    distinct form is chosen because it needs no window over
    *    skewed doc sizes.)
    * vs the chunk pass: ~k× more shingle rows (every offset instead
    * of every k-th) — the price of exactness, still linear. The full
    * 128-bit md5 is the key for the same birthday-bound reason as
    * [[chunkDupStats]]. Docs shorter than k tokens have no window
    * and are absent, matching the chunk operator's contract. */
  /** The duplicated-shingle offsets frame shared by the coverage
    * operator below and the span-structure operator
    * ([[substringDupSpans]]): (doc_id, j) for every k-token window
    * at offset j whose content appears ≥ 2 times in the corpus. */
  private def duplicatedOffsets(docs: DataFrame, k: Int,
      cache: Boolean): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(k >= 1, s"k must be >= 1, got $k")
    val shArr = expr(
      s"""transform(sequence(0, size(t) - $k),
         |  j -> md5(concat_ws(' ', slice(t, j + 1, $k))))""".stripMargin)
    val base = docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), posexplode(shArr).as(Seq("j", "sk")))
    val shingles = // occurrence counts + join probe share one pass
      if (cache) base.persist(StorageLevel.MEMORY_AND_DISK) else base
    val counts = shingles.groupBy(col("sk")).agg(count(lit(1)).as("cnt"))
    shingles.join(counts, "sk").filter(col("cnt") >= 2)
      .select(col("doc_id"), col("j"))
  }

  def substringDupStats(docs: DataFrame, k: Int,
      cache: Boolean = true): DataFrame = {
    val dup = duplicatedOffsets(docs, k, cache)
    val covered = dup
      .select(col("doc_id"),
        explode(sequence(col("j"), col("j") + lit(k - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_tokens"))
    docs.select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= k)
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        rnd(coalesce(col("n_dup_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_token_share"))
  }

  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    substringDupStats(Tables.documents(spark, dir), SubstrLen)
      .orderBy(col("doc_id"))

  /** The APPLY form of exact substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022: keep ONE
    * occurrence of each duplicated span, EXCISE the rest): every
    * k-shingle occurrence whose content appears ≥ 2 times is
    * REDUNDANT unless it is its shingle's canonical (minimum
    * (doc_id, offset)) occurrence; every position covered by a
    * redundant occurrence is removed. The FIRST doc carrying a span
    * keeps it whole (none of its occurrences are redundant); later
    * carriers lose the copied region — including self-repetition
    * within one doc (later repeats excised). Where a redundant span
    * overlaps content the doc canonically owns, the overlap is
    * excised too (the published behavior: the later OCCURRENCE is
    * cut, not arbitrated per token — the alternative
    * keep-if-unique-covered rule retains up to k−1 boundary tokens
    * per span edge and was measured to under-excise exactly there). Output per doc: the surviving
    * token count and the CLEANED text, rebuilt in position order.
    * A doc whose every position is removed (an exact copy of an
    * earlier doc) drops OUT of the output — the doc-level dedup
    * decision emerging as the span rule's limit case (sf0.01: 486 of
    * 500 docs survive; the 14 missing are the corpus's whole-doc
    * duplicates).
    *
    * Plan shape: the shingle/count/canonical stages are the
    * [[substringDupStats]] exchanges plus one min(struct) aggregate
    * per shingle; the ×k coverage explode bills REDUNDANT occurrences
    * only (a clean corpus pays just the linear shingle pass).
    * Rebuild is one sort_array(collect_list) per affected doc; clean
    * docs pass through a left anti join untouched. */
  def exciseDupSpans(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(k >= 1, s"k must be >= 1, got $k")
    val shArr = expr(
      s"""transform(sequence(0, size(t) - $k),
         |  j -> md5(concat_ws(' ', slice(t, j + 1, $k))))""".stripMargin)
    val toked = docs
      .select(col("doc_id"), toks.as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val occ = toked
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), posexplode(shArr).as(Seq("j", "sk")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val per = occ.groupBy(col("sk")).agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("j"))).as("canon"))
    val tagged = occ.join(per, "sk")
      .withColumn("redundant", col("cnt") >= 2 &&
        !(col("doc_id") === col("canon.doc_id") && col("j") === col("canon.j")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val affected = tagged.filter(col("redundant"))
      .select(col("doc_id")).distinct()
    val removed = tagged.filter(col("redundant"))
      .select(col("doc_id"),
        explode(sequence(col("j"), col("j") + lit(k - 1))).as("p"))
      .distinct()
    val rebuilt = toked
      .join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p", "tok")))
      .join(removed, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("p"), col("tok")))).as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept_tokens"),
        expr("concat_ws(' ', transform(kept, x -> x.tok))").as("cleaned_text"))
    val untouched = toked
      .join(affected, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_kept_tokens"),
        expr("concat_ws(' ', t)").as("cleaned_text"))
    rebuilt.unionAll(untouched)
  }

  def dedupSubstringExcise(spark: SparkSession, dir: String): DataFrame =
    exciseDupSpans(Tables.documents(spark, dir), SubstrLen)
      .orderBy(col("doc_id"))

  /** The [[exciseDupSpans]] chain as DuckDB CTEs over `src` (any
    * relation exposing doc_id, text), ending in `excised`
    * (doc_id, n_kept_tokens, cleaned_text) — ONE definition under
    * both the registered `dedup_substring_excise` oracle and any
    * composed-pipeline oracle that applies the excise stage
    * (`pipeline_curate_v6`). */
  private[operators] def exciseSqlCtes(src: String): String =
    s"""t AS (SELECT doc_id, $toksSql AS tk FROM $src),
       |occ AS (
       |  SELECT doc_id, j,
       |    md5(array_to_string(tk[j + 1 : j + $SubstrLen], ' ')) AS sk
       |  FROM (SELECT doc_id, tk,
       |          unnest(range(0, len(tk) - $SubstrLen + 1)) AS j FROM t
       |        WHERE len(tk) >= $SubstrLen)),
       |per AS (
       |  SELECT sk, count(*) AS cnt,
       |    first(doc_id ORDER BY doc_id, j) AS cd,
       |    first(j ORDER BY doc_id, j) AS cj
       |  FROM occ GROUP BY sk),
       |tagged AS (
       |  SELECT o.doc_id, o.j,
       |    p.cnt >= 2 AND NOT (o.doc_id = p.cd AND o.j = p.cj) AS redundant
       |  FROM occ o JOIN per p USING (sk)),
       |affected AS (SELECT DISTINCT doc_id FROM tagged WHERE redundant),
       |removed AS (
       |  SELECT DISTINCT doc_id, j + o AS p
       |  FROM (SELECT doc_id, j, unnest(range(0, $SubstrLen)) AS o
       |        FROM tagged WHERE redundant)),
       |pos AS (
       |  SELECT t.doc_id, unnest(t.tk) AS tok,
       |    generate_subscripts(t.tk, 1) - 1 AS p
       |  FROM t JOIN affected a ON t.doc_id = a.doc_id),
       |rebuilt AS (
       |  SELECT pos.doc_id,
       |    cast(count(*) as bigint) AS n_kept_tokens,
       |    string_agg(pos.tok, ' ' ORDER BY pos.p) AS cleaned_text
       |  FROM pos
       |  WHERE NOT EXISTS (SELECT 1 FROM removed rm
       |                    WHERE rm.doc_id = pos.doc_id AND rm.p = pos.p)
       |  GROUP BY pos.doc_id),
       |untouched AS (
       |  SELECT doc_id, cast(len(tk) as bigint) AS n_kept_tokens,
       |    array_to_string(tk, ' ') AS cleaned_text
       |  FROM t
       |  WHERE doc_id NOT IN (SELECT doc_id FROM affected)),
       |excised AS (
       |  SELECT doc_id, n_kept_tokens, cleaned_text FROM rebuilt
       |  UNION ALL
       |  SELECT doc_id, n_kept_tokens, cleaned_text FROM untouched)""".stripMargin

  private val dedupSubstringExciseSql =
    s"""WITH ${exciseSqlCtes("documents")}
       |SELECT doc_id, n_kept_tokens, cleaned_text FROM excised
       |ORDER BY doc_id""".stripMargin

  /** Duplicated-span STRUCTURE per doc — the interval-merge form the
    * [[substringDupStats]] scaladoc records as the dup-dense
    * alternative, implemented as its own operator because the two
    * answer different curation questions: coverage says HOW MUCH of
    * a doc is duplicated (the v4 gate's number), spans say HOW it is
    * duplicated — one long verbatim copy (candidate for span
    * EXCISION, the Lee et al. exact-substring-dedup action) vs many
    * short scattered matches (boilerplate, a doc-level judgment).
    * A duplicated span of length L ≥ k appears as exactly L−k+1
    * consecutive duplicated offsets, so merging offset intervals
    * [j, j+k−1] (gaps-and-islands: new span iff j > prev_j + k)
    * recovers every maximal duplicated span and its exact length.
    *
    * Plan shape: the shared duplicated-offsets frame (two linear
    * exchanges), then ONE per-doc window over DUPLICATED offsets
    * only — ∝ dup density, not doc length, so the window partition
    * skew bound is the per-doc duplicated-shingle count (at 100 TB a
    * fully-duplicated giant doc bounds it at that doc's token count;
    * the offsets are already the minority frame the coverage form
    * explodes ×k). No position explode at all — this form does
    * strictly less work than the coverage pass on dup-dense corpora.
    * Output: docs with ≥ 1 duplicated span, their span count,
    * longest span, and summed span tokens (≡ the coverage number —
    * spans are disjoint by construction; spec cross-checks it
    * against [[substringDupStats]] row for row). */
  def substringDupSpans(docs: DataFrame, k: Int,
      cache: Boolean = true): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("j"))
    duplicatedOffsets(docs, k, cache)
      .withColumn("prev", lag(col("j"), 1).over(w))
      .withColumn("ns",
        when(col("prev").isNull || col("j") > col("prev") + lit(k), 1L)
          .otherwise(0L))
      .withColumn("span", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span"))
      .agg((max(col("j")) - min(col("j")) + lit(k)).cast("long").as("len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("len")).as("max_span_tokens"),
        sum(col("len")).as("n_dup_tokens"))
      .orderBy(col("doc_id"))
  }

  def dedupSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    substringDupSpans(Tables.documents(spark, dir), SubstrLen)

  private val dedupSubstringSpansSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |d AS (SELECT doc_id, len(tk) AS n_tokens, tk FROM t
       |      WHERE len(tk) >= $SubstrLen),
       |sh AS (
       |  SELECT doc_id, j,
       |    md5(array_to_string(tk[j + 1 : j + $SubstrLen], ' ')) AS sk
       |  FROM (SELECT doc_id, tk,
       |          unnest(range(0, n_tokens - $SubstrLen + 1)) AS j FROM d)),
       |c AS (SELECT sk, count(*) AS cnt FROM sh GROUP BY sk),
       |dup AS (SELECT doc_id, j FROM sh JOIN c USING (sk) WHERE c.cnt >= 2),
       |flagged AS (
       |  SELECT doc_id, j,
       |    CASE WHEN lag(j) OVER (PARTITION BY doc_id ORDER BY j) IS NULL
       |           OR j > lag(j) OVER (PARTITION BY doc_id ORDER BY j)
       |                + $SubstrLen
       |         THEN 1 ELSE 0 END AS ns
       |  FROM dup),
       |spans AS (
       |  SELECT doc_id, j,
       |    sum(ns) OVER (PARTITION BY doc_id ORDER BY j
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
       |  FROM flagged),
       |lens AS (
       |  SELECT doc_id, span,
       |    cast(max(j) - min(j) + $SubstrLen as bigint) AS len
       |  FROM spans GROUP BY doc_id, span)
       |SELECT doc_id, count(*) AS n_spans,
       |  cast(max(len) as bigint) AS max_span_tokens,
       |  cast(sum(len) as bigint) AS n_dup_tokens
       |FROM lens GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  private val dedupSubstringSql =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |d AS (SELECT doc_id, len(tk) AS n_tokens, tk FROM t
       |      WHERE len(tk) >= $SubstrLen),
       |sh AS (
       |  SELECT doc_id, j,
       |    md5(array_to_string(tk[j + 1 : j + $SubstrLen], ' ')) AS sk
       |  FROM (SELECT doc_id, tk,
       |          unnest(range(0, n_tokens - $SubstrLen + 1)) AS j FROM d)),
       |c AS (SELECT sk, count(*) AS cnt FROM sh GROUP BY sk),
       |dup AS (SELECT doc_id, j FROM sh JOIN c USING (sk) WHERE c.cnt >= 2),
       |cov AS (SELECT DISTINCT doc_id, j + o AS p
       |        FROM (SELECT doc_id, j, unnest(range(0, $SubstrLen)) AS o FROM dup)),
       |agg AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY doc_id)
       |SELECT d.doc_id, cast(d.n_tokens as bigint) AS n_tokens,
       |  cast(coalesce(agg.n_dup_tokens, 0) as bigint) AS n_dup_tokens,
       |  ${rndSql("cast(coalesce(agg.n_dup_tokens, 0) as double) / d.n_tokens", 6)} AS dup_token_share
       |FROM d LEFT JOIN agg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- winnowing
  /** Winnowing parameters of the registered `dedup_winnowing`:
    * k-gram size (word trigrams, the corpus's shingle convention),
    * window w, and the shared-fingerprint floor for a reported pair.
    * The winnowing guarantee: any match of ≥ w + k − 1 = 6
    * consecutive tokens shares at least one fingerprint. */
  private val WinnowK = 3
  private val WinnowW = 4
  private val WinnowMinShared = 2

  /** Hot-fingerprint cap of the registered `dedup_winnowing`: a
    * fingerprint held by more than this many documents is DROPPED
    * before the pair join. Without it a fingerprint shared by m docs
    * contributes m(m−1)/2 pairs — quadratic on the boilerplate every
    * real crawl contains (license headers, navigation chrome), the
    * classic LSH hot-bucket failure. With it pair mass is bounded by
    * df_cap × |postings| — linear in corpus size. The recall trade
    * (the 36b banded-containment precedent, documented the same way):
    * a pair whose ONLY shared fingerprints are over-frequent ones is
    * missed — exactly the pairs whose overlap is corpus-wide
    * boilerplate rather than document-specific text, which published
    * winnowing/LSH pipelines drop for the same reason. The synthetic
    * corpus never reaches the cap (max df at sf0.01 is 7), so the
    * cap is exercised by the planted hot-fingerprint spec corpus. */
  private val WinnowMaxDf = 64L

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting scheme): hash every
    * k-gram, slide a w-window over the hash sequence, keep each
    * window's MINIMUM hash with ties to the RIGHTMOST position. Local
    * selection gives the guarantee no fixed-stride chunking has
    * ([[dedupChunk]] provably misses boundary-straddling dups —
    * its own spec plants one): every shared token run of length
    * ≥ w+k−1 yields a shared fingerprint, while keeping ~1/w of the
    * gram mass ([[dedupSubstring]] keeps ALL of it — winnowing is
    * the tunable middle of that ladder).
    *
    * Returns (doc_id, fp_pos, fp_h) — distinct selected fingerprints.
    * Plan: gram hashes are per-row projections (md5Long over a
    * slice-join — the shingle discipline); each gram explodes to the
    * ≤ w windows it can win (row mass = w × grams, the linear
    * shingle-mass envelope); the per-window argmin is ONE max_by
    * aggregate on (−h, pos) — integer ordering, cross-engine exact,
    * no second pass; DISTINCT collapses a hash that wins several
    * overlapping windows. One exchange on (doc, window). */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val tk = toks
    val grams = docs
      .select(col("doc_id"), tk.as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("doc_id"), size(col("tk")).as("n"),
        posexplode(transform(sequence(lit(0), size(col("tk")) - k), i =>
          md5Long(concat_ws(" ", slice(col("tk"), i + 1, lit(k)))))))
      .toDF("doc_id", "n", "pos", "h")
    // m = n-k+1 grams; windows i in [0, m-w]; gram pos belongs to
    // windows [pos-w+1, pos] clamped — docs under w grams form no
    // complete window and carry no fingerprints (the MOSS rule)
    val m = col("n") - (k - 1)
    grams
      .filter(m >= w)
      .select(col("doc_id"), col("pos"), col("h"),
        explode(sequence(greatest(col("pos") - (w - 1), lit(0)),
          least(col("pos"), m - w))).as("win"))
      .groupBy(col("doc_id"), col("win"))
      .agg(max_by(struct(col("pos"), col("h")),
        struct((-col("h")).as("nh"), col("pos"))).as("sel"))
      .select(col("doc_id"), col("sel.pos").as("fp_pos"), col("sel.h").as("fp_h"))
      .distinct()
  }

  /** Registered query: winnowing near-dup pairs — documents sharing
    * ≥ [[WinnowMinShared]] fingerprint HASHES, with the shared count.
    * The fingerprint derivation here is the IN-ROW form (the
    * mm_scene_cut discipline): a document's grams never leave its
    * row — gram hashes, per-window minima, and the distinct set all
    * fold over in-row arrays, so the only exchanges are the pair
    * join's (the explode-to-(doc, window) groupBy form measured
    * 15 s at sf1 shuffling w× the gram mass; this form runs the
    * same sf1 in ~3 s). Semantically identical to
    * [[winnowFingerprints]] minus positions — the pair report keys
    * on hashes and both derive min-per-window (the spec ties them).
    * The pair join is an equi-join on the fingerprint hash (never a
    * cross product); distinct hash sets per doc, so a hash repeated
    * inside one doc counts once. */
  /** The in-row winnowing fingerprint projection over any (doc_id,
    * text) frame — one row per (doc, distinct fingerprint hash).
    * Stateless per-row (a document's grams never leave its row), so
    * it runs unchanged at a stream head
    * ([[graft.streaming.StreamingJobs.winnowStream]]). */
  def winnowFingerprintHashes(docs: DataFrame): DataFrame = {
    val k = WinnowK; val w = WinnowW
    val hs = col("hs")
    val m = size(hs) // = n - k + 1 gram hashes
    docs
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= k + w - 1) // at least one full window
      // gram hashes BOUND to a column before the window fold
      // references them (the sceneCutFrameCols lesson: lambda bodies
      // sit outside codegen subexpression elimination)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(col("tk")) - k), i =>
          md5Long(concat_ws(" ", slice(col("tk"), i + 1, lit(k))))).as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(0), m - w), i =>
          array_min(slice(hs, i + 1, lit(w)))))).as("fp_h"))
  }

  def dedupWinnowing(spark: SparkSession, dir: String): DataFrame =
    // spreadHint: the in-row gram-hash + window folds are the cost, not
    // the bytes. Leave-one-out at sf0.1, local[4]: 1.48 s with, 2.18 s
    // without (medians), the call winning 5 of 5 pairs
    winnowPairs(winnowFingerprintHashes(
      Tables.spreadHint(Tables.documents(spark, dir))))

  /** Pair report over a (doc_id, fp_h) fingerprint frame, with the
    * [[WinnowMaxDf]] hot-fingerprint drop ACTIVE: one wordcount-shaped
    * df aggregate, an anti-join discarding over-frequent hashes (the
    * hot list is tiny — ≤ |postings|/cap rows — so AQE broadcasts
    * it), then the equi-join on the surviving hashes. The per-run
    * persist of the fingerprint frame is a documented cost (three
    * consumers: the df table and both pair-join sides); bench/verify
    * reclaim it via CacheHygiene.sweep — the pipeline_curate_v6
    * precedent. */
  def winnowPairs(fingerprints: DataFrame,
      maxDf: Long = WinnowMaxDf,
      minShared: Long = WinnowMinShared): DataFrame = {
    // maxDf is the §18 tuning knob: raise it on corpora whose genuine
    // near-dups share very common fingerprints (pair mass grows only
    // linearly, maxDf × |postings|); the registered query keeps the
    // default so its oracle's cap clause stays in lockstep
    val fps = fingerprints
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = fps.groupBy(col("fp_h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("fp_h"))
    val kept = fps.join(hot, Seq("fp_h"), "left_anti")
    kept.select(col("doc_id").as("doc_a"), col("fp_h"))
      .join(kept.select(col("doc_id").as("doc_b"), col("fp_h")), Seq("fp_h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
  }

  private val dedupWinnowingSql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents),
       |grams AS (
       |  SELECT doc_id, len(tk) - ${WinnowK - 1} AS m,
       |    cast(i AS int) AS pos,
       |    ${md5LongSql(s"array_to_string(tk[cast(i AS int) + 1 : cast(i AS int) + $WinnowK], ' ')")} AS h
       |  FROM t, unnest(range(0, len(tk) - ${WinnowK - 1})) AS u(i)
       |  WHERE len(tk) >= $WinnowK),
       |wins AS (
       |  SELECT doc_id, pos, h, cast(win AS int) AS win
       |  FROM grams, unnest(range(greatest(pos - ${WinnowW - 1}, 0),
       |    least(pos, m - $WinnowW) + 1)) AS v(win)
       |  WHERE m >= $WinnowW),
       |sel AS (
       |  -- the pair report keys on the fingerprint HASH; the
       |  -- rightmost-tie POSITION pick lives in the kernel (spec'd)
       |  SELECT doc_id, win, min(h) AS fp_h
       |  FROM wins GROUP BY doc_id, win),
       |-- MATERIALIZED (the kcore-oracle lesson): the pair join reads
       |-- `kept` twice and the df aggregate reads `fps` once more —
       |-- DuckDB's default inlining would re-derive the whole gram
       |-- pipeline per reference and blow the spill cap at sf10
       |fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp_h FROM sel),
       |-- hot-fingerprint df cap: over-frequent hashes drop before
       |-- the pair join (mirrors the kernel's WinnowMaxDf anti-join)
       |df AS (SELECT fp_h, count(*) AS df FROM fps GROUP BY 1),
       |kept AS MATERIALIZED (
       |  SELECT fps.* FROM fps
       |  JOIN df USING (fp_h) WHERE df.df <= $WinnowMaxDf)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*) AS n_shared
       |FROM kept a JOIN kept b ON a.fp_h = b.fp_h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= $WinnowMinShared
       |ORDER BY n_shared DESC, doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- registry
  def defs: Seq[QueryDef] = Seq(
    QueryDef("dedup_winnowing", dedupWinnowing _, Some(dedupWinnowingSql)),
    QueryDef("dedup_chunk", dedupChunk _, Some(dedupChunkSql)),
    QueryDef("dedup_paragraph", dedupParagraph _, Some(dedupParagraphSql)),
    QueryDef("dedup_cdc_chunks", dedupCdcChunks _, Some(dedupCdcChunksSql)),
    QueryDef("dedup_substring", dedupSubstring _, Some(dedupSubstringSql)),
    QueryDef("dedup_substring_spans", dedupSubstringSpans _,
      Some(dedupSubstringSpansSql)),
    QueryDef("dedup_substring_excise", dedupSubstringExcise _,
      Some(dedupSubstringExciseSql)),
    QueryDef("dedup_exact", dedupExact _, Some(dedupExactSql)),
    QueryDef("dedup_normalized", dedupNormalized _, Some(dedupNormalizedSql)),
    QueryDef("dedup_jaccard", dedupJaccard _, Some(dedupJaccardSql)),
    QueryDef("dedup_jaccard_ngram", dedupJaccardNgram _, Some(dedupJaccardNgramSql)),
    QueryDef("dedup_minhash", dedupMinhash _, Some(dedupMinhashSql)),
    QueryDef("dedup_incremental", dedupIncremental _, Some(dedupIncrementalSql)),
    QueryDef("pipeline_fuzzy_dedup", pipelineFuzzyDedup _, Some(pipelineFuzzyDedupSql)),
    QueryDef("dedup_containment", dedupContainment _, Some(dedupContainmentSql)),
    QueryDef("dedup_containment_exact", dedupContainmentExact _,
      Some(dedupContainmentExactSql)),
    QueryDef("dedup_containment_ngram", dedupContainmentNgram _,
      Some(dedupContainmentNgramSql)),
    QueryDef("pipeline_dedup_clusters", pipelineDedupClusters _, Some(pipelineDedupClustersSql)),
    QueryDef("dedup_simhash", dedupSimhash _, Some(dedupSimhashSql)),
    QueryDef("dedup_simhash_banded", dedupSimhashBanded _, Some(dedupSimhashWideSql)),
    QueryDef("dedup_simhash_wide", dedupSimhashWide _, Some(dedupSimhashWideSql)),
    QueryDef("dedup_embedding_exact", dedupEmbeddingExact _, Some(dedupEmbeddingSql)))
}
