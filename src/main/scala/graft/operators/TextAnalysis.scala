package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CrossEngine.{rnd, rndSql}

/** Text analysis for LLM-data pipelines (SURVEY.md §2 D), over the
  * `documents` table. Everything is per-document and embarrassingly
  * parallel — no shuffle except the final global aggregations — and
  * built from codegen'd `functions._` higher-order functions (no
  * Scala UDFs in the hot path).
  *
  * Cross-engine parity: tokenization is whitespace-split with empties
  * dropped; all scores are integer-derived double divisions (exact on
  * both engines); hashes are md5-based (identical hex cross-engine).
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped (matches DuckDB
    * `list_filter(regexp_split_to_array(text,'\s+'), t -> t <> '')`). */
  private def toks: Column =
    filter(split(col("text"), "\\s+"), t => t =!= "")

  private val toksSql =
    "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  // ---------------------------------------------------------------- stats
  /** Token counting: n_tokens, character/total-token-length stats. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("t", toks)
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).as("n_token_chars"),
        rnd(length(regexp_replace(col("text"), "\\s+", "")).cast("double")
          / size(col("t")), 4).as("avg_token_len"))
      .orderBy(col("doc_id"))

  private val textStatsSql =
    s"""SELECT doc_id,
       |  cast(len($toksSql) as int) AS n_tokens,
       |  cast(length(regexp_replace(text, '\\s+', '', 'g')) as int) AS n_token_chars,
       |  ${rndSql(s"cast(length(regexp_replace(text, '\\s+', '', 'g')) as double) / len($toksSql)", 4)} AS avg_token_len
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- quality
  /** Quality scoring from length / digit / stopword ratios — the
    * standard cheap pre-filter before expensive pipeline stages. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(col("t"))
    val nStop = size(filter(col("t"), t => t.isin(Stopwords: _*)))
    val nDigit = length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))
    val lenScore = least(length(col("text")).cast("double") / 500.0, lit(1.0))
    val stopRatio = nStop.cast("double") / nTok
    val digitRatio = nDigit.cast("double") / length(col("text"))
    Tables.documents(spark, dir)
      .withColumn("t", toks)
      .select(
        col("doc_id"),
        rnd(stopRatio, 4).as("stopword_ratio"),
        rnd(digitRatio, 4).as("digit_ratio"),
        rnd(lenScore * 0.5 + (lit(1.0) - digitRatio) * 0.3 + stopRatio * 0.2, 4)
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  private val textQualitySql = {
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |  ${rndSql(s"cast(len(list_filter($toksSql, t -> t IN ($stopList))) as double) / len($toksSql)", 4)} AS stopword_ratio,
       |  ${rndSql("cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as double) / length(text)", 4)} AS digit_ratio,
       |  ${rndSql(s"least(cast(length(text) as double) / 500.0, 1.0) * 0.5 + (1.0 - cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as double) / length(text)) * 0.3 + cast(len(list_filter($toksSql, t -> t IN ($stopList))) as double) / len($toksSql) * 0.2", 4)} AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- langid
  /** Marker-word language heuristic: count hits per language's marker
    * set, argmax with a fixed precedence for ties. (The container has
    * no real langid model; the shape — per-doc scoring + argmax — is
    * the production shape.) */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "fast", "small"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "la", "de", "y", "que"))

  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val scores = Markers.map { case (lang, words) =>
      size(filter(col("t"), t => t.isin(words: _*))).as(s"s_$lang")
    }
    Tables.documents(spark, dir)
      .withColumn("t", toks)
      .select(col("doc_id") +: scores: _*)
      .withColumn("predicted",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es"), "en")
          .when(col("s_de") >= col("s_es"), "de")
          .otherwise("es"))
      .orderBy(col("doc_id"))
  }

  private val textLangidSql = {
    val scoreExprs = Markers.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      s"cast(len(list_filter($toksSql, t -> t IN ($list))) as int) AS s_$lang"
    }.mkString(",\n       |  ")
    s"""SELECT doc_id, $scoreExprs,
       |  CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
       |       WHEN s_de >= s_es THEN 'de'
       |       ELSE 'es' END AS predicted
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- fingerprint
  /** Document fingerprinting: a position-weighted token hash (exact
    * bigint arithmetic) plus an md5 content fingerprint — the pair a
    * dedup pipeline keys on. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    // posexplode_OUTER: a zero-token (empty/whitespace) doc must still
    // emit a row — with NULL positional_fp — because the oracle's
    // list_sum over an empty list is NULL, not a dropped row
    Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("text"), posexplode_outer(toks).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"))
      .agg(
        sum((col("pos") + 1) * (ascii(col("tok")) + length(col("tok"))))
          .as("positional_fp"),
        first(graft.functions.CrossEngine.md5Long(col("text")))
          .as("content_fp"))
      .orderBy(col("doc_id"))
  }

  private val textFingerprintSql =
    s"""SELECT doc_id,
       |  cast(list_sum(list_transform($toksSql,
       |    (t, i) -> i * (ascii(t) + length(t)))) as bigint) AS positional_fp,
       |  cast(concat('0x', substr(md5(text), 1, 15)) as bigint) AS content_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- ngrams
  /** Bigram generation + global top-100: lead over per-doc position,
    * then a count aggregate. */
  def textNgrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("bigram", concat(col("tok"), lit(" "), lead(col("tok"), 1).over(w)))
      .filter(col("bigram").isNotNull)
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(100)
  }

  private val textNgramsSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($toksSql) AS tok,
       |    generate_subscripts($toksSql, 1) AS pos
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id,
       |    tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
       |  FROM toks)
       |SELECT bigram, count(*) AS n FROM bi
       |WHERE bigram IS NOT NULL
       |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- co-occurrence
  /** Skip-gram co-occurrence statistics (window = 2 following
    * tokens): the corpus association table embedding/collocation
    * pipelines train from — top ordered pairs by window count, each
    * with its LIFT, the PMI-family association strength as a pure
    * ratio (cnt·T²/(P·c₁·c₂) = p(a,b)/(p(a)p(b))) — integer-derived
    * double products in one fixed order, no ln (the tfidf/bm25
    * linearization rationale).
    *
    * Plan shape: pair generation is a PER-ROW expression — each doc
    * emits its distance-1 and distance-2 pairs from one `transform`
    * over token indices (no position window, no positional
    * self-join — `text_ngrams`' window form is the readable
    * alternative; this is the shape that scales); then one hash
    * aggregate on (w1, w2), two equi-joins against the unigram
    * counts, a broadcast 1-row totals frame, and a global top-100
    * TakeOrdered. Shuffle ∝ distinct pairs, never positions. */
  def textCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    def pairsAt(d: Int) = when(size(col("t")) > d,
      transform(sequence(lit(0), size(col("t")) - 1 - d),
        i => struct(element_at(col("t"), i + 1).as("w1"),
          element_at(col("t"), i + d + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val docs = Tables.documents(spark, dir).withColumn("t", toks)
    // the corpus IS scanned+exploded by each consumer (pair aggregate,
    // unigram aggregate, totals) — deliberately: persisting the two
    // exploded frames was tried and MEASURED SLOWER (8.0 s vs 5.4 s
    // at sf1, same run) — materializing ~n_pairs rows costs more than
    // re-running the codegen'd explode over a page-cached columnar
    // scan; the same result as bpeTokenize's shared-frame experiment
    val pairs = docs
      .select(explode(concat(pairsAt(1), pairsAt(2))).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    val tk = docs.select(explode(col("t")).as("tok"))
    val uni = tk.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = broadcast(
      tk.agg(count(lit(1)).as("tt")).crossJoin(
        pairs.agg(count(lit(1)).as("pt"))))
    pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("cnt"),
        rnd(col("cnt").cast("double") * col("tt") * col("tt") /
          (col("pt").cast("double") * col("c1") * col("c2")), 6).as("lift"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(100)
  }

  private val textCooccurrenceSql =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest($toksSql) AS tok,
       |    generate_subscripts($toksSql, 1) AS pos
       |  FROM documents),
       |pr AS (
       |  SELECT a.tok AS w1, b.tok AS w2 FROM tk a
       |  JOIN tk b ON a.doc_id = b.doc_id AND (b.pos - a.pos) IN (1, 2)),
       |pc AS (SELECT w1, w2, count(*) AS cnt FROM pr GROUP BY 1, 2),
       |uni AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM tk) AS tt,
       |               (SELECT count(*) FROM pr) AS pt)
       |SELECT pc.w1, pc.w2, cnt,
       |  ${rndSql("cast(cnt as double) * tt * tt / (cast(pt as double) * u1.c * u2.c)", 6)} AS lift
       |FROM pc JOIN uni u1 ON pc.w1 = u1.tok
       |JOIN uni u2 ON pc.w2 = u2.tok CROSS JOIN tot
       |ORDER BY cnt DESC, w1, w2 LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- lm score
  /** Corpus-LM fluency scoring (round 8) — the CCNet-style quality
    * signal (Wenzek et al., "CCNet", LREC 2020 §4.3: score text with
    * a language model, filter/bucket on the score; their KenLM
    * 5-gram becomes a bigram model here — same role, SQL-expressible
    * both engines). A document whose word transitions are typical of
    * the corpus scores high; word-salad/boilerplate scores low —
    * the statistical complement to the rule gate
    * (`text_filter_quality`) and the repetition share
    * (`text_repetition`).
    *
    * Model = the corpus's own bigram MLE, p(cur|prev) =
    * c(prev,cur)/c(prev·) — training corpus scored by its own LM
    * (CCNet scores crawl text under a wiki LM; with one corpus it is
    * self-scored — the ranking signal, not a held-out perplexity).
    * Scored as the per-doc MEAN of p(cur|prev) over its bigrams, in
    * the scaled-integer discipline: each probability becomes
    * ⌊c_bi·1e9 / c_uni⌋ (integer division, exact both engines), the
    * per-doc sum accumulates in bigint (order-independent), and ONE
    * double division + deterministic rounding happens per doc. A
    * production variant sums logs (perplexity proper); ln() differs
    * in the last ULP between libms, so the cross-engine-checkable
    * form averages linear probabilities — same direction, same use.
    *
    * Shape at scale: the exploded bigram frame is persisted once and
    * pays for all three consumers (context counts, bigram counts, the
    * score join); both count tables are wordcount-shaped map-side-
    * combined aggregates ∝ DISTINCT bigrams (vocab-bounded, far
    * smaller than the corpus; broadcastable when the vocabulary is);
    * the score join is keyed (prev, cur), co-partitioned with the
    * bigram count's own exchange; the final aggregate is doc-keyed.
    * No window, no n². Docs with < 2 tokens have no bigrams and no
    * score row (documented; the corpus's 20-90-word docs all score).
    */
  def textLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScore(Tables.documents(spark, dir))

  /** The corpus-LM scoring kernel over an ARBITRARY documents frame
    * (needs `doc_id`, `text`) — see [[textLmScore]]. */
  def lmScore(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(slice(t, 1, size(t) - 1),
          |  (x, i) -> struct(x AS prev, element_at(t, i + 2) AS cur))"""
          .stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = pairs.groupBy(col("prev")).agg(count(lit(1)).as("c_uni"))
    val bi = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c_bi"))
    val probs = bi.join(uni, "prev")
      .select(col("prev"), col("cur"),
        expr("(c_bi * 1000000000L) div c_uni").as("p9"))
    pairs.join(probs, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p9")).as("sp"))
      .select(col("doc_id"), col("n_bigrams"),
        rnd(col("sp").cast("double") / (col("n_bigrams") * lit(1e9d)), 6)
          .as("lm_score"))
      .orderBy(col("doc_id"))
  }

  private val textLmScoreSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toksSql) AS tok,
       |    generate_subscripts($toksSql, 1) AS pos
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, prev, cur FROM (
       |    SELECT doc_id, tok AS prev,
       |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
       |    FROM tok)
       |  WHERE cur IS NOT NULL),
       |uni AS (SELECT prev, count(*) AS c_uni FROM bg GROUP BY prev),
       |bi AS (SELECT prev, cur, count(*) AS c_bi FROM bg GROUP BY prev, cur),
       |probs AS (
       |  SELECT b.prev, b.cur, (b.c_bi * 1000000000) // u.c_uni AS p9
       |  FROM bi b JOIN uni u USING (prev))
       |SELECT g.doc_id, count(*) AS n_bigrams,
       |  ${rndSql("cast(sum(p.p9) as double) / (count(*) * 1e9)", 6)} AS lm_score
       |FROM bg g JOIN probs p USING (prev, cur)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------- repetition
  /** Repetition filtering — the published Gopher/MassiveText rule
    * family: a document whose single most frequent bigram covers a
    * large share of all its bigrams is boilerplate/spam with high
    * probability and is dropped before training. Shape: one exchange
    * on doc_id pre-pays the position window AND both doc-keyed
    * aggregates (bigram counts, then per-doc max/sum — all
    * doc_id-prefixed keys reuse the partitioning), so the whole score
    * is a single-shuffle pass however wide the corpus. Docs with < 2
    * tokens have no bigram and drop out, matching the oracle. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("bigram", concat(col("tok"), lit(" "), lead(col("tok"), 1).over(w)))
      .filter(col("bigram").isNotNull)
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_n"), sum(col("n")).as("total_n"))
      .select(col("doc_id"), col("top_n"), col("total_n"),
        rnd(col("top_n").cast("double") / col("total_n"), 4).as("top_bigram_share"))
      .withColumn("repetitive", col("top_bigram_share") > 0.2)
      .orderBy(col("doc_id"))
  }

  private val textRepetitionSql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($toksSql) AS tok,
       |    generate_subscripts($toksSql, 1) AS pos
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id,
       |    tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
       |  FROM toks),
       |cnt AS (
       |  SELECT doc_id, bigram, count(*) AS n FROM bi
       |  WHERE bigram IS NOT NULL GROUP BY doc_id, bigram),
       |agg AS (
       |  SELECT doc_id, cast(max(n) as bigint) AS top_n,
       |    cast(sum(n) as bigint) AS total_n
       |  FROM cnt GROUP BY doc_id)
       |SELECT doc_id, top_n, total_n,
       |  ${rndSql("cast(top_n as double) / total_n", 4)} AS top_bigram_share,
       |  ${rndSql("cast(top_n as double) / total_n", 4)} > 0.2 AS repetitive
       |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- vocab
  /** Corpus-level vocabulary profile — the first report a data
    * curator pulls on a new crawl: vocabulary size, total tokens,
    * hapax count (tokens seen once — crawl noise concentrates there),
    * type-token ratio. One explode + two aggregates; the token
    * aggregate is the same map-side-combined shape as wordcount, the
    * final single-row fold is trivial. */
  def textVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("vocab_size"),
        sum(col("n")).as("total_tokens"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax_count"),
        rnd(count(lit(1)).cast("double") / sum(col("n")), 6).as("type_token_ratio"))

  private val textVocabSql =
    s"""WITH c AS (
       |  SELECT tok, count(*) AS n
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
       |  GROUP BY tok)
       |SELECT cast(count(*) as bigint) AS vocab_size,
       |  cast(sum(n) as bigint) AS total_tokens,
       |  cast(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) as bigint) AS hapax_count,
       |  ${rndSql("cast(count(*) as double) / sum(n)", 6)} AS type_token_ratio
       |FROM c""".stripMargin

  // ---------------------------------------------------------------- redaction
  /** PII-style redaction — the scrub pass a training pipeline runs
    * before tokenization: long digit runs (ids, phone-ish numbers)
    * replaced with a placeholder, plus audit columns (run count,
    * chars removed, fingerprint of the redacted text). Pure per-row
    * projection — no shuffle but the oracle sort; the regex stays in
    * the Java-regex ∩ RE2 common subset so both engines redact
    * identically. */
  private val DigitRunPattern = "[0-9]{3,}"

  def textRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(DigitRunPattern), lit(0)))
          .as("n_digit_runs"),
        (length(col("text"))
          - length(regexp_replace(col("text"), DigitRunPattern, "")))
          .as("n_chars_redacted"),
        md5(regexp_replace(col("text"), DigitRunPattern, "<NUM>"))
          .as("redacted_fp"))
      .orderBy(col("doc_id"))

  private val textRedactSql =
    s"""SELECT doc_id,
       |  cast(len(regexp_extract_all(text, '$DigitRunPattern')) as int) AS n_digit_runs,
       |  cast(length(text) - length(regexp_replace(text, '$DigitRunPattern', '', 'g')) as int) AS n_chars_redacted,
       |  md5(regexp_replace(text, '$DigitRunPattern', '<NUM>', 'g')) AS redacted_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- registry
  // ---------------------------------------------------------------- BPE-ish tokens
  /** GPT-2-style pre-tokenization counting: contractions, letter
    * runs, digit runs, symbol runs (each with an optional leading
    * space) — the token-budget estimate an LLM pipeline prices
    * documents with, next to the whitespace count. The pattern stays
    * inside the Java-regex ∩ RE2 common subset (no lookahead) so both
    * engines tokenize identically; counts are per-doc and the plan is
    * a pure scan projection (no shuffle but the oracle sort). */
  private val BpePattern =
    """ ?'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"""

  /** The BPE-ish token count as a Column / oracle-SQL pair — ONE
    * definition shared by `text_tokens_bpe` and the BPE-budget
    * sequence packing (`pipeline_pack_bpe`), so the budget a packer
    * prices with cannot drift from the count the profiler reports. */
  private[operators] def bpeCountCol: org.apache.spark.sql.Column =
    size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long")
  private[operators] def bpeCountSql: String =
    s"cast(len(regexp_extract_all(text, '${BpePattern.replace("'", "''")}')) as bigint)"

  def textTokensBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bpe", regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
      .select(
        col("doc_id"),
        size(toks).as("n_ws_tokens"),
        size(col("bpe")).as("n_bpe_tokens"),
        rnd(size(col("bpe")).cast("double")
          / greatest(size(toks), lit(1)), 4).as("bpe_per_word"))
      .orderBy(col("doc_id"))

  private val textTokensBpeSql = {
    val pat = BpePattern.replace("'", "''")
    s"""SELECT doc_id,
       |  cast(len($toksSql) as int) AS n_ws_tokens,
       |  cast(len(regexp_extract_all(text, '$pat')) as int) AS n_bpe_tokens,
       |  ${rndSql(s"cast(len(regexp_extract_all(text, '$pat')) as double) / greatest(len($toksSql), 1)", 4)} AS bpe_per_word
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- tfidf
  /** Per-document top-3 terms by tf-idf — the classic MR scoring job
    * (tf from a per-doc count, df from the inverted-index shape, N
    * broadcast) and the standard keyword-extraction pass before
    * topic-based corpus filtering.
    *
    * idf is the LINEAR variant N/df, not ln(N/df): tf·N is an exact
    * integer and one double division is correctly rounded on both
    * engines, so scores (and thus the per-doc ranking) are
    * bit-deterministic cross-engine — ln differs in the last ULP
    * between libm implementations. Plan shape: one explode →
    * doc-partitioned tf aggregate; df reuses the SAME tf frame
    * (persisted — one row per (doc,term)) with a term-keyed
    * re-aggregate; ranking is a per-doc window over ≤|vocab| rows.
    * The df join is term-keyed and AQE-broadcast here; at 100 TB it
    * becomes a plain shuffle join on term — both sides already
    * aggregated, so rows ∝ distinct (doc,term), never raw tokens. */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = broadcast(docs.agg(count(lit(1)).as("n")))
    val scored = tf.join(df, "term").crossJoin(n)
      .withColumn("tfidf", (col("tf") * col("n")).cast("double") / col("df"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("term"))
  }

  private val textTfidfSql =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    cast(tf.tf * n.n as double) / df.df AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
       |  FROM scored)
       |SELECT doc_id, term, tf, df, tfidf FROM ranked
       |WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin

  /** Corpus heavy hitters through the `mg_topk` Misra-Gries
    * `TypedImperativeAggregate` (FreqSketch.scala): ONE streaming
    * pass, ≤ k counters per partial buffer, no distinct-key shuffle
    * state — the 100 TB answer to "which tokens dominate the corpus".
    * Approximate by construction: reported counts (never membership
    * of true > n/(k+1) heavy hitters) depend on merge order, so this
    * is a rows-only query like `q_approx_distinct`; the sketch
    * guarantee itself is property-tested in PropertySpec. Registered
    * primarily so the bench tracks the sketch's cost round-over-round
    * next to the exact aggregates it replaces at scale. */
  def mgTopkHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks).as("tok"))
      .agg(graft.functions.FreqSketch.mgTopk(col("tok"), 16).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("token"), col("e.min_count").as("min_count"))
      .orderBy(col("min_count").desc, col("token"))

  // ---------------------------------------------------------------- heavy hitters (exact)
  /** Heavy-hitter threshold divisor: report tokens with
    * count > n_tokens / 30 (a >3.33% corpus share — splits this
    * corpus's near-uniform ~31-token vocabulary non-trivially, ~13
    * in / ~18 out at sf0.01, so the oracle exercises both sides of
    * the threshold). */
  private val HhDivisor = 30

  /** EXACT corpus heavy hitters by two-pass sketch-prune + verify —
    * the hash-green companion to the rows-only `mg_topk`: pass 1 is
    * one streaming scan computing the Misra-Gries summary AND the
    * exact total token count in a single aggregate; pass 2 recounts
    * ONLY the sketch's candidates and keeps those whose exact count
    * clears n/30. MG with k = 2·30−1 = 59 counters contains every
    * token of true count > n/(k+1) = n/60 — a strict superset of the
    * n/30 report set — so recall is total BY THE SKETCH GUARANTEE and
    * the exact recount removes the false positives: the output is
    * identical to a full wordcount + HAVING, which is exactly what
    * the oracle runs.
    *
    * Scale shape (the reason this beats the one-pass wordcount at
    * 100 TB): neither pass carries distinct-key-sized state. Pass 1
    * shuffles ≤ 59 counters per partition partial; pass 2's groupBy
    * runs AFTER an `isin(candidates)` filter (≤ 59 literals,
    * driver-bounded by the sketch size, analogous to the top-1000
    * hot-key collect in `saltedEquiJoin`), so its map-side partials
    * hold ≤ 59 keys and the exchange is ~59 rows per partition —
    * vs. a vocabulary-sized wordcount shuffle. */
  def textHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val tk = Tables.documents(spark, dir).select(explode(toks).as("token"))
    val probe = tk.agg(
      graft.functions.FreqSketch.mgTopk(col("token"), 2 * HhDivisor - 1).as("hh"),
      count(lit(1)).as("n")).head()
    val n = probe.getLong(1)
    val cands = probe.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    tk.filter(col("token").isin(cands: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HhDivisor > n)
      .select(col("token"), col("cnt"),
        rnd(col("cnt").cast("double") / n, 4).as("share"))
      .orderBy(col("cnt").desc, col("token"))
  }

  private val textHeavyHittersSql =
    s"""WITH tk AS (SELECT unnest($toksSql) AS token FROM documents),
       |tot AS (SELECT count(*) AS n FROM tk)
       |SELECT token, count(*) AS cnt,
       |  ${rndSql("cast(count(*) as double) / any_value(n)", 4)} AS share
       |FROM tk CROSS JOIN tot
       |GROUP BY token HAVING count(*) * $HhDivisor > any_value(n)
       |ORDER BY cnt DESC, token""".stripMargin

  // ---------------------------------------------------------------- bm25
  /** BM25 retrieval scoring of the corpus against a fixed query term
    * set — the standard relevance ranker for corpus search and
    * quality-targeted subcorpus selection (e.g. "most on-topic docs
    * for a domain probe"). k1/b are the textbook defaults.
    *
    * Cross-engine: idf is the LINEAR Robertson form
    * (N - df + 0.5)/(df + 0.5) WITHOUT the ln wrapper — same
    * rationale as tfidf's linear idf: ln differs in the last ULP
    * between libm implementations, while this variant is built only
    * from integer-derived values and correctly-rounded ops
    * (bit-identical both engines; per-term monotone in df, so term
    * discrimination is preserved). dl/avgdl is computed as
    * dl*N/sum(dl) — integer products, one division.
    *
    * Plan shape: per-term tf and dl are per-row array expressions
    * (NO explode — the query set is tiny and fixed, so tf_t is
    * `size(filter(t, = term))`); corpus stats (N, Σdl, df_t) are one
    * 1-row aggregate broadcast back; the ranking is a global top-100
    * (TakeOrdered — k rows per partition cross the wire, never the
    * corpus). At 100 TB: one scan + one 1-row aggregate + top-k. */
  private val Bm25Terms = Seq("spark", "query", "join")
  private val Bm25K1 = "1.2"
  private val Bm25B = "0.75"
  private val Bm25K1p1 = "2.2"

  /** One query term's BM25 contribution — a single SQL string parsed
    * by BOTH engines (Spark `expr`, DuckDB verbatim), so the
    * arithmetic is structurally identical by construction. */
  private def bm25TermSql(q: String): String =
    // nullif: a corpus whose every doc tokenizes to zero tokens has
    // sdl = 0, and 0/0 raises DIVIDE_BY_ZERO under ANSI — null scores
    // (propagated identically by both engines) are the honest answer
    s"""((cast(n as double) - df_$q + 0.5) / (cast(df_$q as double) + 0.5))
       | * (cast(tf_$q as double) * $Bm25K1p1)
       | / (tf_$q + $Bm25K1 * (1 - $Bm25B + $Bm25B * (dl * n / nullif(sdl, 0))))"""
      .stripMargin.replace("\n", " ")

  /** The shared BM25 scoring frame: per-doc (doc_id, dl, tf_*) plus
    * the broadcast 1-row corpus stats, score UNROUNDED in `bm25_raw`.
    * Two consumers: `textBm25` (the ranked query) and the hybrid
    * retrieval fusion (`Similarity.pipelineHybridRetrieval`), which
    * ranks by the raw score — one definition, so the two registrations
    * cannot drift. */
  def bm25Frame(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the stats aggregate and the scoring projection are
    // two consumers — without this the corpus scans (and the tf array
    // expressions) run twice. Same session-cache precedent as tfidf's
    // tf frame; rows are (id + 4 longs), tiny relative to the text.
    val perDoc = Tables.documents(spark, dir)
      .withColumn("t", toks)
      .select(col("doc_id") +: size(col("t")).cast("long").as("dl") +:
        Bm25Terms.map(q =>
          size(filter(col("t"), x => x === q)).cast("long").as(s"tf_$q")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = perDoc.agg(
      count(lit(1)).as("n"),
      (sum(col("dl")).as("sdl") +: Bm25Terms.map(q =>
        sum(when(col(s"tf_$q") > 0, 1L).otherwise(0L)).as(s"df_$q"))): _*)
    // every subexpression is forced to DOUBLE before any fractional
    // literal touches it: a bare `0.5`/`2.2` is a DECIMAL literal on
    // BOTH engines, and their decimal promotion/scale rules differ —
    // the one NON-double-correctly-rounded path, and it showed up as
    // last-ULP score drift in the 6th decimal
    val score = Bm25Terms.map(q => expr(bm25TermSql(q))).reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("bm25_raw", score)
  }

  def textBm25(spark: SparkSession, dir: String): DataFrame =
    bm25Frame(spark, dir)
      .select((Seq(col("doc_id"), col("dl")) ++
        Bm25Terms.map(q => col(s"tf_$q")) :+ rnd(col("bm25_raw"), 6).as("bm25")): _*)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(100)

  /** Oracle-side twins of [[bm25Frame]], public for the hybrid
    * retrieval oracle: `Bm25SqlCtes` defines `perdoc`/`stats`,
    * `Bm25SqlScore` is the raw score over their cross join. */
  val Bm25SqlCtes: String = {
    val tfs = Bm25Terms.map(q =>
      s"cast(len(list_filter($toksSql, x -> x = '$q')) as bigint) AS tf_$q")
      .mkString(",\n       |    ")
    val dfs = Bm25Terms.map(q =>
      s"cast(sum(CASE WHEN tf_$q > 0 THEN 1 ELSE 0 END) as bigint) AS df_$q")
      .mkString(", ")
    s"""perdoc AS (
       |  SELECT doc_id, cast(len($toksSql) as bigint) AS dl,
       |    $tfs
       |  FROM documents),
       |stats AS (
       |  SELECT cast(count(*) as bigint) AS n, cast(sum(dl) as bigint) AS sdl,
       |    $dfs
       |  FROM perdoc)""".stripMargin
  }

  val Bm25SqlScore: String =
    Bm25Terms.map(q => s"(${bm25TermSql(q)})").mkString(" + ")

  private val textBm25Sql =
    s"""WITH $Bm25SqlCtes
       |SELECT doc_id, dl, ${Bm25Terms.map(q => s"tf_$q").mkString(", ")},
       |  ${rndSql(Bm25SqlScore, 6)} AS bm25
       |FROM perdoc CROSS JOIN stats
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- cms
  /** Count-Min point-frequency estimates for a fixed probe set — the
    * sketch-family member that answers "about how often does THIS
    * token occur" in one pass and depth×width longs of state (see
    * `CountMinMatrix`). depth 4 × width 64 is deliberately SMALL
    * relative to the vocabulary so collisions are real and the
    * estimates genuinely over-count: the interesting regime, and the
    * one the 100 TB deployment is in (width ≪ distinct tokens).
    *
    * Fully oracle-checked — the one sketch where that is possible:
    * counters are exact sums (merge-order invariant), and the bucket
    * hash is the cross-engine md5 + affine-mix construction, so
    * DuckDB recomputes the matrix cells from first principles. The
    * probe set includes an absent token: its estimate is pure
    * collision mass, the sketch's ε·N error made visible. */
  private val CmsDepth = 4
  private val CmsWidth = 64
  private val CmsProbes = Seq("join", "hash", "scan", "query", "nonesuch_token")

  def textCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{CmsCore, FreqSketch}
    val mat = Tables.documents(spark, dir)
      .select(explode(toks).as("tok"))
      .agg(FreqSketch.cmsMatrix(col("tok"), CmsDepth, CmsWidth).as("m"))
    // probe lookups: bucket indices are constant-folded from the
    // literal probes; each estimate is a min over depth matrix cells
    val ests = CmsProbes.map { p =>
      val cells = (0 until CmsDepth).map { i =>
        element_at(element_at(col("m"), i + 1),
          (CmsCore.bucketCol(lit(p), i, CmsWidth) + 1).cast("int"))
      }
      struct(lit(p).as("token"), least(cells: _*).as("est"))
    }
    mat.select(explode(array(ests: _*)).as("e"))
      .select(col("e.token").as("token"), col("e.est").as("est"))
      .orderBy(col("token"))
  }

  private val textCmsSql = {
    import graft.functions.CmsCore
    val d = CmsDepth
    val aList = (0 until d).map(CmsCore.A).mkString("[", ",", "]")
    val bList = (0 until d).map(CmsCore.B).mkString("[", ",", "]")
    val iList = (1 to d).mkString("[", ",", "]")
    val probeList = CmsProbes.map(p => s"'$p'").mkString("[", ",", "]")
    def bkt(e: String) =
      s"(((a * (${graft.functions.CrossEngine.md5LongSql(e)} % ${CmsCore.P}) + b) " +
        s"% ${CmsCore.P}) % $CmsWidth)"
    s"""WITH toks AS (SELECT unnest($toksSql) AS tok FROM documents),
       |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
       |seeds AS (SELECT unnest($aList) AS a, unnest($bList) AS b,
       |                 unnest($iList) AS i),
       |cells AS (
       |  SELECT i, ${bkt("tok")} AS bkt, c
       |  FROM counts CROSS JOIN seeds),
       |probes AS (SELECT unnest($probeList) AS token),
       |pb AS (
       |  SELECT token, i, ${bkt("token")} AS bkt
       |  FROM probes CROSS JOIN seeds),
       |rowest AS (
       |  SELECT pb.token, pb.i, cast(coalesce(sum(cells.c), 0) as bigint) AS rc
       |  FROM pb LEFT JOIN cells ON pb.i = cells.i AND pb.bkt = cells.bkt
       |  GROUP BY pb.token, pb.i)
       |SELECT token, min(rc) AS est
       |FROM rowest GROUP BY token ORDER BY token""".stripMargin
  }

  // ---------------------------------------------------------------- bpe train
  /** Distributed BPE merge-rule training (Sennrich et al., ACL 2016)
    * — the tokenizer-construction pass of an LLM data pipeline, and
    * the only operator here whose OUTPUT is a learned artifact (the
    * merge table a tokenizer ships with) rather than transformed
    * data.
    *
    * Scale shape — the textbook trick that makes corpus-scale BPE
    * tractable: training runs on the WORD-FREQUENCY TABLE, not the
    * corpus. The corpus is touched exactly once (one wordcount
    * shuffle); every Lloyd-style round after that shuffles only the
    * vocabulary frame (∝ distinct words × symbols/word, independent
    * of corpus size). Per round: adjacent-pair counts weighted by
    * word frequency (explode + one hash aggregate), the argmax pair
    * via `orderBy().limit(1)` (a 1-row TakeOrdered collect —
    * bounded), then a per-row `aggregate` fold rewrites each word's
    * symbol array with the merge applied greedily left-to-right
    * (non-overlapping, the standard semantics). Vocab is
    * localCheckpoint'd per round with superseded blocks freed — the
    * pagerank/components loop hygiene.
    *
    * Fully ORACLE-CHECKED despite being iterative: the DuckDB twin
    * unrolls every round as CTE stages (the kmeans unrolled-Lloyd
    * precedent), with the greedy merge expressed as a
    * bracket-encoded string `replace` (provably the same
    * non-overlapping left-to-right semantics as the fold — both
    * consume matched symbols and never rescan the replacement), and
    * ties broken identically (count DESC, left, right). */
  private val BpeMergeRounds = 10

  /** Engine kernel: merge table from a (word, freq) frame. Symbols
    * must not contain the control chars U+0001/U+0002 (the bracket encoding) —
    * true of whitespace tokens by construction. The merge table is
    * driver-materialized and the final vocab is never touched here
    * (r19: the training loop keeps the vocab as LAZY native merges
    * over one base checkpoint, so a merge-only call materializes no
    * final vocab at all — callers who need the vocab use
    * [[bpeTrainFull]], which checkpoints it and hands ownership out). */
  def bpeTrainMerges(words: DataFrame, nMerges: Int): DataFrame = {
    val (merges, base, baseIds, _) = bpeTrainCore(words, nMerges)
    // the merge table is driver-built rows — independent of the base
    // checkpoint, whose blocks can go immediately
    Dedup.freeBlocks(base.sparkSession, baseIds)
    merges
  }

  /** Train + keep the trained artifacts: (merge table, final vocab
    * (word, freq, syms)) — the vocab is each distinct word's
    * tokenization under the learned merges, which is what APPLYING
    * the tokenizer needs (`bpe_tokenize` joins it back to the
    * corpus; re-running the merge folds per occurrence would redo
    * per-word work ∝ corpus instead of ∝ vocabulary). The returned
    * vocab frame is localCheckpoint-backed: it stays valid after
    * this call, and its blocks are session-owned like the other
    * persisted kernels'. */
  def bpeTrainFull(words: DataFrame, nMerges: Int): (DataFrame, DataFrame) = {
    val (merges, base, baseIds, syms) = bpeTrainCore(words, nMerges)
    // materialize the final vocab once (the artifact this entry point
    // exists for), then drop the base it no longer depends on
    val (vocab, _) = Dedup.checkpointTracked(
      base.select(col("word"), col("freq"), syms.as("syms")))
    Dedup.freeBlocks(base.sparkSession, baseIds)
    (merges, vocab)
  }

  private def bpeTrainCore(words: DataFrame, nMerges: Int)
      : (DataFrame, DataFrame, Set[Int], Column) = {
    val spark = words.sparkSession
    val charSplit = expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    // ONE vocabulary-sized checkpoint for the whole training loop
    // (r19): each round's merge is a NATIVE codegen'd rewrite
    // ([[graft.functions.BpeMergeSyms]] — same greedy left-to-right
    // non-overlapping semantics as the interpreted `aggregate` fold
    // it replaces, see its doc), cheap enough that round k just
    // re-applies merges 1..k-1 lazily over the base scan instead of
    // materializing a fresh vocab checkpoint per round. Per round
    // that removes one full vocab write + its driver action + the
    // superseded-block drain, and kills the per-row interpreted
    // lambda dispatch (guide §4 / §1.2 step 1); the re-applied
    // merges are ~ns/symbol loops over vocabulary-sized (never
    // corpus-sized) data, bounded by nMerges × |vocab| total.
    val (base, baseIds) = Dedup.checkpointTracked(
      words.filter(length(col("word")) > 0)
        .select(col("word"), col("freq"), charSplit.as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var syms: Column = col("syms") // merges 1..k-1 nested over the base
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      // adjacent pairs as zip(syms[0..n-2], syms[1..n-1]) — a TOTAL
      // expression (slice of a too-short array is just empty), unlike
      // an index-arithmetic transform, whose element_at can trip ANSI
      // bounds checks on single-symbol rows however the plan is
      // reordered around a guard filter
      val top = base
        .select(col("freq"), syms.as("syms"))
        .select(col("freq"), arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r")).as("ps"))
        .select(explode(col("ps")).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect() // bounded: exactly the argmax row
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, l, r, cnt))
        syms = graft.functions.BpeFunctions.bpeMerge(syms, l, r)
      }
      k += 1
    }
    import spark.implicits._
    val mergeTable = merges.toSeq.toDF("merge_rank", "lft", "rgt", "pair_count")
      .select(col("merge_rank"), col("lft"), col("rgt"),
        concat(col("lft"), col("rgt")).as("merged"), col("pair_count"))
      .orderBy(col("merge_rank"))
    // the final vocab stays LAZY (base checkpoint + nested native
    // merges): merge-only callers never materialize it, vocab
    // consumers (bpeTrainFull) checkpoint it once
    (mergeTable, base, baseIds, syms)
  }

  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainMerges(
      Tables.documents(spark, dir)
        .select(explode(toks).as("tok"))
        .groupBy(lower(col("tok")).as("word"))
        .agg(count(lit(1)).as("freq")),
      BpeMergeRounds)

  /** The unrolled oracle: one (p_k, m_k, v_k) CTE triple per round.
    * Bracket encoding: each symbol is wrapped in chr(1)/chr(2) brackets, so the
    * merge `replace` of <l><r> → <lr> can
    * neither match a partial symbol (the closing bracket pins the
    * symbol end) nor re-match its own output by reusing a shared
    * boundary (each match consumes both full symbols). */
  /** The shared CTE chain `words, v0, (p_k, m_k, v_k)*` — used by
    * both the merge-table oracle and the tokenize oracle (whose
    * applied vocab IS the final v-stage). */
  private val bpeStagesSql = {
    def stage(k: Int): String = {
      val prev = s"v${k - 1}"
      s"""p$k AS (
         |  SELECT pr.l AS l, pr.r AS r, sum(freq) AS cnt FROM (
         |    SELECT freq, unnest(list_filter(
         |      list_transform(syms, (x, i) -> {'l': x, 'r': syms[i+1]}),
         |      t -> t.r IS NOT NULL)) AS pr
         |    FROM $prev) GROUP BY pr.l, pr.r),
         |m$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |v$k AS (
         |  -- LEFT JOIN ON TRUE, not CROSS JOIN: when merges exhaust
         |  -- before round $k (m$k empty), the vocab must pass through
         |  -- unchanged — a cross join would empty every later stage
         |  -- and falsely zero the tokenize oracle's final-vocab join
         |  SELECT word, freq,
         |    CASE WHEN m$k.l IS NULL THEN syms ELSE
         |    list_transform(
         |      string_split(
         |        replace(chr(1) || array_to_string(syms, chr(2) || chr(1)) || chr(2),
         |                chr(1) || m$k.l || chr(2) || chr(1) || m$k.r || chr(2),
         |                chr(1) || m$k.l || m$k.r || chr(2)),
         |        chr(2) || chr(1)),
         |      x -> replace(replace(x, chr(1), ''), chr(2), '')) END AS syms
         |  FROM $prev LEFT JOIN m$k ON TRUE)""".stripMargin
    }
    val stages = (1 to BpeMergeRounds).map(stage).mkString(",\n")
    s"""words AS (
       |  SELECT lower(tok) AS word, cast(count(*) as bigint) AS freq
       |  FROM (SELECT unnest($toksSql) AS tok FROM documents)
       |  GROUP BY lower(tok)),
       |v0 AS (
       |  SELECT word, freq, regexp_split_to_array(word, '') AS syms
       |  FROM words WHERE length(word) > 0),
       |$stages""".stripMargin
  }

  private val bpeTrainSql = {
    val union = (1 to BpeMergeRounds).map(k =>
      s"SELECT $k AS merge_rank, l AS lft, r AS rgt, l || r AS merged, " +
        s"cast(cnt as bigint) AS pair_count FROM m$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeStagesSql
       |$union
       |ORDER BY merge_rank""".stripMargin
  }

  // ---------------------------------------------------------------- bpe apply
  /** Token-budget estimation under the LEARNED tokenizer — the pass
    * that prices a corpus in training tokens before any batch is
    * built (data mixing, cost projection, sequence packing all
    * consume it): train the merge table (`bpeTrainFull`), then count
    * each document's tokens under it.
    *
    * Scale shape: application does NOT re-run the merge folds per
    * occurrence — the training loop's final vocab frame already
    * holds every DISTINCT word's tokenization, so applying the
    * tokenizer is one equi-join of corpus tokens against the
    * vocab (∝ vocabulary, broadcastable in practice) + one doc-keyed
    * aggregate. Per-word work is paid once per distinct word, not
    * once per occurrence. */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    // the corpus IS tokenized twice (once for the word-frequency
    // training input, once for the application join) — deliberately:
    // persisting one shared exploded (doc_id, word) frame was tried
    // and MEASURED SLOWER (9.3 s vs 7.0 s at sf1, same run) — caching the
    // token explosion materializes ~n_tokens rows, which costs more
    // than a second columnar scan + re-explode; the training side
    // also aggregates straight into vocabulary-sized state, so the
    // map-side combine never materializes the explosion at all
    val words = Tables.documents(spark, dir)
      .select(explode(toks).as("tok"))
      .groupBy(lower(col("tok")).as("word"))
      .agg(count(lit(1)).as("freq"))
    val (_, vocab) = bpeTrainFull(words, BpeMergeRounds)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("word"))
      .join(vocab.select(col("word"), size(col("syms")).as("n_syms"),
        length(col("word")).as("wlen")), "word")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_ws_tokens"),
        sum(col("n_syms")).as("n_bpe_tokens"),
        sum(col("wlen")).as("n_word_chars"))
      .withColumn("chars_per_token",
        rnd(col("n_word_chars").cast("double") / col("n_bpe_tokens"), 4))
      .orderBy(col("doc_id"))
  }

  private val bpeTokenizeSql =
    s"""WITH $bpeStagesSql
       |SELECT t.doc_id, count(*) AS n_ws_tokens,
       |  cast(sum(len(v.syms)) as bigint) AS n_bpe_tokens,
       |  cast(sum(length(v.word)) as bigint) AS n_word_chars,
       |  ${rndSql("cast(sum(length(v.word)) as double) / sum(len(v.syms))", 4)}
       |    AS chars_per_token
       |FROM (SELECT doc_id, lower(tok) AS word
       |      FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)) t
       |JOIN v$BpeMergeRounds v USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- rule filter
  /** Gopher/C4-style RULE filter (round 7): the named-threshold
    * document gate every production corpus build runs before the
    * expensive stages (method: Rae et al., "Gopher", arXiv:2112.11446
    * §A1.1; Raffel et al., C4, arXiv:1910.10683 §2.2 — thresholds
    * recalibrated to this synthetic corpus so both outcomes occur;
    * real-corpus values are config, not algorithm). Five rules, each
    * a pure per-row codegen'd expression — no shuffle at any corpus
    * size, trivially streamable:
    *
    *   1. word_count      — n_words ∈ [20, 90]
    *   2. mean_word_len   — mean token length ∈ [3, 6]
    *   3. distinct_ratio  — distinct/total tokens ≥ 0.35 (the
    *      within-doc repetition gate; `text_repetition` measures the
    *      same axis continuously)
    *   4. stopwords       — ≥ 2 stopword hits (token occurrences,
    *      not distinct types — the Gopher form)
    *   5. top_word_share  — most-frequent token ≤ 15% of the doc
    *
    * Output: the measured metrics, per-rule pass booleans, `keep`,
    * and `fail_reason` = FIRST failed rule's name (NULL when kept) —
    * the reason column is what makes rejection auditable downstream
    * (a filter that only drops rows can't be debugged at 100 TB).
    * Unlike `text_quality` (a continuous score for ranking), this is
    * the hard gate with named causes. All comparisons are on raw
    * integer-derived doubles (exact on both engines). */
  def textFilterQuality(spark: SparkSession, dir: String): DataFrame =
    // spreadHint: the gate's tokenize + per-rule metrics are per-row
    // work on a byte-small scan. Leave-one-out at sf0.1, local[4]:
    // 0.99 s with, 1.61 s without (medians), the call winning 5 of 5
    // pairs
    qualityRules(Tables.spreadHint(Tables.documents(spark, dir)))
      .orderBy(col("doc_id"))

  /** The rule projection over any frame with (doc_id, text) — shared
    * by the registered query and the streaming twin
    * (`StreamingJobs.qualityFilterStream`): stateless per-row
    * expressions, so batch and ingest-time gating select identical
    * documents. */
  /** The gate's measured metrics + per-rule booleans over a token
    * array `t` (raw `text` in scope) — ONE expression construction
    * under [[qualityRules]]'s audited projection and [[qualityKeep]]'s
    * single-Column form, so a rule change cannot desynchronize the
    * two. */
  private case class GateCols(nW: Column, meanLen: Column,
      distinctRatio: Column, stopHits: Column, topShare: Column,
      rWords: Column, rMean: Column, rDistinct: Column,
      rStop: Column, rTop: Column) {
    def keep: Column = rWords && rMean && rDistinct && rStop && rTop
  }

  private def gateCols(t: Column): GateCols =
    gateCols(t, length(regexp_replace(col("text"), "\\s+", "")))

  /** `nonWsLen` = length of the text with all whitespace removed —
    * passed in (rather than derived from a text column here) so the
    * single-expression filter form can bind it once per row alongside
    * the token array. */
  private def gateCols(t: Column, nonWsLen: Column): GateCols = {
    val nW = size(t)
    val meanLen = nonWsLen.cast("double") / nW
    val distinctRatio = size(array_distinct(t)).cast("double") / nW
    val stopHits = size(filter(t, x => x.isin(Stopwords: _*)))
    // Max token frequency as the longest run in the SORTED token array
    // (one O(n log n) sort + O(n) fold per row) — the nested
    // filter-in-transform form was O(tokens × distinct tokens) per doc,
    // quadratic on web-scale documents. Same value, so the oracle SQL
    // and every hash are unchanged.
    val maxTokenCount = aggregate(
      array_sort(t),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val topShare =
      when(nW > 0, maxTokenCount.cast("double") / nW)
    GateCols(nW, meanLen, distinctRatio, stopHits, topShare,
      nW >= 20 && nW <= 90,
      meanLen >= 3.0d && meanLen <= 6.0d,
      distinctRatio >= 0.35d,
      stopHits >= 2,
      topShare <= 0.15d)
  }

  /** The gate's keep decision as ONE boolean Column over a frame
    * exposing `text` — for composed chains (batch or streaming) that
    * must carry their other columns THROUGH the gate rather than
    * semi-join back on doc_id (a stream cannot self-join). The token
    * array is inlined, so this is the same stateless per-row
    * predicate [[qualityRules]] projects as `keep`. */
  def qualityKeep: Column = qualityKeepOn(col("text"))

  /** [[qualityKeep]] over an ARBITRARY text column — for chains whose
    * text no longer rides a column literally named `text` (the curate
    * re-gate runs on `cleaned_text`). Same stateless per-row predicate;
    * inlining it as a `.filter` instead of a build-side
    * qualityRules→semi-join removes one full scan of the corpus and
    * one join per gate application (guide §2.4: remove shuffles
    * outright) without changing which rows survive.
    *
    * The token array and the non-whitespace length are BOUND ONCE per
    * row through a single-element higher-order lambda: filter pushdown
    * substitutes column aliases into the pushed predicate with no cost
    * guard, and higher-order functions evaluate interpreted (no
    * common-subexpression elimination), so the naive inline form
    * re-tokenized the document once per rule reference — 9 split+filter
    * evaluations per row in the measured plan. A lambda variable is
    * evaluated exactly once no matter how many times the rules read
    * it, and the optimizer cannot split the expression apart. */
  def qualityKeepOn(text: Column): Column = {
    val t = filter(split(text, "\\s+"), x => x =!= "")
    val bound = struct(t.as("t"),
      length(regexp_replace(text, "\\s+", "")).as("nc"))
    forall(array(bound),
      s => gateCols(s.getField("t"), s.getField("nc")).keep)
  }

  // ---------------------------------------------------------------- gopher gate
  /** Gopher's published stopword list (Rae et al. 2021, A1.1): a doc
    * must contain ≥ 2 DISTINCT members. Distinct from this file's
    * [[Stopwords]] scoring list — the point of this operator is the
    * paper's exact rule set, not a re-tuned one. */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The MassiveText quality gate exactly as published (Rae et al.
    * 2021 "Scaling Language Models: … Gopher", Appendix A1.1) — the
    * rule set most pipelines start from before re-tuning, shipped
    * next to the re-tuned [[qualityRules]] so a user can run the
    * paper's thresholds verbatim: word count in [50, 100k], mean
    * word length in [3, 10], symbol-to-word ratio (# or …) ≤ 0.1,
    * ≤ 90% of lines bullet-started and ≤ 30% ellipsis-ended, ≥ 80%
    * of words with ≥ 1 alphabetic char, ≥ 2 distinct stopwords.
    * Line rules evaluate on '\n'-split lines (a single-line corpus
    * passes them vacuously — stated rather than silently dropped).
    *
    * Every metric is an integer-derived per-row projection (counts,
    * replace-based occurrence counts, higher-order filters over the
    * token array) with the one double division at the end — the
    * cross-engine discipline of every text op here; `keep` and
    * `fail_reason` derive from the same expressions, so the audit
    * columns cannot desynchronize from the decision. Stateless and
    * shuffle-free at any corpus size. */
  def gopherRules(docs: DataFrame): DataFrame = {
    // one split each for tokens and lines, referenced by name:
    // whole-stage codegen's subexpression elimination already dedupes
    // the identical split subtrees, so this is a modest measured win
    // (sf10 29.5 → 26.2 s, sf1 3.2 → 2.5 s — the lambda-arg positions
    // CSE can't reach), not a structural one; it also keeps the seven
    // metric expressions readable against the paper's rule list
    val t = col("t")
    val nW = size(t)
    val meanLen = length(regexp_replace(col("text"), "\\s+", ""))
      .cast("double") / nW
    // non-overlapping leftmost occurrence counts, identical on both
    // engines: '#' per char, '...' per replace-removed triple
    val nSym = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))) +
      (length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3
    val symRatio = nSym.cast("double") / nW
    val alphaRatio =
      size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double") / nW
    val nStops = GopherStops
      .map(s => when(array_contains(t, s), 1).otherwise(0))
      .reduce(_ + _)
    val lines = col("ls")
    val nL = size(lines)
    val bulletShare = size(filter(lines,
      l => l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
      .cast("double") / nL
    val ellipsisShare = size(filter(lines, l => l.endsWith("...")))
      .cast("double") / nL
    val rWords = nW >= 50 && nW <= 100000
    val rMean = meanLen >= 3.0d && meanLen <= 10.0d
    val rSym = symRatio <= 0.1d
    val rBullet = bulletShare <= 0.9d
    val rEllipsis = ellipsisShare <= 0.3d
    val rAlpha = alphaRatio >= 0.8d
    val rStops = nStops >= 2
    docs
      .withColumn("t", toks)
      .withColumn("ls", filter(split(col("text"), "\n"), l => l =!= ""))
      .select(
      col("doc_id"),
      nW.as("n_words"),
      rnd(meanLen, 4).as("mean_word_len"),
      rnd(symRatio, 4).as("symbol_ratio"),
      rnd(bulletShare, 4).as("bullet_share"),
      rnd(ellipsisShare, 4).as("ellipsis_share"),
      rnd(alphaRatio, 4).as("alpha_word_ratio"),
      nStops.as("n_stopwords"),
      (rWords && rMean && rSym && rBullet && rEllipsis && rAlpha && rStops)
        .as("keep"),
      when(!rWords, "word_count").when(!rMean, "mean_word_len")
        .when(!rSym, "symbol_ratio").when(!rBullet, "bullet_lines")
        .when(!rEllipsis, "ellipsis_lines").when(!rAlpha, "alpha_words")
        .when(!rStops, "stopwords").as("fail_reason"))
  }

  def textFilterGopher(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  private val textFilterGopherSql = {
    val stops = GopherStops.map(s => s"CASE WHEN list_contains(tk, '$s') " +
      "THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, text, $toksSql AS tk,
       |    list_filter(regexp_split_to_array(text, chr(10)), l -> l <> '')
       |      AS ls
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    cast(len(tk) as int) AS n_words,
       |    cast(length(regexp_replace(text, '\\s+', '', 'g')) as double)
       |      / len(tk) AS mean_word_len,
       |    cast((length(text) - length(replace(text, '#', '')))
       |      + (length(text) - length(replace(text, '...', ''))) // 3
       |      as double) / len(tk) AS symbol_ratio,
       |    cast(len(list_filter(ls, l -> l LIKE '-%' OR l LIKE '*%'
       |      OR l LIKE chr(8226) || '%')) as double) / len(ls)
       |      AS bullet_share,
       |    cast(len(list_filter(ls, l -> l LIKE '%...')) as double)
       |      / len(ls) AS ellipsis_share,
       |    cast(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
       |      as double) / len(tk) AS alpha_word_ratio,
       |    cast($stops as int) AS n_stopwords
       |  FROM t)
       |SELECT doc_id, n_words,
       |  ${rndSql("mean_word_len", 4)} AS mean_word_len,
       |  ${rndSql("symbol_ratio", 4)} AS symbol_ratio,
       |  ${rndSql("bullet_share", 4)} AS bullet_share,
       |  ${rndSql("ellipsis_share", 4)} AS ellipsis_share,
       |  ${rndSql("alpha_word_ratio", 4)} AS alpha_word_ratio,
       |  n_stopwords,
       |  (n_words BETWEEN 50 AND 100000) AND mean_word_len BETWEEN 3.0 AND 10.0
       |    AND symbol_ratio <= 0.1 AND bullet_share <= 0.9
       |    AND ellipsis_share <= 0.3 AND alpha_word_ratio >= 0.8
       |    AND n_stopwords >= 2 AS keep,
       |  CASE WHEN NOT (n_words BETWEEN 50 AND 100000) THEN 'word_count'
       |    WHEN NOT (mean_word_len BETWEEN 3.0 AND 10.0) THEN 'mean_word_len'
       |    WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
       |    WHEN bullet_share > 0.9 THEN 'bullet_lines'
       |    WHEN ellipsis_share > 0.3 THEN 'ellipsis_lines'
       |    WHEN alpha_word_ratio < 0.8 THEN 'alpha_words'
       |    WHEN n_stopwords < 2 THEN 'stopwords'
       |    ELSE NULL END AS fail_reason
       |FROM m ORDER BY doc_id""".stripMargin
  }

  def qualityRules(docs: DataFrame): DataFrame = {
    val g = gateCols(col("t"))
    docs
      .withColumn("t", toks)
      .select(
        col("doc_id"),
        g.nW.as("n_words"),
        rnd(g.meanLen, 4).as("mean_word_len"),
        rnd(g.distinctRatio, 4).as("distinct_ratio"),
        g.stopHits.as("stop_hits"),
        rnd(g.topShare, 4).as("top_word_share"),
        g.rWords.as("r_word_count"),
        g.rMean.as("r_mean_word_len"),
        g.rDistinct.as("r_distinct_ratio"),
        g.rStop.as("r_stopwords"),
        g.rTop.as("r_top_word_share"),
        g.keep.as("keep"),
        when(!g.rWords, "word_count").when(!g.rMean, "mean_word_len")
          .when(!g.rDistinct, "distinct_ratio").when(!g.rStop, "stopwords")
          .when(!g.rTop, "top_word_share").as("fail_reason"))
  }

  /** The five gate rules as DuckDB SQL snippets — ONE definition
    * consumed by both `text_filter_quality`'s oracle and any
    * composed-pipeline oracle that re-applies the gate
    * (`pipeline_curate_v3`). */
  private[operators] object QualityRuleSql {
    private val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    val nW = s"len($toksSql)"
    val meanLen =
      s"cast(length(regexp_replace(text, '\\s+', '', 'g')) as double) / $nW"
    val distinctRatio = s"cast(len(list_distinct($toksSql)) as double) / $nW"
    val stopHits = s"len(list_filter($toksSql, t -> t IN ($stopList)))"
    val topShare = s"cast(list_max(list_transform(list_distinct($toksSql), " +
      s"x -> len(list_filter($toksSql, y -> y = x)))) as double) / $nW"
    val rWords = s"($nW >= 20 AND $nW <= 90)"
    val rMean = s"($meanLen >= cast(3.0 as double) AND $meanLen <= cast(6.0 as double))"
    val rDistinct = s"($distinctRatio >= cast(0.35 as double))"
    val rStop = s"($stopHits >= 2)"
    val rTop = s"($topShare <= cast(0.15 as double))"
    val keep = s"($rWords AND $rMean AND $rDistinct AND $rStop AND $rTop)"
  }

  private val textFilterQualitySql = {
    import QualityRuleSql._
    s"""SELECT doc_id,
       |  cast($nW as int) AS n_words,
       |  ${rndSql(meanLen, 4)} AS mean_word_len,
       |  ${rndSql(distinctRatio, 4)} AS distinct_ratio,
       |  cast($stopHits as int) AS stop_hits,
       |  ${rndSql(topShare, 4)} AS top_word_share,
       |  $rWords AS r_word_count,
       |  $rMean AS r_mean_word_len,
       |  $rDistinct AS r_distinct_ratio,
       |  $rStop AS r_stopwords,
       |  $rTop AS r_top_word_share,
       |  ($rWords AND $rMean AND $rDistinct AND $rStop AND $rTop) AS keep,
       |  CASE WHEN NOT $rWords THEN 'word_count'
       |    WHEN NOT $rMean THEN 'mean_word_len'
       |    WHEN NOT $rDistinct THEN 'distinct_ratio'
       |    WHEN NOT $rStop THEN 'stopwords'
       |    WHEN NOT $rTop THEN 'top_word_share' END AS fail_reason
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("mg_topk", mgTopkHeavyHitters _, None),
    QueryDef("text_heavy_hitters", textHeavyHitters _,
      Some(textHeavyHittersSql)),
    QueryDef("text_filter_gopher", textFilterGopher _,
      Some(textFilterGopherSql)),
    QueryDef("text_filter_quality", textFilterQuality _,
      Some(textFilterQualitySql)),
    QueryDef("bpe_train", bpeTrain _, Some(bpeTrainSql)),
    QueryDef("bpe_tokenize", bpeTokenize _, Some(bpeTokenizeSql)),
    QueryDef("text_cms", textCms _, Some(textCmsSql)),
    QueryDef("text_bm25", textBm25 _, Some(textBm25Sql)),
    QueryDef("text_stats", textStats _, Some(textStatsSql)),
    QueryDef("text_tfidf", textTfidf _, Some(textTfidfSql)),
    QueryDef("text_tokens_bpe", textTokensBpe _, Some(textTokensBpeSql)),
    QueryDef("text_quality", textQuality _, Some(textQualitySql)),
    QueryDef("text_langid", textLangid _, Some(textLangidSql)),
    QueryDef("text_fingerprint", textFingerprint _, Some(textFingerprintSql)),
    QueryDef("text_repetition", textRepetition _, Some(textRepetitionSql)),
    QueryDef("text_redact", textRedact _, Some(textRedactSql)),
    QueryDef("text_vocab", textVocab _, Some(textVocabSql)),
    QueryDef("text_ngrams", textNgrams _, Some(textNgramsSql)),
    QueryDef("text_lm_score", textLmScore _, Some(textLmScoreSql)),
    QueryDef("text_cooccurrence", textCooccurrence _,
      Some(textCooccurrenceSql)))
}
