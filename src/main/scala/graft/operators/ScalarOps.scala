package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CrossEngine.{dsum, dsumSql, md5Long, md5LongSql, rnd, rndSql}

/** Scalar-function coverage extensions (SURVEY.md §2 B): regex
  * extraction, null-handling combinators, and deterministic
  * hash-based sampling (the reproducible alternative to
  * `TABLESAMPLE` — same rows on every engine, every run, any
  * partitioning; the only sane way to sample a 100 TB training
  * corpus reproducibly).
  */
object ScalarOps {

  // ---------------------------------------------------------------- sample
  /** Deterministic ~10% Bernoulli sample keyed on md5(doc_id). */
  def qSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(pmod(md5Long(col("doc_id").cast("string")), lit(10)) === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val qSampleSql =
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ${md5LongSql("cast(doc_id as varchar)")} % 10 = 0
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- stratified
  /** Stratified deterministic sampling: EXACTLY ⌈10%⌉ of each lang
    * stratum (Bernoulli sampling under/over-shoots small strata —
    * curation quotas need exact per-stratum counts). Each doc's rank
    * within its stratum is its position in md5 order (a deterministic
    * shuffle — same rows on any engine/partitioning/run); the cutoff
    * ⌈n/10⌉ is pure integer arithmetic. One shuffle on the stratum
    * key; the rank window and the stratum-size window share it. At
    * 100 TB a skewed stratum bottlenecks its single partition — there
    * `sampleStratifiedScalable` below computes the same rank from a
    * range exchange (no per-stratum window); this window form stays
    * the readable oracle twin. */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("sample_rank", row_number().over(
        w.orderBy(md5(concat(lit("strat:"), col("doc_id").cast("string"))), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("sample_rank") <= expr("(n + 9) div 10")) // ⌈n/10⌉, integer-exact
      .select(col("doc_id"), col("lang"), col("n_chars"), col("sample_rank"))
      .orderBy(col("doc_id"))
  }

  private val qSampleStratifiedSql =
    """WITH r AS (
      |  SELECT doc_id, lang, n_chars,
      |    cast(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5('strat:' || cast(doc_id as varchar)), doc_id) as int)
      |      AS sample_rank,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT doc_id, lang, n_chars, sample_rank FROM r
      |WHERE sample_rank <= (n + 9) // 10
      |ORDER BY doc_id""".stripMargin

  /** PUBLIC scalable exact-quota stratified sampler — the 100 TB form
    * of the window sampler above: the skew caveat (one window
    * partition per stratum = one straggler task per hot stratum) is
    * eliminated by computing the within-stratum rank the mr_sort way —
    * a RANGE exchange on (stratum, md5key) + per-partition sorted
    * local index, with ranks = broadcast block-offset + local
    * position. A hot stratum spans MANY range partitions; the only
    * windows run over the (partition × stratum) block table
    * (≤ partitions × |strata| rows).
    *
    * Takes exactly ⌈n · numer / denom⌉ rows per stratum, chosen in
    * deterministic md5(keyCol) order — same rows on any engine,
    * partitioning, or run. `keyCol` must be unique per row. Output =
    * input columns + `sample_rank` (1-based within stratum). */
  def stratifiedSampleExact(df: DataFrame, strataCol: String, keyCol: String,
      numer: Int, denom: Int, partitions: Int = 32): DataFrame = {
    require(numer >= 0 && denom > 0, s"bad fraction $numer/$denom")
    stratumRanked(df, strataCol, keyCol, partitions)(
      // ⌈n·numer/denom⌉, integer-exact on both engines
      (rank, n) => rank <= (n * numer + lit(denom - 1)) / denom)
  }

  /** PUBLIC per-stratum cap on the same rank kernel: keep at most
    * `cap` rows per stratum, chosen in the same deterministic
    * md5(keyCol) order — the web-curation "at most N documents per
    * domain/source" quota (a fixed per-source budget, where the
    * sampler above keeps a FRACTION: a 10× hotter domain still gets
    * 10× more rows through a fraction; a cap flattens it). */
  def capPerStratum(df: DataFrame, strataCol: String, keyCol: String,
      cap: Int, partitions: Int = 32): DataFrame = {
    require(cap >= 0, s"bad cap $cap")
    stratumRanked(df, strataCol, keyCol, partitions)((rank, _) => rank <= cap)
  }

  /** The shared rank machinery of the two quota operators above:
    * every input row + its deterministic 1-based md5-order rank
    * within its stratum, filtered by `keep(rank, stratumSize)`. */
  private def stratumRanked(df: DataFrame, strataCol: String, keyCol: String,
      partitions: Int)(keep: (Column, Column) => Column): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // internal columns are namespaced: the kernel takes ARBITRARY
    // frames, and a caller column named "k"/"pid"/"n" must neither be
    // overwritten nor shadow the arithmetic
    val inCols = df.columns.toSeq
    require(!inCols.contains("sample_rank"),
      "the stratum-rank kernel adds a sample_rank column; input already has one")
    val (kC, midC, pidC) = ("__gr_k", "__gr_mid", "__gr_pid")
    val localIdx = expr(s"$midC & 8589934591") // lower 33 bits of the id
    val pid = expr(s"shiftright($midC, 33)")
    val sorted = df
      .withColumn(kC, md5(concat(lit("strat:"), col(keyCol).cast("string"))))
      .repartitionByRange(partitions, col(strataCol), col(kC), col(keyCol))
      .sortWithinPartitions(col(strataCol), col(kC), col(keyCol))
      .withColumn(midC, monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK) // block table + ranks share one sort
    // per-(partition, stratum) block sizes and first local index: a
    // stratum's rows are contiguous within each sorted partition, so
    // within-block position = localIdx - first_idx, in (k, key) order
    val blocks = sorted
      .groupBy(pid.as(pidC), col(strataCol))
      .agg(count(lit(1)).as("__gr_cnt"), min(localIdx).as("__gr_first"))
    val offs = blocks
      .withColumn("__gr_off", coalesce(sum(col("__gr_cnt")).over(
        Window.partitionBy(col(strataCol)).orderBy(col(pidC))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__gr_n", sum(col("__gr_cnt")).over(
        Window.partitionBy(col(strataCol))))
      .select(col(pidC).as("__gr_pid_r"), col(strataCol).as("__gr_strat_r"),
        col("__gr_off"), col("__gr_first"), col("__gr_n"))
    sorted
      .withColumn(pidC, pid)
      // null-safe stratum match: a NULL stratum is a real stratum (the
      // window form's partitionBy groups NULLs together — so must we)
      .join(broadcast(offs),
        col(pidC) === col("__gr_pid_r") && col(strataCol) <=> col("__gr_strat_r"))
      .withColumn("sample_rank",
        (col("__gr_off") + (localIdx - col("__gr_first")) + 1).cast("int"))
      .filter(keep(col("sample_rank"), col("__gr_n")))
      .select((inCols :+ "sample_rank").map(col): _*)
  }

  /** The oracle-checked query form: 10% of documents per lang through
    * the kernel above. Semantics identical to `q_sample_stratified` —
    * the same oracle SQL hash-checks both. */
  def sampleStratifiedScalable(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleExact(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      strataCol = "lang", keyCol = "doc_id", numer = 1, denom = 10)
      .orderBy(col("doc_id"))

  /** Per-source document cap (≤ 15 per source, deterministic
    * md5-order) — the domain-flattening curation quota, through
    * [[capPerStratum]] on the same scalable rank kernel. */
  def qDomainCap(spark: SparkSession, dir: String): DataFrame =
    capPerStratum(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      strataCol = "source", keyCol = "doc_id", cap = 15)
      .orderBy(col("doc_id"))

  private val qDomainCapSql =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    cast(row_number() OVER (PARTITION BY source
      |      ORDER BY md5('strat:' || cast(doc_id as varchar)), doc_id) as int)
      |      AS sample_rank
      |  FROM documents)
      |SELECT doc_id, source, sample_rank FROM r
      |WHERE sample_rank <= 15
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- weighted (PPS)
  /** Target sample count for the registered PPS query. */
  private val PpsSamples = 100

  /** Weighted (probability-proportional-to-size) SYSTEMATIC sampling
    * — the quality/length-weighted corpus draw the md5-Bernoulli
    * sampler can't give (every doc there is equally likely; corpus
    * mixing wants long or high-quality docs favored ∝ weight) — with
    * ENTIRELY INTEGER selection arithmetic, so the draw is bit-equal
    * on any engine: docs are laid on a line in deterministic
    * md5-shuffled order, each occupying [C, C+w) where C is its
    * exclusive weight prefix; thresholds sit at every multiple of
    * stride = ⌊ΣW/k⌋; a doc is drawn iff its interval covers a
    * threshold, with multiplicity `n_hits` = thresholds covered (the
    * estimator's repeat count when w > stride — emitted, not hidden).
    * Exactly ⌈ΣW/stride⌉ ≥ k hits total, every hit exact integer
    * math (the float u^(1/w) key of Efraimidis-Spirakis ranking
    * would make the k-th/k+1-th boundary an engine-ULP coin flip).
    *
    * Unlike the Bernoulli/stratified samplers this draw is
    * corpus-DEPENDENT (inserting a doc shifts every later prefix) —
    * inherent to any exact-k weighted design; the md5 order keeps it
    * reproducible for a fixed corpus.
    *
    * Scale shape: the prefix C is the mr_sort/pack_sequences
    * two-level scaffolding (range exchange on the md5 key, local
    * prefix per partition, one `partitions`-row offset table
    * broadcast back — no single-partition window at any size); the
    * 1-row total joins broadcast (the text_tfidf corpus-N pattern).
    * The selection predicate is shifted by +stride so every div
    * operand is nonnegative — `div` truncates toward zero on both
    * engines, which diverges from floor exactly at the C = 0 first
    * doc. */
  def weightedSystematicSample(docs: DataFrame, k: Int,
      partitions: Int = 32): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(k >= 1, s"k must be >= 1, got $k")
    val sorted = docs
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => x =!= ""))
          .cast("long").as("w"))
      .withColumn("__ord", md5Long(concat(lit("pps:"), col("doc_id").cast("string"))))
      .repartitionByRange(partitions, col("__ord"), col("doc_id"))
      .sortWithinPartitions(col("__ord"), col("doc_id"))
      .withColumn("mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK) // offsets + prefix share one sort
    val offs = PrefixSum.partitionOffsets(sorted, col("w"))
    val total = sorted.agg(sum(col("w")).as("__tw"))
    val localBefore = Window.partitionBy(col("pid")).orderBy(col("mid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sorted
      .withColumn("pid", PrefixSum.pid)
      .withColumn("lb", coalesce(sum(col("w")).over(localBefore), lit(0L)))
      .join(broadcast(offs), "pid")
      .withColumn("c", col("off") + col("lb"))
      .crossJoin(broadcast(total))
      .withColumn("stride", greatest(expr(s"__tw div $k"), lit(1L)))
      .withColumn("n_hits",
        expr("(c + w - 1 + stride) div stride - (c - 1 + stride) div stride"))
      .filter(col("w") > 0 && col("n_hits") > 0)
      .select(col("doc_id"), col("w").as("n_tokens"), col("n_hits"))
      .orderBy(col("doc_id"))
  }

  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedSystematicSample(Tables.documents(spark, dir), PpsSamples)

  private val qSampleWeightedSql = {
    val toksSql = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"
    s"""WITH t AS (
       |  SELECT doc_id, cast(len($toksSql) as bigint) AS w,
       |    ${md5LongSql("'pps:' || cast(doc_id as varchar)")} AS ord
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, w,
       |    coalesce(sum(w) OVER (ORDER BY ord, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
       |  FROM t),
       |tot AS (SELECT greatest(sum(w) // $PpsSamples, 1) AS stride FROM t)
       |SELECT doc_id, w AS n_tokens,
       |  cast((c + w - 1 + stride) // stride - (c - 1 + stride) // stride
       |    as bigint) AS n_hits
       |FROM c, tot
       |WHERE w > 0
       |  AND (c + w - 1 + stride) // stride > (c - 1 + stride) // stride
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- regex
  /** Regex extraction/replacement over part names. */
  def qRegex(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
      .orderBy(col("p_partkey"))

  private val qRegexSql =
    """SELECT p_partkey,
      |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- nulls
  /** Null combinators over an outer join: coalesce / nullif /
    * null-aware aggregation. */
  def qNullHandling(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000)
    Tables.customer(spark, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("big_total"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_null_rows"),
        nullif(count(col("o_orderkey")), lit(0L)).as("n_big_or_null"))
      .orderBy(col("c_custkey"))
  }

  private val qNullHandlingSql =
    s"""SELECT c_custkey,
       |  coalesce(${dsumSql("o_totalprice", "ignored").replace(" AS ignored", "")}, 0.0) AS big_total,
       |  cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint) AS n_null_rows,
       |  nullif(count(o_orderkey), 0) AS n_big_or_null
       |FROM customer LEFT JOIN (
       |  SELECT * FROM orders WHERE o_totalprice > 300000) o
       |  ON c_custkey = o_custkey
       |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- moments
  /** Per-group distribution profile — n, mean, population variance,
    * skewness — from EXACT scaled-integer power sums: `value` has 2
    * decimals, so Σv, Σv², Σv³ over v×100 are integers (decimal(38,0)
    * accumulation — order-independent, overflow-free at any SF) and
    * the float arithmetic happens once per GROUP on exact inputs, not
    * once per row. One pass, one hash aggregate, no window — the
    * moments a data-quality monitor computes per column at 100 TB.
    * Both engines evaluate the identical IEEE expression tree on
    * identical integer sums, so the doubles match bit-for-bit (the
    * `rnd` guard is belt-and-braces for the final division). */
  def qStatsMoments(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("v100", expr("cast(floor(value * 100.0 + 0.5) as bigint)"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("cast(v100 as decimal(38,0))")).as("s1"),
        sum(expr("cast(v100 * v100 as decimal(38,0))")).as("s2"),
        sum(expr("cast(v100 * v100 * v100 as decimal(38,0))")).as("s3"))
      .withColumn("mu", expr("cast(s1 as double) / cast(n as double) / 100.0"))
      .withColumn("m2", expr("cast(s2 as double) / cast(n as double) / 10000.0"))
      .withColumn("m3", expr("cast(s3 as double) / cast(n as double) / 1000000.0"))
      .withColumn("varp", expr("m2 - mu * mu"))
      .withColumn("skw",
        expr("(m3 - 3.0 * mu * varp - mu * mu * mu) / (varp * sqrt(varp))"))
      .select(col("event_type"), col("n"),
        rnd(col("mu"), 6).as("mean"),
        rnd(col("varp"), 6).as("var_pop"),
        rnd(col("skw"), 6).as("skewness"))
      .orderBy(col("event_type"))

  private val qStatsMomentsSql =
    s"""WITH g AS (
       |  SELECT event_type, count(*) AS n,
       |    sum(cast(v100 as decimal(38,0))) AS s1,
       |    sum(cast(v100 * v100 as decimal(38,0))) AS s2,
       |    sum(cast(v100 * v100 * v100 as decimal(38,0))) AS s3
       |  FROM (SELECT event_type,
       |          cast(floor(value * 100.0 + 0.5) as bigint) AS v100
       |        FROM events)
       |  GROUP BY event_type),
       |d AS (
       |  SELECT event_type, n,
       |    cast(s1 as double) / cast(n as double) / 100.0 AS mu,
       |    cast(s2 as double) / cast(n as double) / 10000.0 AS m2,
       |    cast(s3 as double) / cast(n as double) / 1000000.0 AS m3
       |  FROM g),
       |v AS (SELECT event_type, n, mu, m3, m2 - mu * mu AS varp FROM d)
       |SELECT event_type, n,
       |  ${rndSql("mu", 6)} AS mean,
       |  ${rndSql("varp", 6)} AS var_pop,
       |  ${rndSql("(m3 - 3.0 * mu * varp - mu * mu * mu) / (varp * sqrt(varp))", 6)} AS skewness
       |FROM v ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- corr
  /** Per-group Pearson correlation + covariance from EXACT
    * scaled-integer cross sums — the bivariate extension of
    * `q_stats_moments`: 2-decimal doubles → ×100 bigints, the five
    * sums Σx Σy Σx² Σy² Σxy accumulate in decimal(38,0)
    * (order-independent, overflow-free), and the float math runs
    * once per GROUP on exact inputs, so the result is bit-identical
    * on any partitioning and both engines. One hash aggregate —
    * feature-correlation profiling at 100 TB for the cost of a
    * count. (Spark's own `corr` is a float-accumulating aggregate:
    * its result depends on partition merge order.) */
  def qCorr(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("x100", expr("cast(floor(l_quantity * 100.0 + 0.5) as bigint)"))
      .withColumn("y100", expr("cast(floor(l_extendedprice * 100.0 + 0.5) as bigint)"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("cast(x100 as decimal(38,0))")).as("sx"),
        sum(expr("cast(y100 as decimal(38,0))")).as("sy"),
        sum(expr("cast(x100 * x100 as decimal(38,0))")).as("sxx"),
        sum(expr("cast(y100 * y100 as decimal(38,0))")).as("syy"),
        sum(expr("cast(x100 * y100 as decimal(38,0))")).as("sxy"))
      .withColumn("mx", expr("cast(sx as double) / cast(n as double) / 100.0"))
      .withColumn("my", expr("cast(sy as double) / cast(n as double) / 100.0"))
      .withColumn("cov",
        expr("cast(sxy as double) / cast(n as double) / 10000.0 - mx * my"))
      .withColumn("vx",
        expr("cast(sxx as double) / cast(n as double) / 10000.0 - mx * mx"))
      .withColumn("vy",
        expr("cast(syy as double) / cast(n as double) / 10000.0 - my * my"))
      .select(col("l_returnflag"), col("n"),
        rnd(col("cov"), 4).as("cov_pop"),
        rnd(expr("cov / (sqrt(vx) * sqrt(vy))"), 6).as("corr"))
      .orderBy(col("l_returnflag"))

  private val qCorrSql =
    s"""WITH g AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    sum(cast(x100 as decimal(38,0))) AS sx,
       |    sum(cast(y100 as decimal(38,0))) AS sy,
       |    sum(cast(x100 * x100 as decimal(38,0))) AS sxx,
       |    sum(cast(y100 * y100 as decimal(38,0))) AS syy,
       |    sum(cast(x100 * y100 as decimal(38,0))) AS sxy
       |  FROM (SELECT l_returnflag,
       |          cast(floor(l_quantity * 100.0 + 0.5) as bigint) AS x100,
       |          cast(floor(l_extendedprice * 100.0 + 0.5) as bigint) AS y100
       |        FROM lineitem)
       |  GROUP BY l_returnflag),
       |d AS (
       |  SELECT l_returnflag, n,
       |    cast(sx as double) / cast(n as double) / 100.0 AS mx,
       |    cast(sy as double) / cast(n as double) / 100.0 AS my,
       |    cast(sxy as double) / cast(n as double) / 10000.0 AS mxy,
       |    cast(sxx as double) / cast(n as double) / 10000.0 AS mxx,
       |    cast(syy as double) / cast(n as double) / 10000.0 AS myy
       |  FROM g),
       |v AS (
       |  SELECT l_returnflag, n, mxy - mx * my AS cov,
       |    mxx - mx * mx AS vx, myy - my * my AS vy
       |  FROM d)
       |SELECT l_returnflag, n,
       |  ${rndSql("cov", 4)} AS cov_pop,
       |  ${rndSql("cov / (sqrt(vx) * sqrt(vy))", 6)} AS corr
       |FROM v ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- registry
  // ---------------------------------------------------------------- mode
  /** Per-group MODE (most frequent value, smallest-value tie-break) —
    * the last descriptive statistic missing from the stats family
    * (moments #25k, quantiles #25d, histogram #26b): the modal
    * document language per source, with its count and share. Mode
    * does not decompose like sums do, but it reduces exactly: one
    * (group, value) count aggregate (map-side combinable — partials
    * are per-(source, lang), bounded by the value domain), then a
    * per-group rank over the COUNTS frame, which is groups × domain
    * rows — tiny relative to the corpus at any scale. The tie-break
    * (count DESC, value ASC) makes the winner total-order
    * deterministic on both engines.
    *
    * CONTRACT: this window-rank form assumes the VALUE DOMAIN is
    * small relative to the corpus (languages, sources, enum-ish
    * columns) — the counts frame it window-sorts is groups × domain
    * rows. When the domain rivals the corpus (user ids, URLs), that
    * frame is corpus-scale and the per-group window re-sorts it; use
    * [[qModeBounded]]/[[modeOf]] instead, which replaces the window
    * with a 1-row-per-group argmax aggregate. Both forms still pay
    * the exact (group, value) count — information-theoretically
    * unavoidable for EXACT mode; the sketch relaxation for when even
    * that is too wide is `mg_topk` (Misra-Gries, k=1). */
  def qMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source"))
    counts
      .withColumn("rk", row_number().over(
        w.orderBy(col("cnt").desc, col("lang"))))
      .withColumn("n_src", sum(col("cnt")).over(w))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("modal_lang"), col("cnt"),
        rnd(col("cnt").cast("double") / col("n_src"), 4).as("share"))
      .orderBy(col("source"))
  }

  /** The high-cardinality-domain mode kernel: same (group, value)
    * count first stage, then the winner per group via ONE argmax
    * aggregate — `min(struct(-cnt, value))` orders lexicographically
    * (largest count first, then smallest value), so it IS the
    * (count DESC, value ASC) tie-break as a single orderable-struct
    * min. Map-side combine reduces every partition to one candidate
    * row per group, so nothing domain-sized is ever window-sorted —
    * the k=1 bounded-aggregate shape of `q_group_topk`, expressed
    * with builtin min-over-struct instead of a typed Aggregator
    * closure: same ≤1-row-per-partition-per-group bound, but it
    * stays inside whole-stage codegen and works for any orderable
    * value type (the BoundedTopK route is (Long, Double)-keyed).
    * Output schema/rounding identical to [[qMode]]; RelationalSpec
    * proves row equality on the registered domain, and the shared
    * oracle hash-checks it against DuckDB independently. */
  def modeOf(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col(groupCol))
      .agg(
        min(struct((-col("cnt")).as("nc"), col(valueCol).as("v"))).as("m"),
        sum(col("cnt")).as("n_grp"))
      .select(col(groupCol),
        col("m.v").as(s"modal_$valueCol"),
        (-col("m.nc")).as("cnt"),
        rnd((-col("m.nc")).cast("double") / col("n_grp"), 4).as("share"))
  }

  /** [[modeOf]] on the registered domain — registered under the SAME
    * oracle as `q_mode` (the window form): hash-equality proves the
    * argmax aggregate and the window rank agree. */
  def qModeBounded(spark: SparkSession, dir: String): DataFrame =
    modeOf(Tables.documents(spark, dir), "source", "lang")
      .orderBy(col("source"))

  private val qModeSql =
    """WITH counts AS (
      |  SELECT source, lang, count(*) AS cnt
      |  FROM documents GROUP BY 1, 2),
      |ranked AS (
      |  SELECT source, lang, cnt,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY cnt DESC, lang) AS rk,
      |    sum(cnt) OVER (PARTITION BY source) AS n_src
      |  FROM counts)
      |SELECT source, lang AS modal_lang, cnt,
      |  floor(cast(cnt as double) / n_src * 1e4 + 0.5) / 1e4 AS share
      |FROM ranked WHERE rk = 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- trend
  /** Per-user least-squares trend of event value over time (slope per
    * hour + intercept) — the grouped-OLS primitive behind drift
    * detection and per-entity forecasting, computed CLOSED-FORM from
    * moment sums (no iteration): slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²).
    *
    * Determinism is the `q_outliers` discipline generalized to MIXED
    * moments: x is integer epoch-hours from a fixed base (small
    * integers — Σx² stays far from any overflow), y and x·y
    * accumulate in decimal (long × decimal(18,6) is exact decimal
    * arithmetic on both engines), each sum casts to double ONCE, and
    * the closed forms are the identical double expression tree both
    * sides. Flat-time users (all events in one hour — zero x
    * variance) are excluded by an exact integer guard, not a
    * null-producing division.
    *
    * Scale shape: one map-side-combined groupBy(user) producing a
    * 5-column moment row per user; the slope/intercept projection is
    * per-row on that compact frame. */
  def qTrend(spark: SparkSession, dir: String): DataFrame = {
    val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val UsPerHour = 3600000000L
    val ev = Tables.events(spark, dir).select(
      col("user_id"),
      // floor, not cast-truncate: events BEFORE the base epoch give
      // negative non-integral offsets, where truncation rounds toward
      // zero but the oracle's `//` floors — floor() matches both ways
      floor((unix_micros(col("ts")) - BaseUs) / UsPerHour).cast("long").as("x"),
      col("value").cast("decimal(18,6)").as("y"))
    val m = ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.filter(col("n") * col("sxx") - col("sx") * col("sx") > 0)
      .select(col("user_id"), col("n"),
        rnd(slope, 6).as("slope_per_hour"),
        rnd((col("sy") - slope * col("sx")) / col("n"), 4).as("intercept"))
      .orderBy(col("user_id"))
  }

  private val qTrendSql =
    """WITH ev AS (
      |  SELECT user_id,
      |    (epoch_us(ts) - 1704067200000000) // 3600000000 AS x,
      |    cast(value as decimal(18,6)) AS y
      |  FROM events),
      |m AS (
      |  SELECT user_id, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
      |    cast(sum(y) as double) AS sy, cast(sum(x * y) as double) AS sxy
      |  FROM ev GROUP BY user_id)
      |SELECT user_id, n,
      |  floor((n * sxy - sx * sy) / cast(n * sxx - sx * sx as double)
      |    * 1e6 + 0.5) / 1e6 AS slope_per_hour,
      |  floor((sy - (n * sxy - sx * sy) / cast(n * sxx - sx * sx as double)
      |    * sx) / n * 1e4 + 0.5) / 1e4 AS intercept
      |FROM m WHERE n * sxx - sx * sx > 0
      |ORDER BY user_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_trend", qTrend _, Some(qTrendSql)),
    QueryDef("q_mode", qMode _, Some(qModeSql)),
    QueryDef("q_mode_bounded", qModeBounded _, Some(qModeSql)),
    QueryDef("q_sample", qSample _, Some(qSampleSql)),
    QueryDef("q_sample_stratified", qSampleStratified _, Some(qSampleStratifiedSql)),
    QueryDef("q_sample_weighted", qSampleWeighted _, Some(qSampleWeightedSql)),
    QueryDef("q_sample_stratified_scalable", sampleStratifiedScalable _,
      Some(qSampleStratifiedSql)), // same oracle: proves semantic equality
    QueryDef("q_domain_cap", qDomainCap _, Some(qDomainCapSql)),
    QueryDef("q_regex", qRegex _, Some(qRegexSql)),
    QueryDef("q_null_handling", qNullHandling _, Some(qNullHandlingSql)),
    QueryDef("q_stats_moments", qStatsMoments _, Some(qStatsMomentsSql)),
    QueryDef("q_corr", qCorr _, Some(qCorrSql)))
}
