package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CrossEngine.{dsum, dsumSql, rnd, rndSql}

/** Advanced relational operators (SURVEY.md §2 B extensions): as-of
  * join, range join, pivot, exact percentiles, and an HLL sketch.
  *
  * The as-of join deliberately composes built-ins (running-max window
  * over a tagged union) instead of a custom SparkPlan — preference
  * order (a) from SURVEY.md §2: one shuffle on (user), no range
  * binary search, no state. The DuckDB oracle uses its native
  * `ASOF LEFT JOIN` — two independent formulations agreeing on every
  * row is the point.
  */
object Advanced {

  // ---------------------------------------------------------------- asof join
  /** For each purchase, the most recent view at-or-before it by the
    * same user (pandas merge_asof / kdb aj semantics). */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    // at equal us a view must sort before the purchase ('view' > 'purchase'
    // lexically, so event_type desc) to be visible to it, matching ASOF's
    // b.us <= a.us tie inclusion
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_type").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_view_us", max(when(col("event_type") === "view", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("us").as("purchase_us"), col("last_view_us"))
      .orderBy(col("purchase_event_id"))
  }

  private val qAsofJoinSql =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'view')
      |SELECT p.user_id, p.event_id AS purchase_event_id,
      |  p.us AS purchase_us, v.us AS last_view_us
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.us >= v.us
      |ORDER BY purchase_event_id""".stripMargin

  // ---------------------------------------------------------------- asof native
  /** The same as-of semantics through graft's native operator
    * (graft.plans.AsOfJoin: LogicalPlan + Strategy + streaming-merge
    * SparkPlan) — one O(|L|+|R|) merge pass per hash partition
    * instead of the union+window. Same oracle as q_asof_join. */
  def qAsofJoinNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        unix_micros(col("ts")).as("purchase_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), unix_micros(col("ts")).as("last_view_us"))
    graft.plans.AsOf.join(purchases, views,
        leftKey = "user_id", leftTime = "purchase_us",
        rightKey = "v_user_id", rightTime = "last_view_us")
      .select(col("user_id"), col("purchase_event_id"),
        col("purchase_us"), col("last_view_us"))
      .orderBy(col("purchase_event_id"))
  }

  // ---------------------------------------------------------------- asof multi
  /** n-way as-of (SURVEY.md round-2 item): each purchase annotated
    * with the latest preceding view AND the latest preceding click by
    * the same user, through two chained native as-of joins
    * (`AsOf.joinMulti`). Oracle: DuckDB's chained ASOF LEFT JOINs. */
  def qAsofMulti(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        unix_micros(col("ts")).as("purchase_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), unix_micros(col("ts")).as("last_view_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), unix_micros(col("ts")).as("last_click_us"))
    graft.plans.AsOf.joinMulti(purchases, "user_id", "purchase_us",
        (views, "v_user_id", "last_view_us"),
        (clicks, "c_user_id", "last_click_us"))
      .select(col("user_id"), col("purchase_event_id"), col("purchase_us"),
        col("last_view_us"), col("last_click_us"))
      .orderBy(col("purchase_event_id"))
  }

  // ---------------------------------------------------------------- asof nearest
  /** NEAREST-in-time as-of (pandas `merge_asof direction='nearest'`):
    * each purchase annotated with the view closest in time in EITHER
    * direction, ties to the backward match (the pandas tie rule).
    * Composed from the native operator run twice — backward as-is,
    * forward as backward over NEGATED times (latest −v ≤ −p ⟺
    * smallest v ≥ p; negation is exact on epoch-micros longs) — so
    * both passes are the same O(|L|+|R|) streaming merge, and the
    * second pass reuses the first's hash partitioning on the
    * unchanged user key (one extra exchange of the views side only).
    * The nearest pick is a pure integer CASE over the two candidate
    * distances — no float, no engine divergence. */
  def qAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        unix_micros(col("ts")).as("purchase_us"))
      .withColumn("neg_us", -col("purchase_us"))
    val viewsBack = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        unix_micros(col("ts")).as("last_view_us"))
    val viewsFwd = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("f_user_id"),
        unix_micros(col("ts")).as("next_view_us"))
      .withColumn("neg_view_us", -col("next_view_us"))
    val both = graft.plans.AsOf.join(
      graft.plans.AsOf.join(purchases, viewsBack,
        leftKey = "user_id", leftTime = "purchase_us",
        rightKey = "v_user_id", rightTime = "last_view_us"),
      viewsFwd.select(col("f_user_id"), col("neg_view_us"), col("next_view_us")),
      leftKey = "user_id", leftTime = "neg_us",
      rightKey = "f_user_id", rightTime = "neg_view_us")
    val db = col("purchase_us") - col("last_view_us")
    val df = col("next_view_us") - col("purchase_us")
    both
      .withColumn("nearest_view_us",
        when(col("last_view_us").isNull, col("next_view_us"))
          .when(col("next_view_us").isNull, col("last_view_us"))
          .when(db <= df, col("last_view_us"))
          .otherwise(col("next_view_us")))
      .withColumn("direction",
        when(col("nearest_view_us").isNull, lit(null).cast("string"))
          .when(col("nearest_view_us") === col("last_view_us"), "backward")
          .otherwise("forward"))
      .select(col("user_id"), col("purchase_event_id"), col("purchase_us"),
        col("nearest_view_us"), col("direction"))
      .orderBy(col("purchase_event_id"))
  }

  private val qAsofNearestSql =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, -epoch_us(ts) AS neg_us
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, epoch_us(ts) AS us, -epoch_us(ts) AS neg_us
      |  FROM events WHERE event_type = 'view'),
      |back AS (
      |  SELECT p.user_id, p.event_id, p.us, p.neg_us, v.us AS last_view_us
      |  FROM p ASOF LEFT JOIN v
      |    ON p.user_id = v.user_id AND p.us >= v.us),
      |nb AS (
      |  SELECT b.user_id, b.event_id, b.us, b.last_view_us,
      |    v.us AS next_view_us
      |  FROM back b ASOF LEFT JOIN v
      |    ON b.user_id = v.user_id AND b.neg_us >= v.neg_us)
      |SELECT user_id, event_id AS purchase_event_id, us AS purchase_us,
      |  CASE WHEN last_view_us IS NULL THEN next_view_us
      |       WHEN next_view_us IS NULL THEN last_view_us
      |       WHEN us - last_view_us <= next_view_us - us THEN last_view_us
      |       ELSE next_view_us END AS nearest_view_us,
      |  CASE WHEN last_view_us IS NULL AND next_view_us IS NULL THEN NULL
      |       WHEN next_view_us IS NULL THEN 'backward'
      |       WHEN last_view_us IS NULL THEN 'forward'
      |       WHEN us - last_view_us <= next_view_us - us THEN 'backward'
      |       ELSE 'forward' END AS direction
      |FROM nb
      |ORDER BY purchase_event_id""".stripMargin

  // ---------------------------------------------------------------- asof tolerance
  /** Staleness bound for [[qAsofTolerance]]: one day in epoch
    * micros. Calibrated against the events corpus (median purchase →
    * last-view staleness ≈ 1.5 days at every SF), so BOTH outcomes —
    * within-tolerance match and nulled-out stale match — are
    * populated at spec, gate, and bench scale. */
  private val AsOfToleranceUs = 86400000000L

  /** [[qAsofJoinNative]] with pandas merge_asof's `tolerance` knob:
    * a last-view match more than [[AsOfToleranceUs]] older than the
    * purchase is no match (null), exactly as if the view were
    * absent. The knob lives in the native exec as a match-time check
    * (the stale candidate still advances the merge cursor — see
    * AsOfJoinSpec's planted boundary rows); the oracle expresses the
    * identical semantics as DuckDB ASOF + a post-predicate, valid
    * because any EARLIER candidate is strictly staler — nulling the
    * latest match can never expose an in-tolerance earlier one. */
  def qAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        unix_micros(col("ts")).as("purchase_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        unix_micros(col("ts")).as("last_view_us"))
    graft.plans.AsOf.join(purchases, views,
        leftKey = "user_id", leftTime = "purchase_us",
        rightKey = "v_user_id", rightTime = "last_view_us",
        toleranceUs = Some(AsOfToleranceUs))
      .select(col("user_id"), col("purchase_event_id"),
        col("purchase_us"), col("last_view_us"))
      .orderBy(col("purchase_event_id"))
  }

  private val qAsofToleranceSql =
    s"""WITH p AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
       |  WHERE event_type = 'purchase'),
       |v AS (
       |  SELECT user_id, epoch_us(ts) AS us FROM events
       |  WHERE event_type = 'view')
       |SELECT p.user_id, p.event_id AS purchase_event_id,
       |  p.us AS purchase_us,
       |  CASE WHEN p.us - v.us <= $AsOfToleranceUs THEN v.us END
       |    AS last_view_us
       |FROM p ASOF LEFT JOIN v
       |  ON p.user_id = v.user_id AND p.us >= v.us
       |ORDER BY purchase_event_id""".stripMargin

  // ---------------------------------------------------------------- asof forward
  /** pandas merge_asof `direction='forward'` as a first-class
    * registered form: each purchase annotated with the EARLIEST view
    * at-or-after it by the same user, through the native operator's
    * `direction = "forward"` knob (the same streaming merge over
    * negated times — no new exec; see AsOf.join). Oracle: DuckDB's
    * native forward ASOF (`p.us <= v.us` picks the nearest
    * at-or-after). */
  def qAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        unix_micros(col("ts")).as("purchase_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        unix_micros(col("ts")).as("next_view_us"))
    graft.plans.AsOf.join(purchases, views,
        leftKey = "user_id", leftTime = "purchase_us",
        rightKey = "v_user_id", rightTime = "next_view_us",
        direction = "forward")
      .select(col("user_id"), col("purchase_event_id"),
        col("purchase_us"), col("next_view_us"))
      .orderBy(col("purchase_event_id"))
  }

  private val qAsofForwardSql =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'view')
      |SELECT p.user_id, p.event_id AS purchase_event_id,
      |  p.us AS purchase_us, v.us AS next_view_us
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.us <= v.us
      |ORDER BY purchase_event_id""".stripMargin

  // ---------------------------------------------------------------- asof strict
  /** pandas `merge_asof allow_exact_matches=False`: the latest view
    * from a STRICTLY EARLIER HOUR than each purchase — the strict
    * knob on the native exec (a strict merge frontier; see
    * AsOf.join), run over hour-bucketed times ("attribute a purchase
    * to the last view before this hour started", the
    * same-bucket-excluded attribution shape). Hour resolution is
    * what makes the strict branch OBSERVABLE: at raw micros the
    * corpus has zero exact-time ties (measured, every SF), so a
    * strict query would be indistinguishable from the inclusive one
    * and its oracle would prove nothing — at hour buckets sf0.01
    * carries 35 purchase rows whose inclusive/strict answers differ.
    * Oracle: DuckDB ASOF with the strict comparator over the same
    * buckets. The planted micro-proofs (cursor preservation, strict
    * + tolerance, strict forward) live in AsOfJoinSpec. */
  def qAsofStrict(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        expr("unix_micros(ts) div 3600000000").as("purchase_hour"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        expr("unix_micros(ts) div 3600000000").as("last_view_hour"))
    graft.plans.AsOf.join(purchases, views,
        leftKey = "user_id", leftTime = "purchase_hour",
        rightKey = "v_user_id", rightTime = "last_view_hour",
        allowExactMatches = false)
      .select(col("user_id"), col("purchase_event_id"),
        col("purchase_hour"), col("last_view_hour"))
      .orderBy(col("purchase_event_id"))
  }

  private val qAsofStrictSql =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) // 3600000000 AS h FROM events
      |  WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS h FROM events
      |  WHERE event_type = 'view')
      |SELECT p.user_id, p.event_id AS purchase_event_id,
      |  p.h AS purchase_hour, v.h AS last_view_hour
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND p.h > v.h
      |ORDER BY purchase_event_id""".stripMargin

  private val qAsofMultiSql =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'view'),
      |c AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'click')
      |SELECT p.user_id, p.event_id AS purchase_event_id,
      |  p.us AS purchase_us, v.us AS last_view_us, c.us AS last_click_us
      |FROM p
      |ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us
      |ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us
      |ORDER BY purchase_event_id""".stripMargin

  // ---------------------------------------------------------------- range join
  /** Non-equi band join: quantities against a literal bucket table
    * (broadcast nested-loop on a 5-row build side). */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val buckets = spark.createDataFrame(Seq(
      (1.0, 10.0, "b1_tiny"), (11.0, 20.0, "b2_small"), (21.0, 30.0, "b3_mid"),
      (31.0, 40.0, "b4_large"), (41.0, 50.0, "b5_huge")))
      .toDF("lo", "hi", "bucket")
    Tables.lineitem(spark, dir)
      .join(broadcast(buckets),
        col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("bucket"))
  }

  private val qRangeJoinSql =
    s"""SELECT bucket, count(*) AS n_items,
       |  ${dsumSql("l_extendedprice", "total_price")}
       |FROM lineitem
       |JOIN (VALUES (1.0, 10.0, 'b1_tiny'), (11.0, 20.0, 'b2_small'),
       |             (21.0, 30.0, 'b3_mid'), (31.0, 40.0, 'b4_large'),
       |             (41.0, 50.0, 'b5_huge')) buckets(lo, hi, bucket)
       |  ON l_quantity >= lo AND l_quantity <= hi
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- pivot
  /** The DataFrame `pivot` API (same semantics as q_case_agg, via the
    * dedicated operator; absent combinations filled with 0). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("user_id"), col("click").as("n_click"), col("view").as("n_view"),
        col("purchase").as("n_purchase"), col("signup").as("n_signup"),
        col("error").as("n_error"))
      .orderBy(col("user_id"))

  private val qPivotSql =
    """SELECT user_id,
      |  cast(count(*) FILTER (WHERE event_type = 'click') as bigint) AS n_click,
      |  cast(count(*) FILTER (WHERE event_type = 'view') as bigint) AS n_view,
      |  cast(count(*) FILTER (WHERE event_type = 'purchase') as bigint) AS n_purchase,
      |  cast(count(*) FILTER (WHERE event_type = 'signup') as bigint) AS n_signup,
      |  cast(count(*) FILTER (WHERE event_type = 'error') as bigint) AS n_error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- percentile
  /** Exact interpolated percentiles per group (both engines do linear
    * interpolation over the sorted set; outputs floor-rounded). */
  def qPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        rnd(expr("percentile(c_acctbal, 0.5)"), 4).as("p50_bal"),
        rnd(expr("percentile(c_acctbal, 0.9)"), 4).as("p90_bal"),
        count(lit(1)).as("n_cust"))
      .orderBy(col("c_mktsegment"))

  private val qPercentileSql =
    s"""SELECT c_mktsegment,
       |  ${rndSql("quantile_cont(c_acctbal, 0.5)", 4)} AS p50_bal,
       |  ${rndSql("quantile_cont(c_acctbal, 0.9)", 4)} AS p90_bal,
       |  count(*) AS n_cust
       |FROM customer GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- winsorize
  /** Per-group winsorization — the robust-statistics cleaning pass
    * (clamp to [p10, p90] instead of dropping outliers) a feature/
    * quality pipeline runs before any mean-based model sees the
    * column. Two aggregates over one exchange shape: the per-group
    * interpolated percentile bounds (broadcast back — groups are few)
    * and the clamped re-aggregate.
    *
    * Cross-engine: the clamp `greatest(lo, least(v, hi))` picks one
    * of three already-identical doubles; the winsorized mean would
    * then be an ORDER-DEPENDENT double sum, so it is computed the
    * dsum way — 4-decimal deterministic rounding of each clamped
    * value, exact decimal accumulate, round in decimal space. */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    // bounds ROUNDED to 4 decimals before any comparison or clamp —
    // same last-ULP interpolation hazard (and same fix) as
    // `q_bucketize`'s decile boundaries
    val bounds = cust.groupBy(col("c_mktsegment").as("seg"))
      .agg(
        rnd(expr("percentile(c_acctbal, 0.1)"), 4).as("p_lo"),
        rnd(expr("percentile(c_acctbal, 0.9)"), 4).as("p_hi"))
    val clamped = greatest(col("p_lo"), least(col("c_acctbal"), col("p_hi")))
    cust.join(broadcast(bounds), col("c_mktsegment") === col("seg"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(when(col("c_acctbal") < col("p_lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("c_acctbal") > col("p_hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
        rnd(first(col("p_lo")), 4).as("p_lo"),
        rnd(first(col("p_hi")), 4).as("p_hi"),
        (round(sum(rnd(clamped, 4).cast("decimal(28,6)")), 4).cast("double")
          / count(lit(1))).as("winsor_mean"))
      .orderBy(col("c_mktsegment"))
  }

  private val qWinsorizeSql =
    s"""WITH bounds AS (
       |  SELECT c_mktsegment AS seg,
       |    ${rndSql("quantile_cont(c_acctbal, 0.1)", 4)} AS p_lo,
       |    ${rndSql("quantile_cont(c_acctbal, 0.9)", 4)} AS p_hi
       |  FROM customer GROUP BY c_mktsegment)
       |SELECT c_mktsegment,
       |  count(*) AS n_cust,
       |  cast(sum(CASE WHEN c_acctbal < p_lo THEN 1 ELSE 0 END) as bigint) AS n_clamped_lo,
       |  cast(sum(CASE WHEN c_acctbal > p_hi THEN 1 ELSE 0 END) as bigint) AS n_clamped_hi,
       |  ${rndSql("any_value(p_lo)", 4)} AS p_lo,
       |  ${rndSql("any_value(p_hi)", 4)} AS p_hi,
       |  cast(round(sum(cast(${rndSql("greatest(p_lo, least(c_acctbal, p_hi))", 4)}
       |    as decimal(28,6))), 4) as double) / count(*) AS winsor_mean
       |FROM customer JOIN bounds ON c_mktsegment = seg
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- bucketize
  /** Per-group equi-DEPTH binning (decile assignment) — the feature-
    * engineering pass that turns a raw measure into a rank feature,
    * and the complement to `q_value_histogram`'s equi-WIDTH buckets:
    * depth buckets adapt to the distribution (each holds ~10%), width
    * buckets to the range. Per-segment decile boundaries (one
    * 9-quantile aggregate) broadcast back onto the rows; the decile
    * is a pure expression fold over the boundary array (1 + #
    * boundaries strictly below the value — ties go DOWN, both
    * engines); output is the bounded per-(group, decile) profile.
    * Same exact-percentile scale caveat as `q_percentile`, same
    * declared scale path (the GK sketch in `q_approx_percentile`). */
  def qBucketize(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val qs = (1 to 9).map(i => s"0.$i").mkString(", ")
    // boundaries are ROUNDED to 4 decimals before any comparison:
    // the engines' interpolation formulas differ by a last ULP even
    // between EQUAL neighbors (lower + f*(upper-lower) returns the
    // value exactly; a*(1-f)+b*f does not), and a raw-boundary
    // comparison flips a row's bucket on that ULP. With 2-decimal
    // data, 4-decimal rounding has 0.005 of slack on either side —
    // ULP noise cannot cross it.
    val bnds = cust.groupBy(col("c_mktsegment").as("seg"))
      .agg(expr(s"percentile(c_acctbal, array($qs))").as("raw"))
      .select(col("seg"),
        expr("transform(raw, b -> floor(b * 1e4 + 0.5) / 1e4)").as("bnds"))
    cust.join(broadcast(bnds), col("c_mktsegment") === col("seg"))
      .withColumn("decile", expr(
        "1 + aggregate(bnds, 0, (acc, b) -> acc + " +
          "(case when c_acctbal > b then 1 else 0 end))"))
      .groupBy(col("c_mktsegment"), col("decile"))
      .agg(
        count(lit(1)).as("n_cust"),
        rnd(min(col("c_acctbal")), 4).as("lo"),
        rnd(max(col("c_acctbal")), 4).as("hi"))
      .orderBy(col("c_mktsegment"), col("decile"))
  }

  private val qBucketizeSql = {
    val qs = (1 to 9).map(i => s"0.$i").mkString(", ")
    s"""WITH bnds AS (
       |  SELECT c_mktsegment AS seg,
       |    list_transform(quantile_cont(c_acctbal, [$qs]),
       |      b -> floor(b * 1e4 + 0.5) / 1e4) AS bnds
       |  FROM customer GROUP BY c_mktsegment),
       |assigned AS (
       |  SELECT c_mktsegment, c_acctbal,
       |    cast(1 + list_sum(list_transform(bnds,
       |      b -> CASE WHEN c_acctbal > b THEN 1 ELSE 0 END)) as int) AS decile
       |  FROM customer JOIN bnds ON c_mktsegment = seg)
       |SELECT c_mktsegment, decile, count(*) AS n_cust,
       |  ${rndSql("min(c_acctbal)", 4)} AS lo,
       |  ${rndSql("max(c_acctbal)", 4)} AS hi
       |FROM assigned
       |GROUP BY c_mktsegment, decile
       |ORDER BY c_mktsegment, decile""".stripMargin
  }

  // ---------------------------------------------------------------- join size estimate
  private val JseDepth = 4
  private val JseWidth = 4096

  /** Join-CARDINALITY estimation from two Count-Min sketches
    * (Cormode & Muthukrishnan, J. Algorithms 2005 §4.2: the CM inner
    * product): |A ⋈ B on k| = Σₓ f_A(x)·f_B(x), estimated per depth
    * row as the dot product of the two sketch rows, min over depths —
    * an OVERESTIMATE within ε·N_A·N_B (ε = e/width; at width 4096
    * over this 15k × 1.5k join that bound is ~10k rows, and the
    * output carries est/exact so the realized error is visible).
    * This is the planner's question — "how big is this join going to
    * be?" — answered from two one-pass, merge-order-invariant,
    * 128 KB sketches WITHOUT executing the join: the shape a 100 TB
    * engine uses to choose broadcast vs shuffle vs skew handling
    * before committing to a plan.
    *
    * Deterministic end to end (exact-sum counters + the shared
    * cross-engine md5/affine bucket hash), so unlike the HLL sketch
    * below this estimate IS oracle-checked: DuckDB rebuilds both
    * matrices from first principles and reproduces the estimate
    * bit for bit. The exact join count rides along (one equi-join
    * aggregate) purely to exhibit the bound. */
  def qJoinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.FreqSketch
    val a = Tables.orders(spark, dir)
      .select(col("o_custkey").cast("string").as("k"))
    val b = Tables.customer(spark, dir)
      .select(col("c_custkey").cast("string").as("k"))
    val ma = a.agg(FreqSketch.cmsMatrix(col("k"), JseDepth, JseWidth).as("ma"))
    val mb = b.agg(FreqSketch.cmsMatrix(col("k"), JseDepth, JseWidth).as("mb"))
    val exact = a.join(b, Seq("k")).agg(count(lit(1)).as("exact_rows"))
    val rowIp = (0 until JseDepth).map { i =>
      aggregate(
        zip_with(element_at(col("ma"), i + 1), element_at(col("mb"), i + 1),
          (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
    }
    ma.crossJoin(mb).crossJoin(exact)
      .select(
        col("exact_rows"),
        least(rowIp: _*).as("cms_estimate"))
      .withColumn("over_ratio",
        rnd(col("cms_estimate").cast("double") / col("exact_rows"), 6))
  }

  private val qJoinSizeEstimateSql = {
    import graft.functions.CmsCore
    val d = JseDepth
    val aList = (0 until d).map(CmsCore.A).mkString("[", ",", "]")
    val bList = (0 until d).map(CmsCore.B).mkString("[", ",", "]")
    val iList = (1 to d).mkString("[", ",", "]")
    def bkt(e: String) =
      s"(((a * (${graft.functions.CrossEngine.md5LongSql(e)} % ${CmsCore.P}) + b) " +
        s"% ${CmsCore.P}) % $JseWidth)"
    s"""WITH ka AS (SELECT cast(o_custkey as varchar) AS k FROM orders),
       |kb AS (SELECT cast(c_custkey as varchar) AS k FROM customer),
       |ca AS (SELECT k, count(*) AS c FROM ka GROUP BY k),
       |cb AS (SELECT k, count(*) AS c FROM kb GROUP BY k),
       |seeds AS (SELECT unnest($aList) AS a, unnest($bList) AS b,
       |                 unnest($iList) AS i),
       |acells AS (
       |  SELECT i, ${bkt("k")} AS bkt, sum(c) AS c
       |  FROM ca CROSS JOIN seeds GROUP BY 1, 2),
       |bcells AS (
       |  SELECT i, ${bkt("k")} AS bkt, sum(c) AS c
       |  FROM cb CROSS JOIN seeds GROUP BY 1, 2),
       |ip AS (
       |  SELECT a.i, cast(sum(a.c * b.c) as bigint) AS v
       |  FROM acells a JOIN bcells b ON a.i = b.i AND a.bkt = b.bkt
       |  GROUP BY a.i),
       |est AS (SELECT min(v) AS cms_estimate FROM ip),
       |ex AS (SELECT cast(count(*) as bigint) AS exact_rows
       |       FROM ka JOIN kb USING (k))
       |SELECT exact_rows, cms_estimate,
       |  ${rndSql("cast(cms_estimate as double) / exact_rows", 6)} AS over_ratio
       |FROM ex, est""".stripMargin
  }

  // ---------------------------------------------------------------- approx distinct
  /** HLL++ sketch aggregation — approximate by construction, so no
    * cross-engine oracle (driver records the weaker rows-only check);
    * the ScalaTest spec bounds its error against the exact count. */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------- approx percentile
  /** Approximate per-group quantiles via Spark's built-in
    * `approx_percentile` (a Greenwald-Khanna-style mergeable sketch):
    * the one-pass bounded-memory 100 TB answer to `q_percentile`'s
    * exact interpolation, which must gather each group's full value
    * set. `accuracy = 10000` bounds rank error to ≤ n/10000 per
    * group. Approximate by construction → rows-only like
    * `q_approx_distinct`; AdvancedSpec bounds each reported value
    * between exact neighboring percentiles. */
  def qApproxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        expr("approx_percentile(c_acctbal, array(0.5, 0.9, 0.99), 10000)")
          .as("approx_bal"),
        count(lit(1)).as("n_cust"))
      .select(col("c_mktsegment"),
        element_at(col("approx_bal"), 1).as("p50_bal"),
        element_at(col("approx_bal"), 2).as("p90_bal"),
        element_at(col("approx_bal"), 3).as("p99_bal"),
        col("n_cust"))
      .orderBy(col("c_mktsegment"))

  // ---------------------------------------------------------------- group topk
  /** Top-3 customers per segment through the bounded
    * [[Similarity.topKPer]] stage — map-side combine ships ≤k rows per
    * partition per group instead of window-sorting whole groups. Its
    * DuckDB oracle is the row_number window. */
  def qGroupTopk(spark: SparkSession, dir: String): DataFrame =
    Similarity.topKPer(Tables.customer(spark, dir),
        "c_mktsegment", "c_acctbal", "c_custkey", 3)
      .select(col("c_mktsegment"), col("rank"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_mktsegment"), col("rank"))

  private val qGroupTopkSql =
    """SELECT c_mktsegment, cast(rn as int) AS rank, c_custkey, c_acctbal
      |FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer)
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rank""".stripMargin

  // ---------------------------------------------------------------- registry
  // ---------------------------------------------------------------- unpivot
  /** The inverse of `q_pivot`: melt wide measure columns into
    * (metric, value) rows via the dedicated `Dataset.unpivot`
    * operator (Spark plans it as a single generate — one pass, no
    * join, no shuffle; the ORDER BY here is only for the oracle
    * compare). The long form is what feeds generic per-metric
    * pipelines (histograms, quality monitors) without one job per
    * column. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .unpivot(
        Array(col("p_partkey")),
        Array(col("p_size").cast("double").as("p_size"), col("p_retailprice")),
        "metric", "value")
      .orderBy(col("p_partkey"), col("metric"))

  private val qUnpivotSql =
    """SELECT p_partkey, 'p_size' AS metric, cast(p_size as double) AS value
      |FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
      |FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  // ---------------------------------------------------------------- skyline
  /** Global 2-D skyline (Pareto frontier) of `part`: minimize
    * p_retailprice, maximize p_size — every part for which no other
    * part is at-or-better on both axes and strictly better on one
    * (Börzsönyi et al., ICDE 2001).
    *
    * The naive formulation is an all-pairs NOT EXISTS (the oracle —
    * fine at oracle scale, quadratic at 100 TB). The engine side is
    * O(n log n): a point is on the skyline iff its size equals the
    * max size AT its price and strictly exceeds the max size over all
    * STRICTLY CHEAPER prices — a per-price aggregate followed by an
    * exclusive prefix-max in price order. The prefix-max runs
    * two-level (the mr_sort/PrefixSum scaffolding): range-partition
    * by price, per-partition local running max, and a
    * partitions-sized offset table broadcast back — no
    * single-partition window ever sees the price domain. */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    // one row per distinct price: its best (max) size
    val perPrice = pts.groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("pmax"))
    // two-level exclusive prefix-max over ascending price. Persisted:
    // the offsets aggregate and the main pass both consume the frame,
    // and `mid` must come from ONE materialization (a recompute could
    // renumber rows if the scan split differently).
    val sorted = perPrice
      .repartitionByRange(32, col("p_retailprice"))
      .sortWithinPartitions(col("p_retailprice"))
      .withColumn("mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-partition max -> exclusive running max over the 32-row
    // partition table (driver-scale window, like PrefixSum.partitionOffsets)
    val offs = sorted.groupBy(PrefixSum.pid.as("pid"))
      .agg(max(col("pmax")).as("w"))
      .withColumn("off", max(col("w")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("pid"), col("off"))
    val localBefore = Window.partitionBy(col("pid")).orderBy(col("mid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = sorted
      .withColumn("pid", PrefixSum.pid)
      .withColumn("lmax", max(col("pmax")).over(localBefore))
      .join(broadcast(offs), Seq("pid"))
      // exclusive prefix-max over all strictly cheaper prices: null
      // (no cheaper point) keeps the row — greatest() is null-skipping
      .filter(col("lmax").isNull && col("off").isNull ||
        col("pmax") > greatest(col("lmax"), col("off")))
      .select(col("p_retailprice").as("f_price"), col("pmax").as("f_size"))
    pts.join(frontier,
        col("p_retailprice") === col("f_price") && col("p_size") === col("f_size"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
  }

  private val qSkylineSql =
    """SELECT p.p_partkey, p.p_retailprice, p.p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_retailprice, p_partkey""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_group_topk", qGroupTopk _, Some(qGroupTopkSql)),
    QueryDef("q_asof_join", qAsofJoin _, Some(qAsofJoinSql)),
    QueryDef("q_asof_join_native", qAsofJoinNative _, Some(qAsofJoinSql)),
    QueryDef("q_asof_multi", qAsofMulti _, Some(qAsofMultiSql)),
    QueryDef("q_asof_nearest", qAsofNearest _, Some(qAsofNearestSql)),
    QueryDef("q_asof_tolerance", qAsofTolerance _, Some(qAsofToleranceSql)),
    QueryDef("q_asof_forward", qAsofForward _, Some(qAsofForwardSql)),
    QueryDef("q_asof_strict", qAsofStrict _, Some(qAsofStrictSql)),
    QueryDef("q_range_join", qRangeJoin _, Some(qRangeJoinSql)),
    QueryDef("q_pivot", qPivot _, Some(qPivotSql)),
    QueryDef("q_unpivot", qUnpivot _, Some(qUnpivotSql)),
    QueryDef("q_skyline", qSkyline _, Some(qSkylineSql)),
    QueryDef("q_percentile", qPercentile _, Some(qPercentileSql)),
    QueryDef("q_winsorize", qWinsorize _, Some(qWinsorizeSql)),
    QueryDef("q_bucketize", qBucketize _, Some(qBucketizeSql)),
    QueryDef("q_join_size_estimate", qJoinSizeEstimate _,
      Some(qJoinSizeEstimateSql)),
    QueryDef("q_approx_distinct", qApproxDistinct _, None),
    QueryDef("q_approx_percentile", qApproxPercentile _, None))
}
