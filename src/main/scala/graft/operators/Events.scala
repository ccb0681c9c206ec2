package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CrossEngine.{dsum, dsumSql, rnd, rndSql}

/** Event / time-series analytics (SURVEY.md §2 C) plus JSON
  * extraction (§2 B #25). All session/funnel logic works on integer
  * epoch-microseconds (exact on both engines, no float time math).
  *
  * Scale notes: every window is partitioned by `user_id` — state per
  * task is one user's events; the tumbling-window aggregate is a
  * plain hash aggregate on (hour, event_type). These are the batch
  * oracles for the Structured Streaming jobs in graft.streaming.
  */
object Events {

  private val GapUs = 1800000000L // 30 min session gap, microseconds

  // ---------------------------------------------------------------- json
  /** JSON field extraction from the `props` payload column. */
  def qJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .orderBy(col("event_id"))

  private val qJsonSql =
    """SELECT event_id, cast(props->>'k' as int) AS k_val
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- tumbling
  /** Hourly tumbling-window counts/sums per event_type — the batch
    * oracle for streaming.StreamingJobs.tumbling. */
  def qTumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .orderBy(col("hour"), col("event_type"))

  private val qTumblingWindowSql =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n_events,
      |  cast(round(sum(cast(value as decimal(18,6))), 2) as double) AS total_value
      |FROM events GROUP BY hour, event_type
      |ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- histogram
  /** Equi-width VALUE histogram of event values (20 buckets of width
    * 25 over [0, 500), under/overflow in buckets 0/21). Complements
    * `mr_partition_hist` (a key-hash histogram): this is the
    * data-profiling shape — one map-side-combinable aggregate, ≤22
    * output rows no matter the input size, min/max per bucket exact
    * (no order-dependent float summation anywhere). The bucket
    * expression is plain CASE+floor arithmetic, bit-identical on both
    * engines (DuckDB has no width_bucket). */
  private val histBucket =
    "CASE WHEN value < 0 THEN 0 WHEN value >= 500 THEN 21 " +
      "ELSE cast(floor(value / 25.0) as int) + 1 END"

  def qValueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(expr(histBucket).as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("lo"),
        max(col("value")).as("hi"))
      .orderBy(col("bucket"))

  private val qValueHistogramSql =
    s"""SELECT $histBucket AS bucket,
       |  count(*) AS n, min(value) AS lo, max(value) AS hi
       |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- ohlc bars
  /** Time-series RESAMPLING with arg-extremes: 6-hour OHLC bars per
    * event_type — open/close are the values of the chronologically
    * first/last event in the bar (arg-min/arg-max, not plain
    * min/max), high/low are value extremes. Deterministic open/close
    * via window row_numbers keyed (ts, event_id) both directions —
    * ties can't flip rows between engines, unlike bare first()/
    * min_by(). One shuffle on the bar key; the two row_numbers and
    * the aggregate share the (bar, event_type) partitioning. */
  def qOhlcBars(spark: SparkSession, dir: String): DataFrame = {
    val bar = date_trunc("day", col("ts")) +
      expr("make_interval(0, 0, 0, 0, 6 * (hour(ts) div 6), 0, 0)")
    val w = Window.partitionBy(col("bar"), col("event_type"))
    val rnA = row_number().over(w.orderBy(col("ts"), col("event_id")))
    val rnD = row_number().over(w.orderBy(col("ts").desc, col("event_id").desc))
    Tables.events(spark, dir)
      .select(col("ts"), col("event_id"), col("event_type"), col("value"))
      .withColumn("bar", bar)
      .withColumn("rna", rnA)
      .withColumn("rnd", rnD)
      .groupBy(col("bar"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        max(when(col("rna") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rnd") === 1, col("value"))).as("close"))
      .orderBy(col("bar"), col("event_type"))
  }

  private val qOhlcBarsSql =
    """WITH t AS (
      |  SELECT event_type, value,
      |    date_trunc('day', ts) + INTERVAL 6 HOUR * (hour(ts) // 6) AS bar,
      |    row_number() OVER (PARTITION BY date_trunc('day', ts) + INTERVAL 6 HOUR * (hour(ts) // 6), event_type
      |      ORDER BY ts, event_id) AS rna,
      |    row_number() OVER (PARTITION BY date_trunc('day', ts) + INTERVAL 6 HOUR * (hour(ts) // 6), event_type
      |      ORDER BY ts DESC, event_id DESC) AS rnd
      |  FROM events)
      |SELECT bar, event_type,
      |  count(*) AS n_events,
      |  max(CASE WHEN rna = 1 THEN value END) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  max(CASE WHEN rnd = 1 THEN value END) AS close
      |FROM t GROUP BY bar, event_type
      |ORDER BY bar, event_type""".stripMargin

  // ---------------------------------------------------------------- sessionize
  /** Gap-based sessionization: a >30-min silence starts a new
    * session. lag → flag → running sum = session id; then per-session
    * rollup. Batch oracle for streaming.StreamingJobs.sessionize. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(w) > GapUs, 1L)
          .when(lag(col("us"), 1).over(w).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** [[qSessionize]] through Spark's NATIVE `session_window` operator
    * — the built-in the composed lag/running-sum form re-implements
    * (brief preference (a): use the built-in where one exists; this
    * registration proves the two agree row for row under the shared
    * oracle, the `q_asof_join_native` pattern). `session_window`'s
    * window end = last event + gap, so duration = end − start − gap,
    * and the per-user session INDEX is a row_number over the ≤
    * sessions-per-user frame (tiny), ordered by session start.
    *
    * Boundary semantics, MEASURED (r10 advice follow-up): the advice
    * assumed `session_window` splits at ≥ gap and proposed a +1µs
    * offset; a planted exact-boundary corpus (RelationalSpec's
    * "planted exact-boundary gap" test) proves the opposite — Spark
    * merges sessions when the inter-event gap is ≤ the configured
    * gap and splits only STRICTLY greater (windows [t, t+gap] with
    * inclusive-end overlap merging), which is already IDENTICAL to
    * the composed form's `> GapUs` split. The gap therefore stays
    * exactly 30 min, and the planted spec is the loud guard: any
    * Spark-side semantics change flips it red. */
  def qSessionizeNative(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"))
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        (col("end_us") - col("start_us") - lit(GapUs)).as("duration_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val qSessionizeSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
       |flagged AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL THEN 1
       |         WHEN us - lag(us) OVER w > $GapUs THEN 1
       |         ELSE 0 END AS new_s
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |sessions AS (
       |  SELECT user_id, us,
       |    cast(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      as bigint) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id, count(*) AS n_events,
       |  max(us) - min(us) AS duration_us
       |FROM sessions GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- scd2
  /** SCD2 history build (gaps-and-islands run-length encoding): each
    * user's event_type stream collapses into versioned dimension rows
    * (valid_from, valid_to, is_current) — the slowly-changing-
    * dimension compaction a lakehouse runs over CDC change rows to
    * make "state as of time T" one range probe (the batch twin of the
    * native as-of join's lookup side). Consecutive same-type events
    * collapse into one version, so output ∝ CHANGES, not events.
    *
    * Scale: the flag/version windows share one (user_id, (us,
    * event_id)) sort — one exchange; the run aggregate reuses the
    * same user_id-prefixed keys; the valid_to lead window runs on the
    * COMPACTED frame (≪ events). Integer epoch-micros time math
    * only. `is_current` emitted as int 0/1 (cross-engine: parquet
    * boolean round-trips as numpy bool_, which the driver's hash
    * normalizer does not fold to int). */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wVer = Window.partitionBy(col("user_id")).orderBy(col("version"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull, 1L)
          .when(lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(wRun))
      .groupBy(col("user_id"), col("version"), col("event_type"))
      .agg(min(col("us")).as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wVer))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  private val qScd2Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, us,
      |    CASE WHEN lag(event_type) OVER w IS NULL THEN 1
      |         WHEN lag(event_type) OVER w <> event_type THEN 1
      |         ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |runs AS (
      |  SELECT user_id, event_type, us,
      |    cast(sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
      |      AS version
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, version, event_type, min(us) AS valid_from,
      |    count(*) AS n_events
      |  FROM runs GROUP BY user_id, version, event_type),
      |v AS (
      |  SELECT user_id, version, event_type, valid_from,
      |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
      |      AS valid_to,
      |    n_events
      |  FROM agg)
      |SELECT user_id, version, event_type, valid_from, valid_to, n_events,
      |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  // ---------------------------------------------------------------- sliding window
  /** Trailing 30-minute sliding count/sum per event via a RANGE
    * frame over epoch-micros — the batch form of a sliding stream
    * window, state bounded by the range width. */
  def qWindowSliding(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-GapUs, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("n_trailing_30m", count(lit(1)).over(w))
      .select(col("user_id"), col("event_id"), col("n_trailing_30m"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val qWindowSlidingSql =
    s"""SELECT user_id, event_id,
       |  count(*) OVER (PARTITION BY user_id ORDER BY us
       |                 RANGE BETWEEN $GapUs PRECEDING AND CURRENT ROW)
       |    AS n_trailing_30m
       |FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
       |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- window extras
  /** first_value / ntile / percent_rank over a per-user total order. */
  def qWindowExtras(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("first_event_type", first(col("event_type")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", rnd(percent_rank().over(w), 6))
      .select(col("user_id"), col("event_id"), col("first_event_type"),
        col("quartile"), col("pct_rank"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val qWindowExtrasSql =
    s"""SELECT user_id, event_id,
       |  first_value(event_type) OVER w AS first_event_type,
       |  cast(ntile(4) OVER w AS int) AS quartile,
       |  ${graft.functions.CrossEngine.rndSql("percent_rank() OVER w", 6)} AS pct_rank
       |FROM (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events)
       |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- funnel
  /** signup→purchase conversion per user, time-ordered. */
  def qFunnel(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts")))).as("first_signup_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("first_purchase_us"))
      .select(
        col("user_id"),
        when(col("first_signup_us").isNotNull, 1L).otherwise(0L).as("did_signup"),
        when(col("first_purchase_us").isNotNull, 1L).otherwise(0L).as("did_purchase"),
        when(col("first_purchase_us") > col("first_signup_us"), 1L).otherwise(0L).as("converted"))
      .orderBy(col("user_id"))

  private val qFunnelSql =
    """SELECT user_id,
      |  cast(CASE WHEN first_signup_us IS NOT NULL THEN 1 ELSE 0 END as bigint) AS did_signup,
      |  cast(CASE WHEN first_purchase_us IS NOT NULL THEN 1 ELSE 0 END as bigint) AS did_purchase,
      |  cast(CASE WHEN first_purchase_us > first_signup_us THEN 1 ELSE 0 END as bigint) AS converted
      |FROM (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS first_signup_us,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase_us
      |  FROM events GROUP BY user_id)
      |ORDER BY user_id""".stripMargin

  /** Conversion-latency distribution by signup cohort — the companion
    * report to [[qFunnel]]: for users whose first purchase follows
    * their first signup, the signup→purchase delay, summarized per
    * signup month as count / min / DISCRETE median / max. The median
    * is an actual element picked by rank (row_number at (n+1)/2
    * within the cohort) — no interpolation, so every output is exact
    * long microseconds cross-engine. Scale: the per-user firsts are
    * one map-side-combined aggregate; the rank window partitions on
    * the cohort month, so state is one cohort's converters per task,
    * and the summary aggregate reuses the same exchange. */
  def qFunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts")))).as("su"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("pu"))
      .filter(col("pu") > col("su")) // converted: nulls fail the comparison
      .select(col("user_id"),
        date_format(timestamp_micros(col("su")), "yyyy-MM").as("cohort"),
        (col("pu") - col("su")).as("delta_us"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("delta_us"), col("user_id"))
    firsts
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("cohort"))))
      .groupBy(col("cohort"))
      .agg(
        max(col("n")).as("n_converted"),
        min(col("delta_us")).as("min_latency_us"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("delta_us")))
          .as("median_latency_us"),
        max(col("delta_us")).as("max_latency_us"))
      .orderBy(col("cohort"))
  }

  private val qFunnelLatencySql =
    """WITH firsts AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS su,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS pu
      |  FROM events GROUP BY user_id),
      |conv AS (
      |  SELECT user_id, strftime(make_timestamp(su), '%Y-%m') AS cohort,
      |    pu - su AS delta_us
      |  FROM firsts WHERE pu > su),
      |ranked AS (
      |  SELECT cohort, user_id, delta_us,
      |    row_number() OVER (PARTITION BY cohort
      |      ORDER BY delta_us, user_id) AS rn,
      |    count(*) OVER (PARTITION BY cohort) AS n
      |  FROM conv)
      |SELECT cohort,
      |  max(n) AS n_converted,
      |  min(delta_us) AS min_latency_us,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN delta_us END) AS median_latency_us,
      |  max(delta_us) AS max_latency_us
      |FROM ranked
      |GROUP BY cohort
      |ORDER BY cohort""".stripMargin

  /** Daily user acquisition — new users (first-ever event that day)
    * and the running total: the growth curve every product report
    * starts from. Per-user first is one map-side-combined aggregate;
    * the day rollup and the running sum operate on a DAYS-sized frame
    * (bounded by the calendar, not the corpus), so the unpartitioned
    * running window is a post-aggregate frame the driver could hold —
    * the q_active_users discipline. Integer counts throughout. */
  def qNewUsers(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"))
      .select(date_format(timestamp_micros(col("first_us")), "yyyy-MM-dd").as("day"))
    val daily = firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    daily
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("day"))
  }

  private val qNewUsersSql =
    """WITH fd AS (
      |  SELECT strftime(make_timestamp(min(epoch_us(ts))), '%Y-%m-%d') AS day
      |  FROM events GROUP BY user_id),
      |daily AS (SELECT day, count(*) AS new_users FROM fd GROUP BY day)
      |SELECT day, new_users,
      |  cast(sum(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS cum_users
      |FROM daily
      |ORDER BY day""".stripMargin

  /** Per-user maximum drawdown — the peak-to-trough depth of each
    * user's value series (the risk metric finance runs on every
    * series; for product metrics: the worst engagement sag).
    * running_peak = running max over event time; drawdown = peak −
    * value; the report keeps each user's worst drawdown and the peak
    * it fell from. Determinism: running max PICKS existing doubles
    * (no accumulation), the subtraction is one IEEE op on identical
    * operands cross-engine, and the per-user argmax breaks ties on
    * the earliest event — all window passes share ONE user_id
    * exchange. */
  def qDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy(col("user_id"))
      .orderBy(col("dd").desc, col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("peak", max(col("value")).over(wRun))
      .withColumn("dd", col("peak") - col("value"))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("user_id"), rnd(col("dd"), 2).as("max_drawdown"),
        rnd(col("peak"), 2).as("peak_value"))
      .orderBy(col("user_id"))
  }

  private val qDrawdownSql =
    s"""WITH dd AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
       |    max(value) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
       |  FROM events),
       |ranked AS (
       |  SELECT user_id, peak, peak - value AS d,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY peak - value DESC, us, event_id) AS rn
       |  FROM dd)
       |SELECT user_id, ${rndSql("d", 2)} AS max_drawdown,
       |  ${rndSql("peak", 2)} AS peak_value
       |FROM ranked WHERE rn = 1
       |ORDER BY user_id""".stripMargin

  /** Per-user inactivity profile — the churn-risk signal next to the
    * acquisition curve (28e''): each user's LONGEST gap between
    * consecutive events, when it started, and how many gaps exceeded
    * a day. All integer microsecond arithmetic on one lag window +
    * one aggregate, sharing the user_id exchange every events op
    * uses; single-event users carry no gap and are absent (the
    * funnel-latency convention). */
  def qInactivity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"), col("prev_us"),
        (col("us") - col("prev_us")).as("gap_us"))
      // rank-pick (the q_funnel_latency discipline): the longest gap's
      // row, ties to the EARLIEST start; the over-a-day tally rides
      // the same user partition
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("gap_us").desc, col("prev_us"))))
      .withColumn("n_gaps_over_day",
        sum(when(col("gap_us") > 86400000000L, 1L).otherwise(0L))
          .over(Window.partitionBy(col("user_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("gap_us").as("max_gap_us"),
        col("prev_us").as("max_gap_start_us"), col("n_gaps_over_day"))
      .orderBy(col("user_id"))
  }

  private val qInactivitySql =
    """WITH g AS (
      |  SELECT user_id,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_us,
      |    epoch_us(ts) AS us
      |  FROM events),
      |gaps AS (
      |  SELECT user_id, prev_us, us - prev_us AS gap_us
      |  FROM g WHERE prev_us IS NOT NULL),
      |ranked AS (
      |  SELECT user_id, prev_us, gap_us,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY gap_us DESC, prev_us) AS rn,
      |    cast(sum(CASE WHEN gap_us > 86400000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id) AS bigint) AS n_gaps_over_day
      |  FROM gaps)
      |SELECT user_id, gap_us AS max_gap_us, prev_us AS max_gap_start_us,
      |  n_gaps_over_day
      |FROM ranked WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- funnel steps
  /** K-step ORDERED funnel (signup → view → click → purchase) with
    * per-step conversion — the general form of `q_funnel`'s 2-step
    * flags: a user is at step k iff they performed step k's event
    * STRICTLY AFTER their step-(k−1) time (first qualifying
    * occurrence, the standard product-analytics semantics). Output:
    * one row per step with the surviving user count, conversion from
    * step 1, and conversion from the previous step.
    *
    * Scale shape: step k is one filtered scan equi-joined to the
    * step-(k−1) frame on user_id (each ≤ users rows) + a per-user min
    * — K small user-keyed aggregates, no per-event state, no window
    * over events. The final rate window runs over K rows. */
  def qFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val StepTypes = Seq("signup", "view", "click", "purchase")
    val ev = Tables.events(spark, dir).select(
      col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val first = ev.filter(col("event_type") === StepTypes.head)
      .groupBy(col("user_id")).agg(min(col("us")).as("t"))
    val frames = StepTypes.tail.scanLeft(first) { (prev, typ) =>
      ev.filter(col("event_type") === typ)
        .join(prev.select(col("user_id"), col("t").as("pt")), Seq("user_id"))
        .filter(col("us") > col("pt"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t"))
    }
    val counts = frames.zip(StepTypes).zipWithIndex.map {
      case ((f, name), i) =>
        f.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("step"), lit(name).as("step_name"),
            col("n_users"))
    }.reduce(_ unionAll _)
    val w = Window.orderBy(col("step"))
    counts.select(col("step"), col("step_name"), col("n_users"),
        rnd(col("n_users").cast("double") /
          first_value(col("n_users")).over(w), 4).as("conv_from_first"),
        rnd(col("n_users").cast("double") /
          coalesce(lag(col("n_users"), 1).over(w), col("n_users")), 4)
          .as("conv_from_prev"))
      .orderBy(col("step"))
  }

  private val qFunnelStepsSql =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, min(us) AS t FROM ev
      |       WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.us) AS t FROM ev e
      |       JOIN s1 ON e.user_id = s1.user_id AND e.us > s1.t
      |       WHERE e.event_type = 'view' GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.us) AS t FROM ev e
      |       JOIN s2 ON e.user_id = s2.user_id AND e.us > s2.t
      |       WHERE e.event_type = 'click' GROUP BY 1),
      |s4 AS (SELECT e.user_id, min(e.us) AS t FROM ev e
      |       JOIN s3 ON e.user_id = s3.user_id AND e.us > s3.t
      |       WHERE e.event_type = 'purchase' GROUP BY 1),
      |counts AS (
      |  SELECT 1 AS step, 'signup' AS step_name,
      |         (SELECT count(*) FROM s1) AS n_users
      |  UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
      |  UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s3)
      |  UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4))
      |SELECT step, step_name, n_users,
      |  floor(cast(n_users as double)
      |    / first_value(n_users) OVER (ORDER BY step) * 1e4 + 0.5) / 1e4
      |    AS conv_from_first,
      |  floor(cast(n_users as double)
      |    / lag(n_users, 1, n_users) OVER (ORDER BY step) * 1e4 + 0.5) / 1e4
      |    AS conv_from_prev
      |FROM counts ORDER BY step""".stripMargin

  // ---------------------------------------------------------------- merge upsert
  /** Batch CDC merge (the batch twin of `StreamSinks.foreachBatchUpsert`
    * and SCD1 to `q_scd2`'s SCD2): a base snapshot — each user's
    * latest state before the cutoff — merged with a change batch —
    * each user's latest state at-or-after it. Source rows win on key
    * collision (update), source-only keys insert, target-only keys
    * carry over, and every output row is tagged with its merge op —
    * MERGE INTO semantics as one full-outer join.
    *
    * Scale shape: both sides reduce to one row per user BEFORE the
    * merge join (partitioned windows, state = one user's events), so
    * the full-outer join is key-sized, not event-sized; at 100 TB the
    * change batch is typically ingest-sized and broadcastable. */
  def qMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    // 2024-01-16T00:00:00Z in epoch micros — integer on both engines
    val cutUs = 1705363200000000L
    val ev = Tables.events(spark, dir).select(
      col("user_id"), unix_micros(col("ts")).as("us"),
      col("event_id"), col("event_type"), col("value"))
    def latest(side: DataFrame): DataFrame =
      side.withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("us").desc, col("event_id").desc)))
        .filter(col("rn") === 1).drop("rn")
    val t = latest(ev.filter(col("us") < cutUs))
      .select(col("user_id"), col("us").as("t_us"), col("event_id").as("t_eid"),
        col("event_type").as("t_type"), col("value").as("t_value"))
    val s = latest(ev.filter(col("us") >= cutUs))
      .select(col("user_id"), col("us").as("s_us"), col("event_id").as("s_eid"),
        col("event_type").as("s_type"), col("value").as("s_value"))
    t.join(s, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        when(col("t_us").isNull, "insert")
          .when(col("s_us").isNull, "keep").otherwise("update").as("op"),
        coalesce(col("s_eid"), col("t_eid")).as("last_event_id"),
        coalesce(col("s_us"), col("t_us")).as("last_us"),
        coalesce(col("s_type"), col("t_type")).as("last_type"),
        coalesce(col("s_value"), col("t_value")).as("last_value"))
      .orderBy(col("user_id"))
  }

  private val qMergeUpsertSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type, value
      |  FROM events),
      |t AS (
      |  SELECT user_id, us AS t_us, event_id AS t_eid,
      |         event_type AS t_type, value AS t_value
      |  FROM ev WHERE us < 1705363200000000
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |    ORDER BY us DESC, event_id DESC) = 1),
      |s AS (
      |  SELECT user_id, us AS s_us, event_id AS s_eid,
      |         event_type AS s_type, value AS s_value
      |  FROM ev WHERE us >= 1705363200000000
      |  QUALIFY row_number() OVER (PARTITION BY user_id
      |    ORDER BY us DESC, event_id DESC) = 1)
      |SELECT coalesce(t.user_id, s.user_id) AS user_id,
      |  CASE WHEN t_us IS NULL THEN 'insert'
      |       WHEN s_us IS NULL THEN 'keep' ELSE 'update' END AS op,
      |  coalesce(s_eid, t_eid) AS last_event_id,
      |  coalesce(s_us, t_us) AS last_us,
      |  coalesce(s_type, t_type) AS last_type,
      |  coalesce(s_value, t_value) AS last_value
      |FROM t FULL JOIN s ON t.user_id = s.user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- resample
  /** Hourly resample + forward fill per user: each user's observed
    * series (last event value within each hour) re-gridded onto a
    * dense hourly axis from their first to their last active hour,
    * gaps carrying the last observed value forward — the
    * gap-filling/alignment pass time-series pipelines run before any
    * windowed model sees the data. Hours are integer epoch-hours
    * (exact on both engines); the fill copies doubles, never sums
    * them, so bit-determinism is free.
    *
    * Scale shape: everything partitions by user_id (per-hour last,
    * bounds, grid explode, fill window) — state per task is one
    * user's hours; the dense grid is emitted by `sequence()` inside
    * the task, never materialized driver-side. */
  def qResample(spark: SparkSession, dir: String): DataFrame = {
    val UsPerHour = 3600000000L
    // ONE pinned user exchange shared by every downstream pass (r19,
    // guide §2.4 + the ClusteredDistribution subset rule): the hourly
    // last-obs window (user, hr), the grid bounds aggregate (user),
    // the grid⋈hourly join (user, hr), and the forward-fill window
    // (user) all accept hash(user_id), so the events shuffle once and
    // — decisively at scale — the DENSE exploded grid (rows ∝ user
    // hour-spans, usually ≫ events) never crosses the network again
    // before the final sort. The r18 rejection kept the per-pass
    // exchanges for the hourly branch's partial WindowGroupLimit
    // prune; measured at sf1 that trade loses badly (the prune saves
    // a pruned-hourly shuffle but re-shuffles the dense grid for the
    // fill window): HEAD 38.4 s vs 15.2 s un-pinned single-exchange
    // vs 4.9 s with the pinned spreadByKey count (AQE byte-coalesce
    // otherwise serializes the windows). Leave-one-out at sf0.1,
    // local[4]: 1.64 s with, 2.43 s without (medians), the call
    // winning 5 of 5 pairs.
    val ev = Tables.spreadByKey(
      Tables.events(spark, dir).select(
        col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
        .withColumn("hr", col("us").divide(lit(UsPerHour)).cast("long")),
      col("user_id"))
    // last observation within each (user, hour)
    val hourly = ev.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("hr"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("hr"), col("value").as("v_obs"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
      .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("hr"))
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select(
        col("user_id"), col("hr"),
        last(col("v_obs"), ignoreNulls = true).over(
          Window.partitionBy(col("user_id")).orderBy(col("hr"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("v_fill"),
        col("v_obs").isNull.as("gap_filled"))
      .orderBy(col("user_id"), col("hr"))
  }

  private val qResampleSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id, value,
      |         epoch_us(ts) // 3600000000 AS hr
      |  FROM events),
      |hourly AS (
      |  SELECT user_id, hr, value AS v_obs FROM ev
      |  QUALIFY row_number() OVER (PARTITION BY user_id, hr
      |    ORDER BY us DESC, event_id DESC) = 1),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(mn, mx)) AS hr
      |  FROM (SELECT user_id, min(hr) AS mn, max(hr) AS mx
      |        FROM ev GROUP BY user_id))
      |SELECT g.user_id, g.hr,
      |  last_value(h.v_obs IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
      |  (h.v_obs IS NULL) AS gap_filled
      |FROM grid g
      |LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
      |ORDER BY g.user_id, g.hr""".stripMargin

  // ---------------------------------------------------------------- interval join
  /** Purchases joined to the SAME user's views in the preceding hour
    * — ONE definition under both surfaces: the streaming job
    * ([[graft.streaming.StreamingJobs.purchaseViewJoin]] delegates
    * here) gets two-sided watermarks for state GC; a batch frame gets
    * the plain equi-join on user with the interval predicate pushed
    * into the join condition. Inner-join semantics on both: a
    * purchase with no qualifying view emits nothing. */
  def purchaseViewJoin(events: DataFrame): DataFrame = {
    val base = events.select(col("ts"), col("user_id"), col("event_type"))
    val (p0, v0) =
      if (events.isStreaming)
        (base.withWatermark("ts", "1 hour"), base.withWatermark("ts", "2 hours"))
      else (base, base)
    val p = p0.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val v = v0.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    p.join(v, expr(
      "p_user = v_user AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts <= p_ts"))
  }

  /** The interval join as an ORACLE-PAIRED registered query — the
    * batch twin that hash-checks the join semantics the streaming job
    * runs (until now stream-vs-batch equality was spec-only; this
    * pins the batch side to DuckDB too): per purchase, the count of
    * the user's views in the preceding hour. Integer epoch-micros in
    * the output; the 1-hour interval is exactly 3.6e9 micros on both
    * engines.
    *
    * Scale shape: equi-join on user_id (the interval predicate rides
    * the join as a post-condition on the sorted streams), then a
    * (user, purchase-ts) hash aggregate — everything partitions by
    * user; no per-event state beyond the join buffers. */
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    purchaseViewJoin(Tables.events(spark, dir))
      .groupBy(col("p_user"), col("p_ts"))
      .agg(count(lit(1)).as("n_views"))
      .select(col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_us"), col("n_views"))
      .orderBy(col("user_id"), col("p_us"))

  private val qIntervalJoinSql =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
      |           WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, epoch_us(ts) AS v_us FROM events
      |      WHERE event_type = 'view')
      |SELECT p.user_id, p.p_us, count(*) AS n_views
      |FROM p JOIN v ON p.user_id = v.user_id
      |  AND v.v_us >= p.p_us - 3600000000 AND v.v_us <= p.p_us
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- active users
  /** Rolling active-user counts — DAU and trailing-7-day WAU per
    * observed day, the engagement dashboard staple whose WAU half is
    * genuinely hard at scale (rolling DISTINCT does not decompose:
    * you cannot sum daily distincts). The exact shape here: distinct
    * (user, day) first — the one exchange that touches event volume —
    * then a tiny observed-day grid (broadcast) joined by day-range
    * against the pruned pairs, and a distinct count per grid day.
    * Work ∝ users × days × 7 after pruning, regardless of event
    * count. At 100 TB the same plan holds (the grid stays tiny);
    * when users × days itself is too wide, the published relaxation
    * is per-day HLL sketches merged over the window (`q_approx_
    * distinct`'s machinery) — documented, not silently swapped, since
    * this query's contract is exact counts. */
  def qActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val UsPerDay = 86400000000L
    // floor, not cast-truncate: pre-1970 timestamps yield negative
    // micros, where truncate rounds toward zero but the oracle's `//`
    // floors — floor() matches for any epoch (same fix as q_trend).
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(UsPerDay)).cast("long").as("day"))
      .distinct()
    val days = ud.select(col("day").as("d")).distinct()
    val dau = ud.groupBy(col("day").as("d"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = ud.join(broadcast(days),
        col("day").between(col("d") - 6, col("d")))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("d"))
      .select(col("d").as("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  private val qActiveUsersSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |days AS (SELECT DISTINCT day AS d FROM ud),
      |dau AS (SELECT day AS d, count(DISTINCT user_id) AS dau
      |        FROM ud GROUP BY 1),
      |wau AS (
      |  SELECT days.d, count(DISTINCT ud.user_id) AS wau
      |  FROM ud JOIN days ON ud.day BETWEEN days.d - 6 AND days.d
      |  GROUP BY 1)
      |SELECT dau.d AS day, dau, wau
      |FROM dau JOIN wau ON dau.d = wau.d
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- active users (approx)
  /** The documented HLL relaxation of [[qActiveUsers]], shipped: when
    * distinct (user, day) is itself too wide to exchange (users ×
    * days at 100 TB), per-day DataSketches HLL sketches replace the
    * exact distinct. Events aggregate STRAIGHT into one sketch per
    * day (map-side partial merge — the only event-volume exchange
    * carries `days × 2^lgK`-byte sketch partials, never user rows);
    * DAU is the per-day estimate; WAU re-merges each day's 7-sketch
    * window via `hll_union_agg` over the same broadcast day-grid
    * range join as the exact form — sketch union is exactly the
    * set-union semantics rolling DISTINCT needs but counts can't
    * give. lgK = 12 ⇒ ~1.6 % relative standard error, 4 KiB per
    * sketch; the streaming twin is the same aggregate under a
    * watermark (sketches are mergeable monoids, the
    * mapGroupsWithState shape `stream_mg_topk` already uses).
    *
    * Rows-only by construction (approximate); RelationalSpec bounds
    * per-day error vs the exact query at 5 % and proves the
    * observed-day grids identical. */
  def qActiveUsersApprox(spark: SparkSession, dir: String): DataFrame = {
    val UsPerDay = 86400000000L
    val LgK = 12
    val daySk = Tables.events(spark, dir)
      .select(
        floor(unix_micros(col("ts")) / lit(UsPerDay)).cast("long").as("day"),
        col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), LgK).as("sk"))
    val days = daySk.select(col("day").as("d"))
    val dau = daySk.select(col("day").as("d"),
      hll_sketch_estimate(col("sk")).as("dau_approx"))
    val wau = daySk.join(broadcast(days),
        col("day").between(col("d") - 6, col("d")))
      .groupBy(col("d"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau_approx"))
    dau.join(wau, Seq("d"))
      .select(col("d").as("day"), col("dau_approx"), col("wau_approx"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------- outliers
  /** Per-user z-score outlier detection over event values — the
    * telemetry anomaly sweep (per-entity baseline, not a global
    * threshold: a value normal for one user is anomalous for
    * another). Emits only the anomalies: events more than 3
    * population-σ from their user's mean.
    *
    * Cross-engine determinism by the dsum discipline, extended to
    * second moments: Σv and Σv² accumulate in decimal
    * (order-independent and exact — decimal(18,6)² is decimal
    * arithmetic on both engines), cast to double once, and every
    * double op after that is the IDENTICAL expression tree on both
    * engines — so mean/σ/z are bit-equal and even the z > 3 boundary
    * filter agrees exactly (no rounding before the comparison).
    *
    * Scale shape: one groupBy(user) for the 3-column moment row
    * (map-side combined), joined back on the same user key; the
    * z projection and filter are per-row — output ∝ anomalies.
    * σ = 0 groups (constant series) and singletons are excluded by
    * the variance guard, not by a null-producing division. */
  def qOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val dec = col("value").cast("decimal(18,6)")
    val stats = ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(dec).cast("double").as("s"),
      sum(dec * dec).cast("double").as("q"))
    val mean = col("s") / col("n")
    val variance = (col("q") - col("s") * col("s") / col("n")) / col("n")
    val z = (col("value") - mean) / sqrt(variance)
    ev.join(stats, Seq("user_id"))
      .filter(col("n") >= 2 && variance > 0 && abs(z) > 3)
      .select(col("event_id"), col("user_id"), col("value"),
        rnd(z, 4).as("zscore"))
      .orderBy(col("event_id"))
  }

  private val qOutliersSql =
    """WITH st AS (
      |  SELECT user_id, count(*) AS n,
      |    cast(sum(cast(value as decimal(18,6))) as double) AS s,
      |    cast(sum(cast(value as decimal(18,6)) * cast(value as decimal(18,6)))
      |      as double) AS q
      |  FROM events GROUP BY user_id)
      |SELECT e.event_id, e.user_id, e.value,
      |  floor(((e.value - s / n) / sqrt((q - s * s / n) / n)) * 1e4 + 0.5) / 1e4
      |    AS zscore
      |FROM events e JOIN st USING (user_id)
      |WHERE n >= 2 AND (q - s * s / n) / n > 0
      |  AND abs((e.value - s / n) / sqrt((q - s * s / n) / n)) > 3
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- MAD anomalies
  /** Robust per-user anomaly detection: the modified z-score
    * M = 0.6745·(v − median)/MAD > 3.5 (Iglewicz & Hoaglin, ASQC
    * 1993) — the median/MAD twin of [[qOutliers]]'s mean/σ rule.
    * The difference is WHY a production sweep wants both: one 1e6
    * spike inflates σ enough to hide a second, smaller anomaly from
    * the z-score (the masking effect); median and MAD have breakdown
    * point 0.5, so the spike can't recruit the baseline.
    *
    * Determinism: no percentile-interpolation builtin — Spark
    * interpolates `lo + (hi−lo)·f` while DuckDB computes `(lo+hi)/2`,
    * which differ in the last ulp. Instead the median IS rank
    * arithmetic, written identically on both engines: rank per user
    * by (value, event_id), pick positions ⌊(n+1)/2⌋ and ⌈(n+1)/2⌉,
    * median = their sum/count (1 row when n is odd; 2-element FP
    * addition is commutative, so the unordered sum is exact-
    * deterministic). MAD repeats the identical move on |v − median|.
    * Every double op after that is the same expression tree both
    * sides, so even the unrounded M > 3.5 boundary agrees bit-exactly
    * (the qOutliers discipline, carried through TWO ranked passes).
    *
    * Scale shape: both ranking windows partition on user_id — the
    * second pass re-sorts within the SAME hash partitioning (one
    * exchange, two in-partition sorts); the medians frame is a
    * per-user row joined back on the shuffle key; output ∝
    * anomalies. MAD = 0 (over half the user's values identical) and
    * n < 2 are excluded by exact guards, not null division. */
  def anomalyMad(events: DataFrame): DataFrame = {
    def medOf(df: DataFrame, v: Column, out: String): DataFrame = {
      val w = Window.partitionBy(col("user_id")).orderBy(v, col("event_id"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("rn") === floor((col("n") + 1) / 2) ||
          col("rn") === ceil((col("n") + 1) / 2))
        .groupBy(col("user_id"))
        .agg((sum(v) / count(lit(1))).as(out))
    }
    val ev = events.select(col("event_id"), col("user_id"),
      col("value").cast("double").as("value"))
    val med = medOf(ev, col("value"), "med")
    val dev = ev.join(med, "user_id")
      .withColumn("d", abs(col("value") - col("med")))
    val mad = medOf(dev, col("d"), "mad")
    val m = lit(0.6745) * (col("value") - col("med")) / col("mad")
    dev.join(mad, "user_id")
      .filter(col("mad") > 0 && abs(m) > 3.5)
      .select(col("event_id"), col("user_id"), col("value"),
        rnd(m, 4).as("mscore"))
  }

  def qAnomalyMad(spark: SparkSession, dir: String): DataFrame =
    // spreadByKey: the per-user median/MAD windows reuse this pinned
    // user exchange; unpinned, AQE coalesces it by bytes. Leave-one-out
    // at sf0.1, local[4]: 1.07 s with, 1.27 s without (medians), the
    // call winning 4 of 5 pairs
    anomalyMad(Tables.spreadByKey(Tables.events(spark, dir), col("user_id")))
      .orderBy(col("event_id"))

  private val qAnomalyMadSql =
    """WITH ev AS (
      |  SELECT event_id, user_id, cast(value as double) AS value
      |  FROM events),
      |r1 AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM ev),
      |med AS (
      |  SELECT user_id, sum(value) / count(*) AS med FROM r1
      |  WHERE rn = floor((n + 1) / 2) OR rn = ceil((n + 1) / 2)
      |  GROUP BY user_id),
      |dev AS (
      |  SELECT e.event_id, e.user_id, e.value, m.med,
      |    abs(e.value - m.med) AS d
      |  FROM ev e JOIN med m USING (user_id)),
      |r2 AS (
      |  SELECT user_id, d,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY d, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM dev),
      |mad AS (
      |  SELECT user_id, sum(d) / count(*) AS mad FROM r2
      |  WHERE rn = floor((n + 1) / 2) OR rn = ceil((n + 1) / 2)
      |  GROUP BY user_id)
      |SELECT dev.event_id, dev.user_id, dev.value,
      |  floor(0.6745 * (dev.value - dev.med) / mad.mad * 1e4 + 0.5) / 1e4
      |    AS mscore
      |FROM dev JOIN mad USING (user_id)
      |WHERE mad.mad > 0
      |  AND abs(0.6745 * (dev.value - dev.med) / mad.mad) > 3.5
      |ORDER BY dev.event_id""".stripMargin

  // ---------------------------------------------------------------- CUSUM
  /** CUSUM slack κ in micro-value units (2.0 value units): the
    * allowance subtracted per step, so in-control wander around the
    * mean accumulates nothing and only a SUSTAINED shift above
    * mean + κ grows the statistic (Page 1954's k, fixed rather than
    * σ-derived to stay integer-exact). */
  private[graft] val CusumSlackMicro = 2000000L

  /** Drift threshold in value units for the `drift` flag (Page's h).
    * The synthetic corpus's heavy-tailed values put per-user maxima
    * at 127-951 (measured at sf1 AND sf10 — the distribution is
    * SF-stable because per-user history length is); 500 ≈ p87 keeps
    * both sides of the flag populated at every SF. A deployment
    * calibrates h to its own in-control run — it is a knob, not a
    * constant of the algorithm. */
  private[graft] val CusumH = 500.0

  /** Per-user one-sided CUSUM change-point statistic (Page,
    * Biometrika 1954) — the DRIFT detector completing the anomaly
    * family: `q_outliers`/`q_anomaly_mad` flag single points,
    * `q_trend` fits a global slope; CUSUM catches a SUSTAINED shift
    * of the level (a sensor that starts reading 5 units high, a
    * feed whose mean moves) that point rules never see and a global
    * fit dilutes. Cᵢ = max(0, Cᵢ₋₁ + (vᵢ − μ − κ)) over the user's
    * events in time order; reported is max Cᵢ and the event where
    * the max is first attained.
    *
    * THE SCALE MOVE: the recurrence max(0, prev + d) unrolls to
    * Cᵢ = Sᵢ − min(0, min_{j≤i} Sⱼ) with S the plain prefix sum of
    * deviations — so CUSUM is TWO window functions (running sum,
    * running min) on the user_id partitioning every events op
    * already shuffles on, not a per-user array fold: no collect_list,
    * per-row state only, linear at any user-history length (the
    * EWMA horizon trick is unnecessary here because the algebra,
    * not a truncation, removes the sequential state).
    *
    * Determinism: values scale to exact longs (⌊v·10⁶ + ½⌋, v ≥ 0 on
    * this table); deviations multiply through by n so the per-user
    * mean never becomes FP (dᵢ = n·(vᵢ' − κ') − Σv'): prefix sums,
    * running mins, maxima, and the C == max tie-break (min event_id)
    * are all exact integer arithmetic on both engines; the single
    * double division by n·10⁶ converts back to value units at the
    * end, rounded once. Overflow bound: |d| ≤ n·max(v')
    * ≈ 10³·5.6·10⁸ at 10× this corpus's per-user density — prefix
    * sums stay ~10 orders under Long.Max. */
  /** `fixedMeanMicro`: None = the offline two-pass form (reference
    * level is the user's own full-history mean, exact via the ×n
    * rescale); Some(μ'₀) = the MONITORING form against a calibrated
    * in-control level in micro-value units — the shape a stream can
    * compute (the full-history mean needs the future), and the
    * contract [[graft.streaming.StreamingJobs.cusumStream]] matches
    * BIT-EXACTLY since every quantity is integer arithmetic. */
  def cusumOf(events: DataFrame,
      fixedMeanMicro: Option[Long] = None): DataFrame = {
    val vi = floor(col("value").cast("double") * lit(1e6) + lit(0.5))
      .cast("long")
    val ev = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), vi.as("v"))
    val wUser = Window.partitionBy(col("user_id"))
    val wTime = wUser.orderBy(col("us"), col("event_id"))
    val wRun = wTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // d = scale·(v − κ) − base: (n, Σv) in the self-referenced form
    // (deviations ×n so the mean never becomes FP), (1, μ'₀) when the
    // reference level is given
    val withStats = fixedMeanMicro match {
      case None => ev
        .withColumn("scale", count(lit(1)).over(wUser))
        .withColumn("base", sum(col("v")).over(wUser))
      case Some(mu) => ev
        .withColumn("scale", lit(1L))
        .withColumn("base", lit(mu))
    }
    val withC = withStats
      .withColumn("n", count(lit(1)).over(wUser))
      .withColumn("d", col("scale") * (col("v") - lit(CusumSlackMicro)) - col("base"))
      .withColumn("s", sum(col("d")).over(wRun))
      .withColumn("c", col("s") - least(lit(0L), min(col("s")).over(wRun)))
      .withColumn("cmax", max(col("c")).over(wUser))
    withC.groupBy(col("user_id"))
      .agg(
        first(col("n")).as("n"),
        rnd(first(col("cmax")).cast("double") /
          (first(col("scale")).cast("double") * lit(1e6)), 4).as("cusum_max"),
        min(when(col("c") === col("cmax"), col("event_id"))).as("at_event"))
      .withColumn("drift", col("cusum_max") > lit(CusumH))
  }

  def qCusum(spark: SparkSession, dir: String): DataFrame =
    cusumOf(Tables.events(spark, dir)).orderBy(col("user_id"))

  private val qCusumSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |    cast(floor(cast(value as double) * 1e6 + 0.5) as bigint) AS v
       |  FROM events),
       |st AS (
       |  SELECT user_id, event_id, us, v,
       |    count(*) OVER (PARTITION BY user_id) AS n,
       |    sum(v) OVER (PARTITION BY user_id) AS sv
       |  FROM ev),
       |ps AS (
       |  SELECT user_id, event_id, us, n,
       |    sum(n * (v - $CusumSlackMicro) - sv) OVER (
       |      PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM st),
       |cu AS (
       |  SELECT user_id, event_id, n,
       |    s - least(0, min(s) OVER (
       |      PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS c
       |  FROM ps),
       |mx AS (
       |  SELECT user_id, n, c, event_id,
       |    max(c) OVER (PARTITION BY user_id) AS cmax
       |  FROM cu)
       |SELECT user_id, n,
       |  ${graft.functions.CrossEngine.rndSql(
            "cast(cmax as double) / (cast(n as double) * 1e6)", 4)}
       |    AS cusum_max,
       |  min(CASE WHEN c = cmax THEN event_id END) AS at_event,
       |  ${graft.functions.CrossEngine.rndSql(
            "cast(cmax as double) / (cast(n as double) * 1e6)", 4)}
       |    > $CusumH AS drift
       |FROM mx
       |GROUP BY user_id, n, cmax
       |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- retention
  /** Daily cohort retention matrix — the product-analytics staple
    * missing between sessionize (within-visit) and funnel (ordered
    * steps): users are grouped into cohorts by the epoch-day of
    * their FIRST event, and each later active day is credited to
    * (cohort_day, day_offset); `retention` is that cell's user count
    * over the cohort's size. Integer epoch-days end to end — the one
    * division is the final ratio, rounded by the cross-engine rule.
    *
    * Scale shape: distinct (user, day) prunes to ≤ users × days rows
    * in one exchange; the cohort day is a per-user window min on the
    * SAME user partitioning (no second exchange of the wide frame);
    * the matrix is a (cohort, offset) hash aggregate whose result is
    * cohorts × offsets — tiny — so the final sizes join broadcasts.
    * Nothing holds per-event state past the first distinct. */
  def qRetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val UsPerDay = 86400000000L
    // floor-consistent with the oracle's `//` for any epoch (see
    // qActiveUsers / q_trend): truncate diverges on pre-1970 micros.
    val userDays = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(UsPerDay)).cast("long").as("day"))
      .distinct()
    val withCohort = userDays.withColumn("cohort_day",
      min(col("day")).over(Window.partitionBy(col("user_id"))))
    val cells = withCohort
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = cells.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("cohort_size"))
    cells.join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_users"),
        rnd(col("n_users").cast("double") / col("cohort_size"), 4).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  private val qRetentionCohortsSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |c AS (
      |  SELECT user_id, day,
      |    min(day) OVER (PARTITION BY user_id) AS cohort_day
      |  FROM ud),
      |cells AS (
      |  SELECT cohort_day, day - cohort_day AS day_offset,
      |    count(*) AS n_users
      |  FROM c GROUP BY 1, 2),
      |sizes AS (
      |  SELECT cohort_day, n_users AS cohort_size
      |  FROM cells WHERE day_offset = 0)
      |SELECT cells.cohort_day, day_offset, n_users,
      |  floor((cast(n_users as double) / cohort_size) * 1e4 + 0.5) / 1e4
      |    AS retention
      |FROM cells JOIN sizes USING (cohort_day)
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---------------------------------------------------------------- registry
  // ---------------------------------------------------------------- transitions
  /** Event-type transition matrix — the Markov-chain edge table
    * product analytics derives from any event stream (what follows
    * what, and with what probability): per user, each event pairs
    * with its successor via one `lead` window; the aggregate counts
    * (from_type, to_type) edges and normalizes rows to transition
    * probabilities with an exact integer-ratio division. Generalizes
    * the fixed-path funnels (`q_funnel_steps` is one row of this
    * matrix chain). Scale: the window partitions by user_id (task
    * state = one user's events — the same key every other events op
    * shuffles on), the edge aggregate is a ≤ |types|² hash aggregate
    * with map-side combine, and the row-sum window runs on that tiny
    * frame. */
  def qEventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wRow = Window.partitionBy(col("from_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", rnd(col("n").cast("double") / sum(col("n")).over(wRow), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val qEventTransitionsSql =
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS to_type
       |  FROM events),
       |edges AS (
       |  SELECT event_type AS from_type, to_type, count(*) AS n
       |  FROM seq WHERE to_type IS NOT NULL
       |  GROUP BY 1, 2)
       |SELECT from_type, to_type, n,
       |  ${graft.functions.CrossEngine.rndSql(
            "cast(n as double) / sum(n) OVER (PARTITION BY from_type)", 6)} AS p
       |FROM edges
       |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- event paths
  /** Output bound for [[qEventPaths]]: the top sequences — path
    * mining is a reporting surface, so the consumer wants a ranked
    * shortlist and the bound keeps output independent of corpus
    * size. */
  private val EventPathTopK = 25

  /** Top length-3 event paths (the sequential-pattern extension of
    * [[qEventTransitions]]'s bigram matrix — SPAM/PrefixSpan-style
    * contiguous patterns at fixed length, the form one window pass
    * can mine): per user, every consecutive (step1, step2, step3)
    * triple in event-time order, counted corpus-wide, top-25 by
    * (count, path). The double lead() rides ONE user_id exchange —
    * the same window as the bigram operator, so path length extends
    * cost-free to any fixed k; counts are integers (cross-engine
    * exact) and the shortlist is a TakeOrdered, no global sort. */
  def qEventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("step2", lead(col("event_type"), 1).over(w))
      .withColumn("step3", lead(col("event_type"), 2).over(w))
      .filter(col("step3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(EventPathTopK)
  }

  private val qEventPathsSql =
    s"""WITH seq AS (
       |  SELECT event_type AS step1,
       |    lead(event_type, 1) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS step2,
       |    lead(event_type, 2) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS step3
       |  FROM events)
       |SELECT step1, step2, step3, count(*) AS n
       |FROM seq WHERE step3 IS NOT NULL
       |GROUP BY 1, 2, 3
       |ORDER BY n DESC, step1, step2, step3
       |LIMIT $EventPathTopK""".stripMargin

  // ---------------------------------------------------------------- table diff
  /** Snapshot instants for [[qTableDiff]] (UTC epoch-micros): the
    * corpus spans Jan 2024, so T1 mid-month / T2 near the end give
    * every class real mass (users first seen in (T1, T2) → added;
    * users with new events → changed; idle users → excluded). */
  private val DiffT1Us = 1705276800000000L // 2024-01-15
  private val DiffT2Us = 1706140800000000L // 2024-01-25

  /** Generic keyed snapshot diff — the CDC primitive (what a data
    * platform runs between two published versions of a keyed table to
    * emit an added/removed/changed changelog instead of re-shipping
    * the snapshot): full outer join on `key`, classify by null side,
    * payload compared null-safely as one struct. Unchanged rows are
    * dropped — output ∝ churn, not table size. At 100 TB both sides
    * shuffle on the key once (or zero times if the published
    * snapshots are bucketed by key — the layout [[graft.sources]]
    * writes); there is no other exchange. */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val av = a.select(col(key).as("__k"),
      struct(a.columns.filterNot(_ == key).map(col).toSeq: _*).as("old_row"))
    val bv = b.select(col(key).as("__k"),
      struct(b.columns.filterNot(_ == key).map(col).toSeq: _*).as("new_row"))
    av.join(bv, Seq("__k"), "full_outer")
      .withColumn("change",
        when(col("old_row").isNull, "added")
          .when(col("new_row").isNull, "removed")
          .when(!(col("old_row") <=> col("new_row")), "changed"))
      .filter(col("change").isNotNull)
      .select(col("__k").as(key), col("change"), col("old_row"), col("new_row"))
  }

  /** Registered table-diff query: the per-user "profile" (latest
    * event's id/type/value) as of [[DiffT1Us]] vs as of [[DiffT2Us]],
    * emitted as an added/changed changelog. Because the snapshots are
    * both as-of states of ONE append-only log, the registered form
    * never joins two snapshot scans at all — both states come out of
    * a SINGLE pass as conditional `max_by` aggregates (the old side
    * simply masks rows at or after T1), so the plan is one scan + one
    * exchange on user_id regardless of how far apart the snapshots
    * are. 'removed' cannot occur between as-of states of an
    * append-only log by construction; the general two-table form
    * (where it can) is [[snapshotDiff]], spec-covered. Unchanged
    * users (no events in (T1, T2)) are excluded: old and new resolve
    * to the same event_id. */
  def qTableDiff(spark: SparkSession, dir: String): DataFrame =
    asOfDiff(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us")),
      DiffT1Us, DiffT2Us)
      .orderBy(col("user_id"))

  /** The one-pass as-of diff kernel behind [[qTableDiff]] (public so
    * planted specs can drive the added / unchanged-excluded classes
    * the sf corpus doesn't exercise — every sf user is active before
    * T1). `events` needs (user_id, event_id, event_type, value, us). */
  def asOfDiff(events: DataFrame, t1Us: Long, t2Us: Long): DataFrame = {
    val pay = struct(col("event_id"), col("event_type"), col("value"))
    val ord = struct(col("us"), col("event_id"))
    val inA = col("us") < t1Us
    events
      .filter(col("us") < t2Us)
      .groupBy(col("user_id"))
      .agg(
        max_by(when(inA, pay), when(inA, ord)).as("a"),
        max_by(pay, ord).as("b"))
      .filter(col("a").isNull || col("a.event_id") =!= col("b.event_id"))
      .select(col("user_id"),
        when(col("a").isNull, "added").otherwise("changed").as("change"),
        col("a.event_id").as("old_event_id"), col("b.event_id").as("new_event_id"),
        col("a.event_type").as("old_type"), col("b.event_type").as("new_type"),
        rnd(col("a.value"), 6).as("old_value"), rnd(col("b.value"), 6).as("new_value"))
  }

  private val qTableDiffSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
       |  FROM events WHERE epoch_us(ts) < $DiffT2Us),
       |a AS (
       |  SELECT user_id, event_id, event_type, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY us DESC, event_id DESC) AS rn
       |    FROM ev WHERE us < $DiffT1Us) WHERE rn = 1),
       |b AS (
       |  SELECT user_id, event_id, event_type, value FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY us DESC, event_id DESC) AS rn
       |    FROM ev) WHERE rn = 1)
       |SELECT b.user_id,
       |  CASE WHEN a.user_id IS NULL THEN 'added' ELSE 'changed' END AS change,
       |  a.event_id AS old_event_id, b.event_id AS new_event_id,
       |  a.event_type AS old_type, b.event_type AS new_type,
       |  ${graft.functions.CrossEngine.rndSql("a.value", 6)} AS old_value,
       |  ${graft.functions.CrossEngine.rndSql("b.value", 6)} AS new_value
       |FROM b LEFT JOIN a ON a.user_id = b.user_id
       |WHERE a.user_id IS NULL OR a.event_id <> b.event_id
       |ORDER BY b.user_id""".stripMargin

  // ---------------------------------------------------------------- ewma
  /** EWMA horizon: events beyond the last 32 contribute < 2^-31
    * relatively at α = 1/2 — below the 1e-6 output rounding — so the
    * truncated fold equals the untruncated EWMA at the reported
    * precision while bounding per-user aggregate state to 32 rows. */
  private val EwmaHorizon = 32

  /** Per-user exponentially-weighted moving average of event value —
    * the time-decay "current level" metric (recency-weighted where
    * `q_trend` fits a direction): s₀ = v₀, sᵢ = (sᵢ₋₁ + vᵢ)/2 over
    * the user's events in time order (α = 1/2, the
    * divide-by-powers-of-two setting where every fold step is an IEEE
    * add + an EXACT halving).
    *
    * Determinism: FP addition doesn't associate, so the fold ORDER is
    * pinned — a per-user sorted array folded left with `aggregate`,
    * and DuckDB's `list_reduce` over the same `list(... ORDER BY)`
    * replays the identical operation sequence: bit-equal before the
    * final rounding (the q_trend cast-once discipline, extended to a
    * sequential recurrence no moment-sum rewrite can express).
    *
    * Scale shape: one row_number window partitioned on user_id (the
    * key every events op shuffles on) keeps the last [[EwmaHorizon]]
    * events per user, so the groupBy's collected array — and with it
    * per-task aggregate state — is ≤ 32 structs regardless of how
    * many events a user has; the fold is a per-row expression on the
    * compact per-user frame. */
  def ewmaOf(events: DataFrame, horizon: Int = EwmaHorizon): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val recent = events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value").cast("double").as("v"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= horizon)
    recent.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recent"),
        array_sort(collect_list(struct(col("us"), col("event_id"), col("v"))))
          .as("arr"))
      .select(col("user_id"), col("n_recent"),
        rnd(aggregate(transform(col("arr"), s => s.getField("v")),
          lit(null).cast("double"),
          (s, x) => when(s.isNull, x).otherwise((s + x) / lit(2.0))), 6)
          .as("ewma"))
  }

  def qEwma(spark: SparkSession, dir: String): DataFrame =
    ewmaOf(Tables.events(spark, dir)).orderBy(col("user_id"))

  private val qEwmaSql =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |    cast(value as double) AS v,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
       |  FROM events),
       |r AS (
       |  SELECT user_id, count(*) AS n_recent,
       |    list(v ORDER BY us, event_id) AS arr
       |  FROM ev WHERE rk <= $EwmaHorizon GROUP BY user_id)
       |SELECT user_id, n_recent,
       |  ${graft.functions.CrossEngine.rndSql(
            "list_reduce(arr, (s, x) -> (s + x) / 2)", 6)} AS ewma
       |FROM r ORDER BY user_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_ewma", qEwma _, Some(qEwmaSql)),
    QueryDef("q_table_diff", qTableDiff _, Some(qTableDiffSql)),
    QueryDef("q_event_transitions", qEventTransitions _,
      Some(qEventTransitionsSql)),
    QueryDef("q_event_paths", qEventPaths _, Some(qEventPathsSql)),
    QueryDef("q_funnel_latency", qFunnelLatency _, Some(qFunnelLatencySql)),
    QueryDef("q_new_users", qNewUsers _, Some(qNewUsersSql)),
    QueryDef("q_drawdown", qDrawdown _, Some(qDrawdownSql)),
    QueryDef("q_inactivity", qInactivity _, Some(qInactivitySql)),
    QueryDef("q_json", qJson _, Some(qJsonSql)),
    QueryDef("q_tumbling_window", qTumblingWindow _, Some(qTumblingWindowSql)),
    QueryDef("q_ohlc_bars", qOhlcBars _, Some(qOhlcBarsSql)),
    QueryDef("q_value_histogram", qValueHistogram _, Some(qValueHistogramSql)),
    QueryDef("q_sessionize", qSessionize _, Some(qSessionizeSql)),
    QueryDef("q_sessionize_native", qSessionizeNative _, Some(qSessionizeSql)),
    QueryDef("q_scd2", qScd2 _, Some(qScd2Sql)),
    QueryDef("q_window_sliding", qWindowSliding _, Some(qWindowSlidingSql)),
    QueryDef("q_window_extras", qWindowExtras _, Some(qWindowExtrasSql)),
    QueryDef("q_funnel", qFunnel _, Some(qFunnelSql)),
    QueryDef("q_merge_upsert", qMergeUpsert _, Some(qMergeUpsertSql)),
    QueryDef("q_resample", qResample _, Some(qResampleSql)),
    QueryDef("q_retention_cohorts", qRetentionCohorts _,
      Some(qRetentionCohortsSql)),
    QueryDef("q_outliers", qOutliers _, Some(qOutliersSql)),
    QueryDef("q_anomaly_mad", qAnomalyMad _, Some(qAnomalyMadSql)),
    QueryDef("q_cusum", qCusum _, Some(qCusumSql)),
    QueryDef("q_interval_join", qIntervalJoin _, Some(qIntervalJoinSql)),
    QueryDef("q_active_users", qActiveUsers _, Some(qActiveUsersSql)),
    QueryDef("q_active_users_approx", qActiveUsersApprox _, None),
    QueryDef("q_funnel_steps", qFunnelSteps _, Some(qFunnelStepsSql)))
}
