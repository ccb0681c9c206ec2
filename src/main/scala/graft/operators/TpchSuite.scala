package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CrossEngine.{dsum, dsumSql, rnd, rndSql}
import graft.functions.DecimalSumExact

/** The remaining TPC-H query shapes (Q2, Q4, Q7–Q22), adapted to the
  * driver's reduced schema (SURVEY.md §2 B). `Relational` carries
  * Q1/Q3/Q5/Q6; this module closes the suite so every classic OLAP
  * shape — correlated scalar subqueries, EXISTS/NOT-EXISTS semi
  * chains, disjunctive pushdown, min-per-group join-back, two-level
  * aggregation, global-share thresholds — has a registered,
  * oracle-paired representative.
  *
  * Schema adaptations (the synthetic tables lack partsupp,
  * l_commitdate/l_receiptdate/l_shipmode, p_container/p_mfgr,
  * c_phone/comments). Each query keeps the REFERENCE SHAPE — the
  * join/subquery structure Catalyst has to plan — and substitutes
  * the nearest available predicate; the substitution is documented
  * per query. Lateness (Q4/Q12/Q21) is `l_shipdate >
  * o_orderdate + N days` in place of the commit/receipt pair;
  * supplier "cost" (Q2) is the observed min unit price
  * `l_extendedprice / l_quantity` in place of ps_supplycost;
  * "complaints" (Q16) is `s_acctbal < 0`; phone country codes (Q22)
  * are the nation name list.
  *
  * Cross-engine determinism follows SURVEY.md §3: money aggregates
  * through [[dsum]] (exact decimal, order-independent), ratios of
  * already-rounded sums, quantity sums as integer casts, correlated
  * avg thresholds multiplied out to integer-exact products
  * (`5·qty·cnt < sum` instead of `qty < 0.2·sum/cnt`), and a total
  * order on every output.
  *
  * Scale notes (SURVEY.md §4, §18): SF-growing dimensions
  * (customer/supplier/part and frames derived from them) go through
  * [[Tables.dimHint]] — the size-gated broadcast hint that fires at
  * tested SFs and yields to AQE's runtime join planning once the
  * frame outgrows `spark.sql.autoBroadcastJoinThreshold` (a forced
  * hint would OOM at TPC-H sf≈100k and disable AQE's demotion);
  * only frames bounded by construction (nation = 25 rows, region = 5,
  * single-row scalars, limit-k shortlists) carry a plain
  * `broadcast()`. Every fact-side aggregate gets map-side partial
  * aggregation; fact⋈fact (Q4's EXISTS, Q13's outer count, Q18's
  * having, Q21's per-order stats) shuffles once on the order key —
  * the plan a 1000-executor run wants. Single-row scalar frames
  * (Q11's total, Q15's max, Q22's avg) ride the allowlisted
  * broadcast-1-row crossJoin pattern. */
object TpchSuite {

  // ---------------------------------------------------------------- q2
  /** TPC-H Q2 shape (min-cost supplier): min-per-group + join-back.
    * Without partsupp, "cost" is the observed min unit price over
    * shipped lineitems of each p_size=25 part; ties keep every
    * offering supplier (Q2's semantics). The min table is |parts in
    * the size class| rows — size-gated ([[Tables.dimHint]]) for the
    * join-back: broadcast while it fits, AQE-planned once the part
    * count outgrows the threshold. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).filter(col("p_size") === 25)
    val offers = Tables.lineitem(spark, dir)
      .join(Tables.dimHint(part), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val minU = offers.groupBy(col("p_partkey"))
      .agg(min(col("unit_price")).as("min_price"))
    offers.join(Tables.dimHint(minU), Seq("p_partkey"))
      .filter(col("unit_price") === col("min_price"))
      .join(Tables.dimHint(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("n_name"), rnd(col("min_price"), 4).as("unit_price"))
      .distinct()
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  private val q2Sql =
    s"""WITH offers AS (
       |  SELECT p_partkey, p_name, l_suppkey,
       |    l_extendedprice / l_quantity AS unit_price
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_size = 25),
       |m AS (SELECT p_partkey, min(unit_price) AS min_price
       |      FROM offers GROUP BY 1)
       |SELECT DISTINCT o.p_partkey, o.p_name, o.l_suppkey AS s_suppkey,
       |  s_name, n_name, ${rndSql("m.min_price", 4)} AS unit_price
       |FROM offers o
       |JOIN m ON o.p_partkey = m.p_partkey AND o.unit_price = m.min_price
       |JOIN supplier ON o.l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |ORDER BY 1, 3""".stripMargin

  // ---------------------------------------------------------------- q4
  /** TPC-H Q4 shape (order priority checking): EXISTS semi-join from
    * orders into lineitem with a correlated date predicate. Lateness
    * = shipped > 90 days after the order date (no commit/receipt
    * columns). The semi-join shuffles both facts once on the order
    * key; the priority aggregate is 5 groups. */
  def q4PriorityCount(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val q4Sql =
    s"""SELECT o_orderpriority, count(*) AS order_count
       |FROM orders
       |WHERE o_orderdate >= timestamp '1997-01-01'
       |  AND o_orderdate < timestamp '1997-07-01'
       |  AND EXISTS (SELECT 1 FROM lineitem
       |              WHERE l_orderkey = o_orderkey
       |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q7
  /** TPC-H Q7 (volume shipping): revenue flowing between a nation
    * pair in both directions, by ship year. Two broadcast copies of
    * nation (supplier side, customer side) keep the fact side
    * shuffle-free up to its aggregate. */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.dimHint(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.dimHint(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private val q7Sql =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  ${dsumSql("volume", "revenue")}
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    cast(year(l_shipdate) AS int) AS l_year,
       |    l_extendedprice * (1.0 - l_discount) AS volume
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  WHERE l_shipdate >= timestamp '1996-01-01'
       |    AND l_shipdate < timestamp '1998-01-01'
       |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ---------------------------------------------------------------- q8
  /** TPC-H Q8 (national market share): the fraction of ECONOMY-part
    * revenue into ASIA-region customers supplied from NATION_3, by
    * order year. Numerator and denominator are separate [[dsum]]s of
    * the SAME aggregate pass (one exchange); the share divides two
    * already-exact doubles and rounds once. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val suppNation = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.dimHint(Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.dimHint(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"))
      .join(Tables.dimHint(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0)))
          .as("nation_rev"),
        dsum(vol).as("total_rev"))
      .select(col("o_year"),
        rnd(col("nation_rev") / col("total_rev"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  private val q8Sql =
    s"""WITH v AS (
       |  SELECT cast(year(o_orderdate) AS int) AS o_year,
       |    l_extendedprice * (1.0 - l_discount) AS volume,
       |    n1.n_name AS supp_nation
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  JOIN region ON n2.n_regionkey = r_regionkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
       |    AND o_orderdate >= timestamp '1996-01-01'
       |    AND o_orderdate < timestamp '1998-01-01'),
       |agg AS (
       |  SELECT o_year,
       |    ${dsumSql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END", "nation_rev")},
       |    ${dsumSql("volume", "total_rev")}
       |  FROM v GROUP BY o_year)
       |SELECT o_year, ${rndSql("nation_rev / total_rev", 6)} AS mkt_share
       |FROM agg ORDER BY o_year""".stripMargin

  // ---------------------------------------------------------------- q9
  /** TPC-H Q9 shape (product-type profit): profit by supplier nation
    * and order year over parts whose name contains 'red'. Without
    * ps_supplycost the profit term is the discounted revenue — the
    * join/aggregate structure (part name scan → fact join → orders
    * year → nation rollup) is what the shape exercises. */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.dimHint(Tables.part(spark, dir)
          .filter(col("p_name").contains("red"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.dimHint(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)

  private val q9Sql =
    s"""SELECT n_name AS nation, cast(year(o_orderdate) AS int) AS o_year,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", "sum_profit")}
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%red%'
       |GROUP BY 1, 2
       |ORDER BY 1, 2 DESC""".stripMargin

  // ---------------------------------------------------------------- q10
  /** TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    * lost to returns in a quarter. One fact shuffle (orders⋈lineitem
    * on the order key at scale; both filtered first), customer and
    * nation broadcast, TakeOrdered for the shortlist. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp"))
          .filter(col("o_orderdate") < lit("1997-10-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.dimHint(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  private val q10Sql =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)", "revenue")}
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= timestamp '1997-07-01'
       |  AND o_orderdate < timestamp '1997-10-01'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q11
  /** TPC-H Q11 shape (important stock): per-part shipped value from
    * ASIA-region suppliers, kept where the part exceeds TWICE the
    * mean share — a global-share HAVING. TPC-H's fixed 0.1% fraction
    * is scaled by 1/SF in the spec precisely because a constant dies
    * as the part count grows (measured: empty at sf1 here); the
    * 2×-mean form (`value · n_parts > 2 · total`) is the
    * scale-invariant equivalent and keeps both comparison sides
    * products of the same [[dsum]]-exact doubles. The (total, n)
    * pair is the allowlisted single-row broadcast. */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val asiaSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(spark, dir)
      .join(Tables.dimHint(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("value"))
    // decimal accumulate (q22's pattern): `value` entries are 2-decimal
    // doubles, exact in decimal(18,6), so grand_total is order-
    // independent — a plain FP sum could flip a boundary part between
    // engines/runs under the strict `>` filter below
    val total = value.agg(
      DecimalSumExact.sum(col("value")).cast("double").as("grand_total"),
      count(lit(1)).as("n_parts"))
    value.crossJoin(broadcast(total))
      .filter(col("value") * col("n_parts") > col("grand_total") * lit(2.0))
      .select(col("p_partkey"), col("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  private val q11Sql =
    s"""WITH value AS (
       |  SELECT l_partkey AS p_partkey,
       |    ${dsumSql("l_extendedprice * (1.0 - l_discount)", "value")}
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = 'ASIA'
       |  GROUP BY l_partkey)
       |SELECT p_partkey, value FROM value
       |WHERE value * (SELECT count(*) FROM value)
       |    > (SELECT cast(sum(cast(value AS decimal(18,6))) AS double)
       |       FROM value) * 2.0
       |ORDER BY value DESC, p_partkey""".stripMargin

  // ---------------------------------------------------------------- q12
  /** TPC-H Q12 shape (shipping-delay priority mix): lineitems bucketed
    * by order→ship delay (no shipmode column), counting high- vs
    * low-priority orders per bucket. The CASE tallies ride the one
    * fact⋈fact join; day arithmetic is integer on both engines. */
  def q12ShipDelay(spark: SparkSession, dir: String): DataFrame = {
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    val high = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(
        when(delay > 120, "3-LATE").when(delay > 30, "2-SLOW")
          .otherwise("1-PROMPT").as("delay_bucket"),
        when(high, 1L).otherwise(0L).as("h"),
        when(high, 0L).otherwise(1L).as("l"))
      .groupBy(col("delay_bucket"))
      .agg(sum(col("h")).as("high_line_count"), sum(col("l")).as("low_line_count"))
      .orderBy(col("delay_bucket"))
  }

  private val q12Sql =
    s"""SELECT delay_bucket,
       |  cast(sum(h) AS bigint) AS high_line_count,
       |  cast(sum(l) AS bigint) AS low_line_count
       |FROM (
       |  SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 120 THEN '3-LATE'
       |              WHEN date_diff('day', o_orderdate, l_shipdate) > 30 THEN '2-SLOW'
       |              ELSE '1-PROMPT' END AS delay_bucket,
       |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS h,
       |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END AS l
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_shipdate >= timestamp '1997-01-01'
       |    AND l_shipdate < timestamp '1998-01-01')
       |GROUP BY delay_bucket
       |ORDER BY delay_bucket""".stripMargin

  // ---------------------------------------------------------------- q13
  /** TPC-H Q13 (customer order-count distribution): two-level
    * aggregate over a LEFT OUTER join — zero-order customers must
    * appear in the c_count=0 bucket. Orders aggregate FIRST (map-side
    * combine on the fact), then join customer: at scale both sides
    * are |customers| and sort-merge; the outer side is never
    * exploded. The priority filter stands in for Q13's comment
    * NOT-LIKE. */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    Tables.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q13Sql =
    s"""SELECT c_count, count(*) AS custdist
       |FROM (
       |  SELECT coalesce(cnt, 0) AS c_count
       |  FROM customer
       |  LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders
       |             WHERE o_orderpriority <> '4-NOT SPECIFIED'
       |             GROUP BY o_custkey) oc
       |    ON c_custkey = oc.o_custkey)
       |GROUP BY c_count
       |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------- q14
  /** TPC-H Q14 (promo revenue): share of one month's revenue from
    * PROMO-type parts. Both sums come out of ONE aggregate pass; the
    * single output row divides two exact doubles and rounds once. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .join(Tables.dimHint(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0))).as("pr"),
        dsum(vol).as("tr"))
      .select(rnd(col("pr") * lit(100.0) / col("tr"), 6).as("promo_revenue"))
  }

  private val q14Sql =
    s"""WITH agg AS (
       |  SELECT
       |    ${dsumSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", "pr")},
       |    ${dsumSql("l_extendedprice * (1.0 - l_discount)", "tr")}
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= timestamp '1997-09-01'
       |    AND l_shipdate < timestamp '1997-10-01')
       |SELECT ${rndSql("pr * 100.0 / tr", 6)} AS promo_revenue FROM agg""".stripMargin

  // ---------------------------------------------------------------- q15
  /** TPC-H Q15 (top supplier): quarter revenue per supplier, keep the
    * max (ties keep every maximal supplier — the view+max semantics).
    * The max is the allowlisted single-row broadcast; revenue is
    * [[dsum]]-exact, so the equality is deterministic cross-engine. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(Tables.dimHint(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private val q15Sql =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |    ${dsumSql("l_extendedprice * (1.0 - l_discount)", "total_revenue")}
       |  FROM lineitem
       |  WHERE l_shipdate >= timestamp '1997-01-01'
       |    AND l_shipdate < timestamp '1997-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q16
  /** TPC-H Q16 shape (supplier counts by part class): distinct
    * suppliers per (brand, type, size) over a brand/type/size
    * predicate, excluding flagged suppliers via NOT IN (here:
    * negative account balance standing in for complaint comments).
    * The anti-join side is tiny and broadcast; countDistinct is
    * exact (Spark plans the standard two-phase expand). */
  def q16SupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)
    val excluded = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.lineitem(spark, dir)
      .join(Tables.dimHint(Tables.part(spark, dir)
          .filter(col("p_brand") =!= "Brand#9")
          .filter(col("p_type") =!= "PROMO")
          .filter(col("p_size").isin(sizes: _*))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.dimHint(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  private val q16Sql =
    s"""SELECT p_brand, p_type, p_size,
       |  count(DISTINCT l_suppkey) AS supplier_cnt
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |WHERE p_brand <> 'Brand#9' AND p_type <> 'PROMO'
       |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
       |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---------------------------------------------------------------- q17
  /** TPC-H Q17 (small-quantity revenue): average yearly revenue from
    * lineitems under 20% of their part's average quantity, for one
    * brand. The correlated avg is a per-part aggregate joined back
    * (broadcast — bounded by the brand's part count); the threshold
    * comparison is multiplied out to the integer-exact
    * `5·qty·cnt < sum` so no engine ever divides. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val br = Tables.lineitem(spark, dir)
      .join(Tables.dimHint(Tables.part(spark, dir).filter(col("p_brand") === "Brand#3")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val stats = br.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("long")).as("sq"), count(lit(1)).as("cq"))
    br.join(Tables.dimHint(stats), col("l_partkey") === col("pk"))
      .filter(col("l_quantity") * col("cq") * lit(5.0) < col("sq"))
      .agg(dsum(col("l_extendedprice")).as("s"))
      .select(rnd(col("s") / lit(7.0), 2).as("avg_yearly"))
  }

  private val q17Sql =
    s"""WITH br AS (
       |  SELECT l_partkey, l_quantity, l_extendedprice
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_brand = 'Brand#3'),
       |stats AS (
       |  SELECT l_partkey AS pk, cast(sum(cast(l_quantity AS bigint)) AS bigint) AS sq,
       |    count(*) AS cq
       |  FROM br GROUP BY 1),
       |agg AS (
       |  SELECT ${dsumSql("l_extendedprice", "s")}
       |  FROM br JOIN stats ON l_partkey = pk
       |  WHERE l_quantity * cq * 5.0 < sq)
       |SELECT ${rndSql("s / 7.0", 2)} AS avg_yearly FROM agg""".stripMargin

  // ---------------------------------------------------------------- q18
  /** TPC-H Q18 (large-volume orders): orders whose total quantity
    * exceeds 300, top-20 by order value. The HAVING aggregate runs on
    * the fact first (one exchange on the order key, map-side
    * combine); survivors are a shortlist joined back to orders and a
    * broadcast customer. Quantity sums are integer-exact. */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.dimHint(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  private val q18Sql =
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
       |FROM orders
       |JOIN (SELECT l_orderkey, cast(sum(cast(l_quantity AS bigint)) AS bigint) AS sum_qty
       |      FROM lineitem GROUP BY l_orderkey
       |      HAVING sum(cast(l_quantity AS bigint)) > 300) big
       |  ON o_orderkey = big.l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_totalprice DESC, o_orderkey
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q19
  /** TPC-H Q19 (disjunctive discounted revenue): an OR of three
    * (brand, size-range, quantity-range) predicate blocks — the
    * disjunctive-pushdown shape (the part filter is the union of the
    * three brand/size blocks and prunes the broadcast side; the
    * quantity ranges apply per-block after the join). */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.dimHint(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 20) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 35) &&
          col("l_quantity").between(20, 40)))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))

  private val q19Sql =
    s"""SELECT ${dsumSql("l_extendedprice * (1.0 - l_discount)", "revenue")}
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 1 AND 20)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 20
       |       AND l_quantity BETWEEN 10 AND 30)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35
       |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  // ---------------------------------------------------------------- q20
  /** TPC-H Q20 shape (part promotion): ASIA-region suppliers who
    * shipped more than 400 units of PROMO-type parts in 1997 — the
    * nested semi-join chain (part class → fact aggregate → HAVING →
    * supplier semi-join → nation filter). Quantity sums are
    * integer-exact; the qualifying-supplier frame is tiny and drives
    * a broadcast semi-join. */
  def q20PartPromotion(spark: SparkSession, dir: String): DataFrame = {
    val shipped = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.dimHint(Tables.part(spark, dir).filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .filter(col("q") > 400)
      .select(col("l_suppkey"))
    Tables.supplier(spark, dir)
      .join(Tables.dimHint(shipped), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  private val q20Sql =
    s"""SELECT s_suppkey, s_name, n_name
       |FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND s_suppkey IN (
       |    SELECT l_suppkey FROM lineitem
       |    JOIN part ON l_partkey = p_partkey
       |    WHERE p_type = 'PROMO'
       |      AND l_shipdate >= timestamp '1997-01-01'
       |      AND l_shipdate < timestamp '1998-01-01'
       |    GROUP BY l_suppkey
       |    HAVING sum(cast(l_quantity AS bigint)) > 400)
       |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q21
  /** TPC-H Q21 shape (suppliers who kept orders waiting): for
    * finished multi-supplier orders, count per ASIA-region supplier
    * the orders where THEY were the only late shipper (late =
    * shipped > 120 days after order date). Q21's EXISTS/NOT-EXISTS
    * pair collapses into ONE per-order aggregate — distinct supplier
    * count, distinct LATE supplier count, and (for n_late = 1 orders)
    * THE late supplier as `max(when(late, suppkey))`, well-defined
    * exactly because the filter pins n_late to 1. The aggregate is
    * two-level — per-(order, supplier) max(late) first, then plain
    * per-order counts — because countDistinct would plan an Expand
    * (3× the 10×-sf join output through the exchange); measured at
    * sf10: 12.6 s (join re-evaluated for the pick side) → 11.0 s
    * (one-pass countDistinct) → 5.4 s (this form). */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
          .as("late"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late")) // dedup first: no countDistinct Expand
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supp"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .join(Tables.dimHint(Tables.supplier(spark, dir)
          .join(broadcast(Tables.nation(spark, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"))),
        col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)

  private val q21Sql =
    s"""WITH lo AS MATERIALIZED (
       |  SELECT l_orderkey, l_suppkey,
       |    l_shipdate > o_orderdate + INTERVAL 120 DAY AS late
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderstatus = 'F'),
       |stats AS (
       |  SELECT l_orderkey FROM lo GROUP BY l_orderkey
       |  HAVING count(DISTINCT l_suppkey) >= 2
       |    AND count(DISTINCT CASE WHEN late THEN l_suppkey END) = 1)
       |SELECT s_name, count(*) AS numwait
       |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late) w
       |JOIN stats ON w.l_orderkey = stats.l_orderkey
       |JOIN supplier ON w.l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q22
  /** TPC-H Q22 shape (global sales opportunity): customers from a
    * nation list (standing in for phone country codes) with an
    * above-average positive balance and NO recent orders (every
    * synthetic customer has SOME order, so the anti-join pivots on
    * the last seven months). The avg threshold is multiplied out
    * (`bal·n > sum`) so neither engine divides; the (sum, n) pair is
    * the allowlisted single-row broadcast. */
  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_3", "NATION_5", "NATION_7",
      "NATION_9", "NATION_11", "NATION_13")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(nations: _*))
    val stats = cust.filter(col("c_acctbal") > 0)
      .agg(
        DecimalSumExact.sum(col("c_acctbal")).cast("double").as("bal_sum"),
        count(lit(1)).as("bal_n"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(stats))
      .filter(col("c_acctbal") * col("bal_n") > col("bal_sum"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("n_name"))
  }

  private val q22Sql =
    s"""WITH cust AS MATERIALIZED (
       |  SELECT c_custkey, c_acctbal, n_name
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  WHERE n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7',
       |                   'NATION_9','NATION_11','NATION_13')),
       |stats AS (
       |  SELECT cast(sum(cast(c_acctbal AS decimal(18,6))) AS double) AS bal_sum,
       |    count(*) AS bal_n
       |  FROM cust WHERE c_acctbal > 0)
       |SELECT n_name, count(*) AS numcust,
       |  ${dsumSql("c_acctbal", "totacctbal")}
       |FROM cust, stats
       |WHERE c_acctbal * bal_n > bal_sum
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= timestamp '2001-01-01')
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- registry
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q2_min_cost_supplier", q2MinCostSupplier _, Some(q2Sql)),
    QueryDef("q4_priority_count", q4PriorityCount _, Some(q4Sql)),
    QueryDef("q7_volume_shipping", q7VolumeShipping _, Some(q7Sql)),
    QueryDef("q8_market_share", q8MarketShare _, Some(q8Sql)),
    QueryDef("q9_product_profit", q9ProductProfit _, Some(q9Sql)),
    QueryDef("q10_returned_items", q10ReturnedItems _, Some(q10Sql)),
    QueryDef("q11_important_parts", q11ImportantParts _, Some(q11Sql)),
    QueryDef("q12_ship_delay", q12ShipDelay _, Some(q12Sql)),
    QueryDef("q13_customer_distribution", q13CustomerDistribution _, Some(q13Sql)),
    QueryDef("q14_promo_revenue", q14PromoRevenue _, Some(q14Sql)),
    QueryDef("q15_top_supplier", q15TopSupplier _, Some(q15Sql)),
    QueryDef("q16_supplier_counts", q16SupplierCounts _, Some(q16Sql)),
    QueryDef("q17_small_qty_revenue", q17SmallQtyRevenue _, Some(q17Sql)),
    QueryDef("q18_large_orders", q18LargeOrders _, Some(q18Sql)),
    QueryDef("q19_disjunctive_revenue", q19DisjunctiveRevenue _, Some(q19Sql)),
    QueryDef("q20_part_promotion", q20PartPromotion _, Some(q20Sql)),
    QueryDef("q21_waiting_supplier", q21WaitingSupplier _, Some(q21Sql)),
    QueryDef("q22_global_sales", q22GlobalSales _, Some(q22Sql)))
}
