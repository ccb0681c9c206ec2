package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Cross-engine-deterministic numeric helpers (SURVEY.md §3).
  *
  * Two rounding hazards exist between Spark and DuckDB:
  *  1. double aggregation is order-dependent → sum in decimal
  *     (exact, order-independent), round in decimal space (both
  *     engines round decimals half-away-from-zero), then cast;
  *  2. `round(double)` disagrees at decimal half-points (Spark
  *     routes through the shortest decimal string, DuckDB rounds the
  *     exact binary value) → round derived doubles with
  *     `floor(x*10^k + 0.5)/10^k`, which is pure IEEE arithmetic and
  *     bit-identical on both engines.
  */
object CrossEngine {

  /** Exact order-independent sum of a money/measure column:
    * decimal(18,6) accumulate → HALF_UP round in decimal space (both
    * engines' `round(decimal)` is half-away-from-zero; their decimal
    * CASTs disagree on ties) → double.
    *
    * The accumulate is [[DecimalSumExact]], which returns exactly
    * `sum(cast(c as decimal(18,6)))` — [[dsumSql]]'s form — without a
    * `Decimal` per row: each double's unscaled decimal(18,6) value comes
    * from its binary value when frac(|x|·10^6) lies more than
    * 10^6·ulp(x) + ulp(|x|·10^6) from ½ (then the HALF_UP rounding of
    * Spark's shortest decimal string is decided), and from Spark's own
    * cast otherwise (near-ties, |x| >= 2^53/10^6, NaN, ±Inf); the
    * summands add in a signed 128-bit integer, whose sum does not
    * depend on row order or on how partial aggregates merge. */
  def dsum(c: Column): Column =
    round(DecimalSumExact.sum(c), 2).cast(DoubleType)

  def dsumSql(e: String, as: String): String =
    s"cast(round(sum(cast($e as decimal(18,6))), 2) as double) AS $as"

  /** Deterministic k-decimal rounding of a derived double. */
  def rnd(c: Column, k: Int): Column = {
    val p = math.pow(10, k)
    floor(c * p + lit(0.5)).cast(DoubleType) / p
  }

  def rndSql(e: String, k: Int): String = {
    val p = s"1e$k"
    s"floor(($e) * $p + 0.5) / $p"
  }

  /** Cross-engine 60-bit integer hash: md5 hex prefix parsed as int.
    * md5 is the one hash primitive with identical output on both
    * engines; 15 hex digits keep it inside a signed 64-bit long.
    * Runs through the native [[graft.functions.Md5Long]] expression
    * (bit-identical, no hex-string round-trip — see its scaladoc). */
  def md5Long(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      Md5Long(org.apache.spark.sql.graftbridge.ColumnBridge.expression(
        c.cast("string"))))

  def md5LongSql(e: String): String =
    s"cast(concat('0x', substr(md5($e), 1, 15)) as bigint)"
}
