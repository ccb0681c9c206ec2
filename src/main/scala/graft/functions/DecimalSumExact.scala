package graft.functions

import java.math.{BigInteger, BigDecimal => JBigDecimal}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.{ColumnBridge, ErrorBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The exact double → decimal cast and the signed 128-bit arithmetic
  * behind [[DecimalSumExact]].
  *
  * Spark casts a double to decimal(p, s) by taking its shortest
  * decimal string (`Decimal(x)`) and rounding that HALF_UP to s
  * places. [[fastUnscaled]] gets the same integer from the binary
  * value with two multiplications and a floor, and declines where it
  * cannot prove it; [[unscaledLong]] then runs Spark's own steps. */
object ExactDecimal {

  /** [[fastUnscaled]]'s "not decided" result; never a fast result,
    * whose magnitude stays below 2^53. */
  final val Undecided = Long.MinValue

  private val Pow10 = Array.tabulate(19)(i => math.pow(10, i))
  private val TwoTo53 = 9007199254740992.0

  /** Unscaled value of `cast(x as decimal(_, scale))` when the fast
    * rule decides it, else [[Undecided]].
    *
    * With a = |x| < 2^53/10^scale, y = a·10^scale rounded is within
    * ulp(y)/2 of the exact product, and the decimal string Spark
    * rounds (which parses back to x) is within ulp(a)/2 of a, so its
    * product with 10^scale is within m/2 of y, m = 10^scale·ulp(a) +
    * ulp(y). When frac(y) lies more than m from ½, that product is on
    * the same side of the same half point as y, so HALF_UP rounding of
    * the string and round-half-away of y give the same integer. Near
    * ties (a string ending in 5 at place scale+1 included), large
    * magnitudes, NaN and ±Inf are left [[Undecided]]. */
  def fastUnscaled(x: Double, scale: Int): Long = {
    val p = Pow10(scale)
    val a = Math.abs(x)
    if (!(a < TwoTo53 / p)) Undecided
    else {
      val y = a * p
      val fl = Math.floor(y)
      val f = y - fl
      if (Math.abs(f - 0.5) <= Math.ulp(a) * p + Math.ulp(y)) Undecided
      else {
        val u = fl.toLong + (if (f > 0.5) 1L else 0L)
        if (x < 0) -u else u
      }
    }
  }

  /** Unscaled long of `cast(x as decimal(precision, scale))`,
    * precision <= 18; [[Undecided]] where the cast is null (NaN, ±Inf,
    * and overflow when `nullOnOverflow`); overflow otherwise raises
    * the cast's NUMERIC_VALUE_OUT_OF_RANGE error. */
  def unscaledLong(x: Double, precision: Int, scale: Int, nullOnOverflow: Boolean): Long = {
    val u = fastUnscaled(x, scale)
    if (u != Undecided) u
    else {
      val d = try Decimal(x) catch { case _: NumberFormatException => null }
      if (d == null) Undecided
      else if (d.changePrecision(precision, scale)) d.toUnscaledLong
      else if (nullOnOverflow) Undecided
      else throw ErrorBridge.decimalOutOfRange(d, precision, scale)
    }
  }

  /** High word of the two's-complement sum aHi:aLo + bHi:bLo; the low
    * word is the wrapping `aLo + bLo`, and it carries out iff it is
    * below aLo as an unsigned number. */
  def addHi(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Long =
    aHi + bHi + (if (java.lang.Long.compareUnsigned(aLo + bLo, aLo) < 0) 1L else 0L)

  /** The signed 128-bit `hi`:`lo` as a BigInteger. */
  def bigInteger(hi: Long, lo: Long): BigInteger =
    if (hi == (lo >> 63)) BigInteger.valueOf(lo)
    else new BigInteger(java.nio.ByteBuffer.allocate(16).putLong(hi).putLong(lo).array())

  /** `hi`:`lo` read as an unscaled decimal(precision, scale); past
    * `precision` digits null, or the decimal sum's overflow error. */
  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int, nullOnOverflow: Boolean): Decimal = {
    val d = new JBigDecimal(bigInteger(hi, lo), scale)
    if (d.precision <= precision) Decimal(d, precision, scale)
    else if (nullOnOverflow) null
    else throw ErrorBridge.decimalSumOverflow()
  }
}

/** Unscaled long of `cast(child as decimal(precision, scale))` for a
  * double child, by [[ExactDecimal.unscaledLong]]: null where the cast
  * is null, the cast's error where it raises one. */
case class UnscaledDecimalCast(child: Expression, precision: Int, scale: Int, nullOnOverflow: Boolean)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unscaled_decimal_cast needs a double argument, got ${child.dataType}")

  override protected def nullSafeEval(x: Any): Any = {
    val u = ExactDecimal.unscaledLong(x.asInstanceOf[Double], precision, scale, nullOnOverflow)
    if (u == ExactDecimal.Undecided) null else u
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.ExactDecimal.unscaledLong($x, $precision, $scale, $nullOnOverflow);
         |${ev.isNull} = ${ev.value} == Long.MIN_VALUE;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): UnscaledDecimalCast =
    copy(child = newChild)

  override def prettyName: String = "unscaled_decimal_cast"
}

/** High word of the wrapping 128-bit sum `aHi`:`aLo` + `bHi`:`bLo`
  * ([[ExactDecimal.addHi]]); the low word is [[Int128AddLo]]. A null
  * `b` word adds nothing, so an aggregate's update can name its
  * nullable summand here directly, where Catalyst's common
  * subexpression elimination sees it evaluated on every row (it does
  * not share one inside an `If` branch). */
case class Int128AddHi(aHi: Expression, aLo: Expression, bHi: Expression, bLo: Expression)
  extends Expression {

  override def children: Seq[Expression] = Seq(aHi, aLo, bHi, bLo)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val h = aHi.eval(input)
    val bh = bHi.eval(input)
    val bl = bLo.eval(input)
    if (bh == null || bl == null) h
    else ExactDecimal.addHi(h.asInstanceOf[Long], aLo.eval(input).asInstanceOf[Long],
      bh.asInstanceOf[Long], bl.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(ah, al, bh, bl) = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      ${ah.code}
      ${al.code}
      ${bh.code}
      ${bl.code}
      long ${ev.value} = ${ah.value};
      if (!${bh.isNull} && !${bl.isNull}) {
        ${ev.value} = graft.functions.ExactDecimal.addHi(
          ${ah.value}, ${al.value}, ${bh.value}, ${bl.value});
      }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Int128AddHi =
    copy(aHi = newChildren(0), aLo = newChildren(1), bHi = newChildren(2), bLo = newChildren(3))
}

/** Low word of the 128-bit sum: `left + right`, wrapping in either
  * eval mode (Catalyst's `Add` raises on long overflow under ANSI);
  * a null `right` adds nothing, as in [[Int128AddHi]]. */
case class Int128AddLo(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (b == null) a else a.asInstanceOf[Long] + b.asInstanceOf[Long]
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      long ${ev.value} = ${a.value};
      if (!${b.isNull}) ${ev.value} += ${b.value};""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Int128AddLo =
    copy(left = l, right = r)
}

/** The 128-bit `hi`:`lo` as decimal(precision, scale), with `Sum`'s
  * overflow rule past `precision` digits: null, or under ANSI the
  * decimal sum's overflow error. */
case class Int128ToDecimal(left: Expression, right: Expression, precision: Int, scale: Int,
    nullOnOverflow: Boolean) extends BinaryExpression {

  override def dataType: DataType = DecimalType(precision, scale)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any =
    ExactDecimal.toDecimal(left.eval(input).asInstanceOf[Long],
      right.eval(input).asInstanceOf[Long], precision, scale, nullOnOverflow)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hi = left.genCode(ctx)
    val lo = right.genCode(ctx)
    ev.copy(code = code"""
      ${hi.code}
      ${lo.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.ExactDecimal.toDecimal(
        ${hi.value}, ${lo.value}, $precision, $scale, $nullOnOverflow);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Int128ToDecimal =
    copy(left = l, right = r)
}

/** `sum(cast(child as decimal(18,6)))` — the same value, type
  * decimal(28,6), nulls and errors — as one codegen'd aggregate over
  * long buffers, so the plan stays on whole-stage-codegen'd
  * `HashAggregateExec` with no `Decimal` per row.
  *
  * Exactness:
  *  - The summand is the cast's unscaled long. A double child takes
  *    [[ExactDecimal.fastUnscaled]]: a = |x| < 2^53/10^6 and frac(a·10^6)
  *    more than 10^6·ulp(a) + ulp(a·10^6) from ½ pins the HALF_UP
  *    rounding of Spark's shortest decimal string without building it.
  *    Near-ties, large values, NaN and ±Inf fall back to Spark's own
  *    `Decimal(x).changePrecision(18, 6)`: null, or under ANSI the
  *    cast's NUMERIC_VALUE_OUT_OF_RANGE error. Any other child type
  *    goes through Spark's `Cast`.
  *  - Summands (|u| < 10^18) add into a signed 128-bit `hi`:`lo` with
  *    a wrapping carry. Integer addition mod 2^128 is associative and
  *    commutative, and no sum of fewer than 10^20 summands leaves the
  *    range, so partial buffers merge in any order to the exact sum:
  *    the map-side combine is order-independent, as the decimal sum is.
  *  - `isEmpty` is `Sum`'s flag: the result is null for an empty or
  *    all-null group.
  *  - Evaluation builds decimal(28,6) from the 128-bit sum and applies
  *    `Sum`'s overflow rule past 28 digits: null, or under ANSI the
  *    decimal sum's overflow error. `Sum` checks each partial sum as it
  *    stores it; this checks the total once. The two differ only when
  *    a partial sum leaves 28 digits and the total comes back, after
  *    more than 10^10 summands.
  *
  * `nullOnOverflow` is fixed from the session when the column is
  * built, as `Cast` fixes its eval mode. */
case class DecimalSumExact(child: Expression, nullOnOverflow: Boolean)
  extends DeclarativeAggregate with UnaryLike[Expression] {

  import DecimalSumExact.{Precision, Scale, SumPrecision}

  override def dataType: DataType = DecimalType(SumPrecision, Scale)
  override def nullable: Boolean = true
  override def prettyName: String = "decimal_sum_exact"
  override def flatArguments: Iterator[Any] = Iterator(child)

  private def summandCast: Cast = Cast(child, DecimalType(Precision, Scale), None,
    EvalMode.fromBoolean(!nullOnOverflow))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case _ => summandCast.checkInputDataTypes()
  }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty = AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, isEmpty)

  /** The summand's unscaled long, null where the cast is null. */
  private lazy val summand: Expression = child.dataType match {
    case DoubleType => UnscaledDecimalCast(child, Precision, Scale, nullOnOverflow)
    case _ => UnscaledValue(summandCast)
  }

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  /** A null summand adds nothing. Every use of it is evaluated on
    * every row (`And`'s left operand included), so codegen computes it
    * once per row. */
  override lazy val updateExpressions: Seq[Expression] = Seq(
    Int128AddHi(hi, lo, ShiftRight(summand, Literal(63)), summand),
    Int128AddLo(lo, summand),
    And(IsNull(summand), isEmpty))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Int128AddHi(hi.left, lo.left, hi.right, lo.right),
    Int128AddLo(lo.left, lo.right),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, dataType),
      Int128ToDecimal(hi, lo, SumPrecision, Scale, nullOnOverflow))

  override protected def withNewChildInternal(newChild: Expression): DecimalSumExact =
    copy(child = newChild)
}

object DecimalSumExact {
  /** The summand type, decimal(18,6), and `sum`'s widening of it. */
  private val Precision = 18
  private val Scale = 6
  private val SumPrecision = 28

  /** Column-level API: `sum(cast(c as decimal(18,6)))`, exactly. */
  def sum(c: Column): Column =
    ColumnBridge.column(
      DecimalSumExact(ColumnBridge.expression(c),
        nullOnOverflow = !SQLConf.get.ansiEnabled).toAggregateExpression())
}
