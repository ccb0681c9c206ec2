package graft.functions

import java.math.{BigInteger, BigDecimal => JBigDecimal}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge, ErrorBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DoubleType}

/** Per-group state of [[VectorMeanExact]]: for each component a signed
  * 128-bit sum of unscaled decimal(28,12) values (`hi`:`lo`, two's
  * complement) and whether any non-null element reached it, plus the
  * group's row count. No per-row allocation beyond the element cast. */
final class VectorMeanBuffer(val dim: Int) {
  val hi = new Array[Long](dim)
  val lo = new Array[Long](dim)
  val seen = new Array[Boolean](dim)
  var n = 0L

  /** Add the signed 128-bit value `h`:`l` to component `i`. */
  def add(i: Int, h: Long, l: Long): Unit = {
    val s = lo(i) + l
    hi(i) += h + (if (java.lang.Long.compareUnsigned(s, l) < 0) 1L else 0L)
    lo(i) = s
  }

  def mergeIn(other: VectorMeanBuffer): Unit = {
    var i = 0
    while (i < dim) {
      add(i, other.hi(i), other.lo(i))
      seen(i) |= other.seen(i)
      i += 1
    }
    n += other.n
  }
}

/** Component-wise mean of `dim`-wide `array<double>` rows, exactly as
  * `array(sum(cast(v[i] as decimal(28,12))).cast("double") / count(1))`
  * over i < dim computes it, bit for bit, in ONE aggregate function
  * instead of `dim` decimal sums and a count.
  *
  * Exactness: each element goes through Spark's own cast —
  * `Decimal(x)` (the shortest decimal string of x) then
  * `changePrecision(28, 12)` (HALF_UP) — so the summands are the
  * decimal sum's summands. Their unscaled values (|u| < 10^28 < 2^94)
  * add into a 128-bit integer, which is exact and associative, so the
  * sum is independent of row order and of how partial buffers merge,
  * as the decimal sum is. `eval` turns it into `Decimal(sum, 38, 12)`
  * and divides its `toDouble` by the row count: the same conversion
  * and division the decimal form performs.
  *
  * Nulls and errors follow the decimal form: a null element is
  * skipped but its row still counts; NaN and ±Inf cast to null, so
  * they are skipped too; a component with no non-null element in the
  * group is null. An element with |x| >= 1e16 does not fit
  * decimal(28,12): it raises the cast's NUMERIC_VALUE_OUT_OF_RANGE
  * error under ANSI and is skipped as null otherwise
  * (`nullOnOverflow`, fixed from the session when the column is
  * built, as `Cast` fixes its eval mode). A sum past 38 digits (over
  * 10^10 rows of maximal magnitude) errors or nulls the same way at
  * `eval`. Rows whose array is null or not `dim` wide are ignored
  * (the trainer filters them out before grouping). */
case class VectorMeanExact(
    dim: Int,
    v: Expression,
    nullOnOverflow: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorMeanBuffer]
  with UnaryLike[Expression] {

  require(dim >= 1, s"vector_mean_exact needs dim >= 1, got $dim")

  override def child: Expression = v

  override def checkInputDataTypes(): TypeCheckResult = v.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vector_mean_exact needs an array<double> input, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "vector_mean_exact"

  override def createAggregationBuffer(): VectorMeanBuffer = new VectorMeanBuffer(dim)

  override def update(buf: VectorMeanBuffer, input: InternalRow): VectorMeanBuffer = {
    val a = v.eval(input)
    if (a != null) {
      val arr = a.asInstanceOf[ArrayData]
      if (arr.numElements() == dim) {
        var i = 0
        while (i < dim) {
          if (!arr.isNullAt(i)) {
            val u = VectorMeanExact.unscaled(arr.getDouble(i), nullOnOverflow)
            if (u != null) {
              buf.add(i, u.shiftRight(64).longValue, u.longValue)
              buf.seen(i) = true
            }
          }
          i += 1
        }
        buf.n += 1
      }
    }
    buf
  }

  override def merge(buf: VectorMeanBuffer, other: VectorMeanBuffer): VectorMeanBuffer = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: VectorMeanBuffer): Any = {
    val out = new Array[Any](dim)
    var i = 0
    while (i < dim) {
      if (buf.seen(i)) {
        val bytes = java.nio.ByteBuffer.allocate(16)
          .putLong(buf.hi(i)).putLong(buf.lo(i)).array()
        val sum = new JBigDecimal(new BigInteger(bytes), VectorMeanExact.Scale)
        if (sum.precision <= VectorMeanExact.SumPrecision)
          out(i) = Decimal(sum, VectorMeanExact.SumPrecision, VectorMeanExact.Scale)
            .toDouble / buf.n.toDouble
        else if (!nullOnOverflow) throw ErrorBridge.decimalOutOfRange(
          Decimal(sum), VectorMeanExact.SumPrecision, VectorMeanExact.Scale)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: VectorMeanBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + dim * 17)
    bb.putLong(buf.n)
    var i = 0
    while (i < dim) {
      bb.putLong(buf.hi(i)).putLong(buf.lo(i)).put((if (buf.seen(i)) 1 else 0).toByte)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VectorMeanBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new VectorMeanBuffer(dim)
    buf.n = bb.getLong()
    var i = 0
    while (i < dim) {
      buf.hi(i) = bb.getLong()
      buf.lo(i) = bb.getLong()
      buf.seen(i) = bb.get() != 0
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMeanExact =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMeanExact =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorMeanExact =
    copy(v = newChild)
}

object VectorMeanExact {
  /** The element cast's target, decimal(28,12), and the precision of
    * its sum, decimal(38,12), as Spark's `sum` widens it. */
  private val Precision = 28
  private val Scale = 12
  private val SumPrecision = 38

  /** Unscaled value of `cast(x as decimal(28,12))`, by Spark's own
    * steps; null where that cast yields null (NaN, ±Inf, and overflow
    * when `nullOnOverflow`); overflow otherwise raises the cast's
    * error. */
  private def unscaled(x: Double, nullOnOverflow: Boolean): BigInteger = {
    val d = try Decimal(x) catch { case _: NumberFormatException => null }
    if (d == null) null
    else if (d.changePrecision(Precision, Scale)) d.toJavaBigDecimal.unscaledValue
    else if (nullOnOverflow) null
    else throw ErrorBridge.decimalOutOfRange(Decimal(x), Precision, Scale)
  }

  /** Column-level API: `df.groupBy("g").agg(VectorMeanExact.mean(64, col("v")))`
    * → `array<double>` of the `dim` component means. */
  def mean(dim: Int, v: Column): Column =
    ColumnBridge.column(
      VectorMeanExact(dim, ColumnBridge.expression(v),
        nullOnOverflow = !SQLConf.get.ansiEnabled).toAggregateExpression())
}
