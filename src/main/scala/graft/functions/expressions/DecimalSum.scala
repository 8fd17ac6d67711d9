package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/**
 * Exact decimal SUM on a two-long (128-bit) unscaled buffer — the last
 * interpreted hot path in the money-aggregate family (q18, x23, x27,
 * x28, x53, x76, x77, x78, x102, x105–x108 …).
 *
 * Why the built-in is slow here: `sum(DECIMAL(p,2))` carries a
 * `DECIMAL(min(38,p+10),2)` buffer; any decimal of precision > 18 is
 * stored in the UnsafeRow aggregation buffer as SERIALIZED BigInteger
 * BYTES, so every row pays deserialize(bytes → BigDecimal → Decimal) +
 * `Decimal.+` + reserialize(BigInteger.toByteArray). r17 measured the
 * family's floor: x53's three product-sums run 0.46 s over raw doubles
 * vs ~1.1 s through the decimal chain after the cast/multiply fast
 * paths — the remaining gap IS this buffer churn (guide §4:
 * interpreted/allocating expressions in the hot path).
 *
 * [[DecimalSum128]] keeps the sum as a 128-bit signed integer in TWO
 * LONG buffer slots (hi, lo unsigned limb) plus the `isEmpty` flag
 * Spark's own Sum carries. Update and merge are pure long arithmetic
 * (add, carry via the standard unsigned formula, sign extension) —
 * whole-stage-codegen primitive ops, zero allocation per row; the one
 * BigDecimal materialization happens once per GROUP in
 * [[MakeDecimal128]].
 *
 * Value identity with `sum(child)`:
 *  - every input contributes its exact unscaled value (integer), so
 *    the 128-bit integer sum equals the exact decimal sum at the
 *    child's scale — same value Spark's BigDecimal buffer holds;
 *  - result TYPE replicates Sum's decimal rule
 *    `DecimalType(min(38, p+10), s)`, nullable, null iff no non-null
 *    input (the isEmpty flag);
 *  - overflow: the final value is checked against 10^resultPrecision
 *    exactly as CheckOverflowInSum does — null when
 *    !spark.sql.ansi.enabled, ArithmeticException otherwise (captured
 *    at planning like Sum's failOnError). The 128-bit intermediate
 *    itself cannot wrap: inputs are ≤ 10^19, so wrapping would need
 *    ≥ 1.7e19 rows in one group.
 *
 * INPUT DOMAIN: every input value's unscaled form must fit a signed
 * long ([[UnscaledLong]] `longValueExact`-throws otherwise — loud, the
 * [[DecimalExprUtil]] convention, never a silent truncation). That
 * covers p ≤ 18 inputs by construction and the wired
 * [[DecimalTimesCompact]] product sites by the same operand-bound
 * argument its own compact arm rests on (prices < 10^6 at 2 dp,
 * quantities ≤ 50, discounts ≤ 1 ⇒ products ≤ 10^16 unscaled).
 * DecimalSumSpec pins type+value equality against the built-in Sum
 * over random/adversarial inputs including the merge path.
 */
object DecimalSumUtil {
  private[expressions] val POW10L: Array[Long] =
    (0 to 18).map(i => math.pow(10, i).toLong).toArray
  private[expressions] val POW10B: Array[java.math.BigInteger] =
    (0 to 38).map(i => java.math.BigInteger.TEN.pow(i)).toArray

  /** (hi, lo) 128-bit signed → Decimal(p, s); null (or throw, per
    * `nullOnOverflow`) when the value needs more than p digits —
    * CheckOverflowInSum's contract. Called once per output group. */
  def make128(hi: Long, lo: Long, p: Int, s: Int,
      nullOnOverflow: Boolean): Decimal = {
    if (hi == (lo >> 63)) { // fits a signed 64-bit long
      if (p >= 19 || (lo < POW10L(p) && lo > -POW10L(p)))
        return Decimal.createUnsafe(lo, p, s)
      return overflow(java.math.BigInteger.valueOf(lo), p, s, nullOnOverflow)
    }
    val bytes = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      bytes(i) = (hi >>> (56 - 8 * i)).toByte
      bytes(8 + i) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    val bi = new java.math.BigInteger(bytes)
    if (bi.abs.compareTo(POW10B(p)) >= 0) overflow(bi, p, s, nullOnOverflow)
    else Decimal(new java.math.BigDecimal(bi, s), p, s)
  }

  private def overflow(v: java.math.BigInteger, p: Int, s: Int,
      nullOnOverflow: Boolean): Decimal =
    if (nullOnOverflow) null
    else throw new ArithmeticException(
      s"sum ${new java.math.BigDecimal(v, s)} overflows DECIMAL($p,$s)")
}

/** Decimal → its unscaled long. Loud ArithmeticException past 64 bits
  * (`Decimal.toUnscaledLong` is `longValueExact`-backed) — see the
  * input-domain note on [[DecimalSumUtil]]. */
case class UnscaledLong(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: DecimalType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires decimal input, got ${other.catalogString}")
  }

  override protected def nullSafeEval(a: Any): Any =
    a.asInstanceOf[Decimal].toUnscaledLong

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $c.toUnscaledLong();")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "unscaled_long"
}

/** The once-per-group (hi, lo) → Decimal materialization of
  * [[DecimalSum128]]'s buffer. nullable: overflow yields SQL null in
  * non-ANSI mode (CheckOverflowInSum parity). */
case class MakeDecimal128(left: Expression, right: Expression,
    p: Int, s: Int, nullOnOverflow: Boolean) extends BinaryExpression {
  override def dataType: DataType = DecimalType(p, s)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, bigint), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DecimalSumUtil.make128(a.asInstanceOf[Long], b.asInstanceOf[Long],
      p, s, nullOnOverflow)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.expressions.DecimalSumUtil
         |  .make128($a, $b, $p, $s, $nullOnOverflow);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "make_decimal128"
}

/** `SUM(decimal)` on the two-long buffer — see [[DecimalSumUtil]]. */
case class DecimalSum128(child: Expression) extends DeclarativeAggregate {
  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = true

  private lazy val childType = child.dataType.asInstanceOf[DecimalType]
  // Sum's decimal result rule: DecimalType.bounded(p + 10, s)
  override lazy val dataType: DataType =
    DecimalType(math.min(38, childType.precision + 10), childType.scale)

  // Sum's failOnError, captured at planning (the wired sites cannot
  // overflow; parity is for the contract, pinned by DecimalSumSpec)
  private lazy val nullOnOverflow = !SQLConf.get.ansiEnabled

  // The INPUT DOMAIN ([[DecimalSumUtil]]) as a type check, made at
  // analysis — the first point the child's type is known (`dsum` is
  // usually built over unresolved columns): p ≤ 18, or a
  // DecimalTimesCompact product under the operand-bound argument.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case d: DecimalType
        if d.precision <= 18 || child.exists(_.isInstanceOf[DecimalTimesCompact]) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a decimal of precision <= 18 or a " +
        s"decimal_times_compact product, got ${other.catalogString}")
  }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, isEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true))

  // 128-bit += sign-extended 64-bit x, all wrapping long arithmetic
  // (EvalMode.LEGACY — the lo limb RELIES on two's-complement wrap):
  //   newLo = lo + x
  //   carry = ((lo & x) | ((lo | x) & ~newLo)) >>> 63
  //   newHi = hi + (x >> 63) + carry
  private def add128(hiA: Expression, loA: Expression,
      xHi: Expression, x: Expression): (Expression, Expression) = {
    val newLo = Add(loA, x, EvalMode.LEGACY)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(loA, x),
        BitwiseAnd(BitwiseOr(loA, x), BitwiseNot(newLo))),
      Literal(63))
    val newHi = Add(Add(hiA, xHi, EvalMode.LEGACY), carry, EvalMode.LEGACY)
    (newHi, newLo)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val x = UnscaledLong(child)
    val (newHi, newLo) = add128(hi, lo, ShiftRight(x, Literal(63)), x)
    if (child.nullable) Seq(
      If(IsNull(child), hi, newHi),
      If(IsNull(child), lo, newLo),
      And(isEmpty, IsNull(child)))
    else Seq(newHi, newLo, Literal(false))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (newHi, newLo) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(newHi, newLo, And(isEmpty.left, isEmpty.right))
  }

  override lazy val evaluateExpression: Expression = {
    val d = dataType.asInstanceOf[DecimalType]
    If(isEmpty, Literal.create(null, dataType),
      MakeDecimal128(hi, lo, d.precision, d.scale, nullOnOverflow))
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): DecimalSum128 = copy(child = c.head)
  override def prettyName: String = "dsum128"
}

object DecimalSumFns {
  /** `sum(c)` on a decimal column whose every value's UNSCALED form
    * fits a signed long (exact, two-long buffer). Within that domain:
    * same result type, same value, same null/overflow semantics as the
    * built-in — DecimalSumSpec pins all three. Analysis accepts a
    * child of precision ≤ 18, or a [[DecimalFns.dtimes]] product whose
    * values the caller bounds; a row outside the domain throws
    * ArithmeticException (never a silent truncation). */
  def dsum(c: Column): Column =
    Bridge.column(DecimalSum128(Bridge.expression(c)).toAggregateExpression())
}
