package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{floor, when}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Exact money summation on an int128 accumulator.
  *
  * The suite's original exact-sum form, `sum(col.cast("decimal(20,8)"))`,
  * is order-independent and overflow-free but slow at the row level: the
  * sum's buffer type is `DECIMAL(30,8)`, which exceeds Spark's 18-digit
  * compact-long threshold, so EVERY per-row update deserializes a
  * `java.math.BigDecimal` from the UnsafeRow buffer, adds, and reserializes
  * (~3.4× the cost of a long sum measured on q01 at sf0.1 — the decimal
  * sums were most of the 8 floor-bound headline queries' gap vs DuckDB,
  * VERDICT r06 #2).
  *
  * [[ExactUnscaledSum]] keeps the exactness and drops the BigDecimal churn:
  * the input is the value's unscaled long (`round(x · 10^scale)`, computed
  * once per row in codegen), and the accumulator is a 128-bit integer held
  * in two non-nullable LONG buffer slots (`hi`, `lo`) — fixed-width in the
  * UnsafeRow, updated with pure 64-bit adds plus a bitwise carry, all
  * inside whole-stage codegen. Only the one-per-GROUP finish materializes a
  * BigDecimal.
  *
  * 100 TB shape: an int128 accumulator overflows at 1.7e38 — the same
  * ceiling as `DECIMAL(38)`, i.e. never for money (a plain long-cents sum
  * would overflow at ~1e12 rows × 1e7 cents, which is exactly the 100 TB
  * regime; that is why the shortcut was not taken). Partial aggregation,
  * merge and partitioning-independence follow from 128-bit integer
  * addition being associative and commutative — pinned by ExactSumSpec
  * against the decimal-sum formulation, including a forced lo-carry case.
  *
  * Rounding contract: `round(x · 10^scale)` rounds the BINARY double
  * half-away-from-zero, which equals both engines' double→decimal cast for
  * every value whose total significant digits at `scale` fit in a double's
  * ~15.9 exact decimal digits (all raw 2-decimal money columns and exact
  * ≤4-decimal products here). Derived doubles with ≥16 significant digits
  * (q18's `p*p` co-moments) stay on the decimal-cast path where Spark's
  * via-string rounding is the pinned semantics.
  */
object Int128 {
  private val TwoPow63 = BigInteger.ONE.shiftLeft(63)

  /** (hi, lo) two's-complement int128 → Decimal(38, scale). Called once per
    * group from generated code (static forwarder of this object).
    */
  def toDecimal(hi: Long, lo: Long, scale: Int): Decimal = {
    val unsignedLo = {
      val base = BigInteger.valueOf(lo & Long.MaxValue)
      if (lo < 0) base.add(TwoPow63) else base
    }
    val big = BigInteger.valueOf(hi).shiftLeft(64).add(unsignedLo)
    Decimal(new java.math.BigDecimal(big, scale), DecimalType.MAX_PRECISION, scale)
  }
}

/** Scalar finisher: two int128 halves → `DECIMAL(38, scale)`. */
case class Int128ToDecimal(hiExpr: Expression, loExpr: Expression, scale: Int)
    extends Expression {

  override def children: Seq[Expression] = Seq(hiExpr, loExpr)
  override def dataType: DataType = DecimalType(DecimalType.MAX_PRECISION, scale)
  override def nullable: Boolean = false
  override def prettyName: String = "int128_to_decimal"

  override def eval(input: InternalRow): Any =
    Int128.toDecimal(
      hiExpr.eval(input).asInstanceOf[Long],
      loExpr.eval(input).asInstanceOf[Long],
      scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = hiExpr.genCode(ctx)
    val l = loExpr.genCode(ctx)
    ev.copy(
      code = code"""
        ${h.code}
        ${l.code}
        org.apache.spark.sql.types.Decimal ${ev.value} =
          graft.functions.Int128.toDecimal(${h.value}, ${l.value}, $scale);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Int128ToDecimal =
    copy(hiExpr = newChildren(0), loExpr = newChildren(1))
}

/** Σ of unscaled longs on an int128 accumulator; see [[Int128]] scaladoc.
  * Result is `DECIMAL(38, scale)`, NULL iff no non-null input (matching
  * built-in `sum`).
  */
case class ExactUnscaledSum(child: Expression, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT unscaled input, got ${child.dataType.sql}")

  override def dataType: DataType = DecimalType(DecimalType.MAX_PRECISION, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "exact_unscaled_sum"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, cnt)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  /** lo-half add with wraparound (EvalMode.LEGACY: never throws, even under
    * ANSI sessions) plus the textbook unsigned-carry detect:
    * carry(a, b, s=a+b) = ((a & b) | ((a | b) & ~s)) >>> 63.
    */
  private def add128(
      aHi: Expression, aLo: Expression,
      bHi: Expression, bLo: Expression): (Expression, Expression) = {
    def wrapAdd(x: Expression, y: Expression) = Add(x, y, EvalMode.LEGACY)
    val newLo = wrapAdd(aLo, bLo)
    val carry = ShiftRightUnsigned(
      BitwiseOr(
        BitwiseAnd(aLo, bLo),
        BitwiseAnd(BitwiseOr(aLo, bLo), BitwiseNot(newLo))),
      Literal(63))
    val newHi = wrapAdd(wrapAdd(aHi, bHi), carry)
    (newHi, newLo)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val x = If(IsNull(child), Literal(0L), child)
    // sign-extended hi half of the int128 view of x
    val xHi = ShiftRight(x, Literal(63))
    val (newHi, newLo) = add128(hi, lo, xHi, x)
    val newCnt = Add(cnt, If(IsNull(child), Literal(0L), Literal(1L)), EvalMode.LEGACY)
    Seq(newHi, newLo, newCnt)
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (newHi, newLo) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(newHi, newLo, Add(cnt.left, cnt.right, EvalMode.LEGACY))
  }

  override lazy val evaluateExpression: Expression =
    If(EqualTo(cnt, Literal(0L)),
      Literal(null, dataType),
      Int128ToDecimal(hi, lo, scale))

  override protected def withNewChildInternal(newChild: Expression): ExactUnscaledSum =
    copy(child = newChild)
}

object ExactSum {

  /** `round(c · 10^scale)` as a long — half-away-from-zero on the binary
    * double (see rounding contract in [[Int128]] scaladoc). NULL propagates.
    */
  def unscaled(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 15, s"scale $scale outside exact double range")
    val t = c * math.pow(10d, scale)
    when(t >= 0, floor(t + 0.5d)).otherwise(-floor(-t + 0.5d)).cast("long")
  }

  /** Σ of already-unscaled longs → `DECIMAL(38, scale)` Column. */
  def ofUnscaled(u: Column, scale: Int): Column =
    Bridge.column(ExactUnscaledSum(Bridge.expression(u), scale).toAggregateExpression())

  /** Drop-in for `sum(c.cast(s"decimal(p,$scale)")).cast("double")` on
    * money-like doubles: exact, order-independent, int128-backed.
    */
  def sumScaled(c: Column, scale: Int): Column =
    ofUnscaled(unscaled(c, scale), scale).cast("double")

  /** The suite's money sum: `sumScaled(c, 8)`, the same value as the
    * original `sum(cast(c as decimal(20,8)))` on every money-like input
    * (raw 2-decimal columns and exact ≤4-decimal products), ~2.7× faster
    * per row because the agg buffer stays two fixed-width longs instead of
    * a serialized BigDecimal.
    */
  def dsum(c: Column): Column = sumScaled(c, 8)
}
