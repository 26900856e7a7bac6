package graft.indicators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, NumericType}

/** Holt double-exponential smoothing (level + trend) as a native
  * Catalyst window function — the forecasting upgrade of [[Ewma]]:
  *
  *   s_t = α·x_t + (1−α)·(s_{t−1} + b_{t−1})      (level)
  *   b_t = β·(s_t − s_{t−1}) + (1−β)·b_{t−1}      (trend)
  *
  * seeded s_1 = x_1, b_1 = 0; one-step forecast = s_t + b_t. The two
  * recurrences are COUPLED (b_t needs s_t and s_{t−1}), which is what
  * rules out composing two `ewma` calls — so the state is a two-cell
  * aggregation buffer and both update expressions are generated against
  * the PREVIOUS buffer in one projection (s_t's expression is inlined
  * into b_t's).
  *
  * Same scale rationale as [[Ewma]]: as an `AggregateWindowFunction`
  * over `ROWS UNBOUNDED PRECEDING .. CURRENT ROW`, WindowExec evaluates
  * it incrementally with O(1) state per key in the one sorted pass every
  * window function already pays — order-sensitive, so it could never be
  * a commutative aggregate, and a per-group collect would break at
  * 100 TB key cardinality. Emits a (level, trend) struct so one
  * evaluation serves both series. */
case class Holt(child: Expression, alphaExpr: Expression, betaExpr: Expression)
    extends AggregateWindowFunction with TernaryLike[Expression] {

  override def first: Expression = child
  override def second: Expression = alphaExpr
  override def third: Expression = betaExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (!alphaExpr.foldable || !betaExpr.foldable)
      TypeCheckResult.TypeCheckFailure("holt alpha/beta must be literals")
    else if (!alphaExpr.dataType.isInstanceOf[NumericType] ||
             !betaExpr.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure("holt alpha/beta must be numeric")
    else if (!child.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(
        s"holt input must be numeric, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  private def numLit(e: Expression, name: String): Double = e.eval() match {
    case d: java.lang.Double => d.doubleValue()
    case d: java.math.BigDecimal => d.doubleValue()
    case d: Decimal => d.toDouble
    case i: java.lang.Integer => i.doubleValue()
    case l: java.lang.Long => l.doubleValue()
    case other =>
      throw new IllegalArgumentException(s"holt $name must be a numeric literal, got $other")
  }
  private lazy val alpha: Double = numLit(alphaExpr, "alpha")
  private lazy val beta: Double = numLit(betaExpr, "beta")

  private lazy val s = AttributeReference("holt_s", DoubleType, nullable = true)()
  private lazy val b = AttributeReference("holt_b", DoubleType, nullable = true)()

  override def aggBufferAttributes: Seq[AttributeReference] = s :: b :: Nil

  override lazy val initialValues: Seq[Expression] =
    Literal.create(null, DoubleType) :: Literal.create(null, DoubleType) :: Nil

  override lazy val updateExpressions: Seq[Expression] = {
    val x = Cast(child, DoubleType)
    val sNew = Add(
      Multiply(Literal(alpha), x),
      Multiply(Literal(1.0 - alpha), Add(s, b)))
    val bNew = Add(
      Multiply(Literal(beta), Subtract(sNew, s)),
      Multiply(Literal(1.0 - beta), b))
    Seq(
      If(IsNull(s), x, If(IsNull(x), s, sNew)),
      If(IsNull(s), Literal(0.0), If(IsNull(x), b, bNew)))
  }

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("level"), s, Literal("trend"), b))

  override def dataType: DataType = evaluateExpression.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "holt"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Holt =
    copy(child = newFirst, alphaExpr = newSecond, betaExpr = newThird)
}

object Holt {
  /** `holt(col, α, β)` as a Column; apply `.over(Window...orderBy(ts))`.
    * Returns a (level, trend) struct. Resolves through the registry for
    * the same CheckAnalysis reason as [[Ewma.byAlpha]]. */
  def apply(spark: SparkSession, col: Column, alpha: Double, beta: Double): Column = {
    graft.GraftExtensions.install(spark)
    call_function("holt", col, lit(alpha), lit(beta))
  }
}
