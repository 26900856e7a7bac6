package graft.indicators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, NumericType}

/** Exponentially-weighted moving average as a native Catalyst window
  * function.
  *
  * Semantics match pandas `Series.ewm(span=N, adjust=False).mean()` as used
  * by the reference's indicator UDF (reference `spark-streaming.py:172,
  * 180-181`): the recurrence `y_t = α·x_t + (1−α)·y_{t−1}` with
  * `α = 2/(span+1)`, seeded `y_0 = x_0`; null inputs carry the previous
  * state forward (pandas `ignore_na=False` with no NaNs present — our
  * inputs are non-null, so the carve-out is just defensive).
  *
  * Why a custom `AggregateWindowFunction` rather than a UDF or
  * `flatMapGroups`:
  *   - EMA is order-sensitive, so it cannot be a commutative `Aggregator`.
  *   - As a declarative window aggregate over the running frame
  *     `ROWS UNBOUNDED PRECEDING .. CURRENT ROW`, Spark's `WindowExec`
  *     evaluates it **incrementally, O(1) state per key** — one pass over
  *     each sorted partition, spill-safe, no per-group materialization.
  *     This is the shape that survives 100 TB: the only cost is the same
  *     hash-partition + sort every window function already pays, and it
  *     shares that sort with SMA/RSI/lag computed over the same window
  *     spec (single Window operator in the physical plan).
  *   - It is SQL-visible: register via `Indicators.register(spark)` and use
  *     `ewma(value, 0.095) OVER (PARTITION BY k ORDER BY ts)`.
  */
case class Ewma(child: Expression, alphaExpr: Expression)
    extends AggregateWindowFunction with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = alphaExpr

  // alphaExpr is a real child, so resolution/type-checking visit it and a
  // non-literal alpha fails analysis with a proper message instead of an
  // opaque eval error from inside planning
  override def checkInputDataTypes(): TypeCheckResult =
    if (!alphaExpr.foldable)
      TypeCheckResult.TypeCheckFailure("ewma alpha must be a literal")
    else if (!alphaExpr.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(
        s"ewma alpha must be numeric, got ${alphaExpr.dataType}")
    else if (!child.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(
        s"ewma input must be numeric, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val alpha: Double = alphaExpr.eval() match {
    case d: java.lang.Double => d.doubleValue()
    case d: java.math.BigDecimal => d.doubleValue()
    case d: Decimal => d.toDouble
    case i: java.lang.Integer => i.doubleValue()
    case l: java.lang.Long => l.doubleValue()
    case other =>
      throw new IllegalArgumentException(s"ewma alpha must be a numeric literal, got $other")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "ewma"

  private lazy val ema = AttributeReference("ema", DoubleType, nullable = true)()

  override def aggBufferAttributes: Seq[AttributeReference] = ema :: Nil

  override lazy val initialValues: Seq[Expression] =
    Literal.create(null, DoubleType) :: Nil

  override lazy val updateExpressions: Seq[Expression] = {
    val x = Cast(child, DoubleType)
    val step = Add(
      Multiply(Literal(alpha), x),
      Multiply(Literal(1.0 - alpha), ema))
    Seq(If(IsNull(ema), x, If(IsNull(x), ema, step)))
  }

  override lazy val evaluateExpression: Expression = ema

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Ewma =
    copy(child = newLeft, alphaExpr = newRight)
}

object Ewma {
  /** Register `ewma(x, alpha)` in the session's function registry. The
    * Column-side entry points resolve through the registry (like the SQL
    * path) because the analyzer leaves an `AggregateWindowFunction` as the
    * direct child of `WindowExpression` only on that path — hand-built
    * `Column(expr)` trees trip CheckAnalysis's bare-window-function check. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ewma", exprs => Ewma(exprs(0), exprs(1)), "built-in")

  /** pandas `ewm(span)` smoothing factor, α = 2/(span+1). */
  def alpha(span: Int): Double = {
    require(span >= 1, s"span must be >= 1, got $span")
    2.0 / (span + 1.0)
  }

  /** `ewma(col, span)` as a Column; apply `.over(Window...orderBy(ts))`. */
  def bySpan(spark: SparkSession, col: Column, span: Int): Column =
    byAlpha(spark, col, alpha(span))

  def byAlpha(spark: SparkSession, col: Column, alpha: Double): Column = {
    register(spark)
    call_function("ewma", col, lit(alpha))
  }
}
