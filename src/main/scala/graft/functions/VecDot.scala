package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns, with whole-stage
  * codegen (`doGenCode` emits a tight primitive loop over the two
  * `ArrayData`, no per-element boxing, no lambda dispatch).
  *
  * This replaces the `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * higher-order-function form on the similarity hot path: HOFs evaluate
  * through interpreted lambdas and allocate an intermediate zipped array
  * per row — per-PAIR in the O(n²)-pair dedup/ANN shapes, which is where
  * the scan time actually goes at scale. Accumulation order is the same
  * left-to-right sequential sum as the HOF form, so results are
  * bit-identical and the DuckDB oracle parity is untouched.
  *
  * Null semantics (matches the HOF composition): null array -> null;
  * any null element -> null; mismatched lengths -> null (zip_with pads
  * the short side with null, which nulls the HOF sum).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects two array<double>, got ${left.dataType} / ${right.dataType}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Resolves through the function registry — see [[graft.indicators.Ewma.byAlpha]]
    * for why hand-built Column(expr) trees are avoided. */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    graft.GraftExtensions.install(spark)
    call_function("vec_dot", a, b)
  }
}
