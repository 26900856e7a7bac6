package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `tok_count(text)` — the whitespace token count, bit-identical to
  * `size(split(text, " "))` but without materializing the token array.
  *
  * Identity it relies on: splitting on the single-space REGEX keeps
  * empty tokens (both between consecutive separators and trailing, since
  * Spark's split uses limit -1), so the field count is exactly
  * (#spaces + 1) — including `1` for the empty string, matching
  * `size(split("", " ")) = 1`. Space is ASCII 0x20, which in UTF-8 never
  * appears inside a multi-byte sequence, so the byte scan is correct on
  * any Unicode text.
  *
  * This is THE corpus-scan primitive (token budgeting, corpus stats,
  * packing, Gopher rules all start from it): the split form allocates a
  * UTF8String[] per row just to take its length; here codegen emits a
  * single byte loop — zero allocation, stays in whole-stage codegen.
  * FunctionsSpec pins the equality property against the split form.
  */
case class TokCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tok_count expects string, got ${child.dataType}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "tok_count"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var cnt = 1
    var i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      s"""
         |final int $n = $s.numBytes();
         |int $cnt = 1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($s.getByte($i) == (byte) 0x20) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokCount =
    copy(child = newChild)
}

object TokCount {
  def apply(spark: SparkSession, text: Column): Column = {
    graft.GraftExtensions.install(spark)
    call_function("tok_count", text)
  }
}
