package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Hamming distance between two equal-length strings, with
  * whole-stage codegen (`doGenCode` emits one tight byte loop over the
  * two `UTF8String`s — no allocation, no branching per position).
  *
  * This replaces the unrolled
  * `(1 to n).map(i => when(substring(a,i,1) =!= substring(b,i,1), 1))`
  * sum on the SimHash near-neighbor path: that form evaluates 2n
  * `Substring` expressions (each allocating a 1-char UTF8String copy)
  * per candidate PAIR, which is where the time goes in the O(pairs)
  * join. Results are identical on the fingerprint domain.
  *
  * Semantics: byte-positional distance over the UTF-8 encoding; null if
  * either input is null or the byte lengths differ. For ASCII inputs
  * (every fingerprint/signature caller here) byte positions ARE char
  * positions; multi-byte callers should compare at the char level
  * explicitly (see Utf8Spec for the char-domain contract).
  */
case class StrHamming(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"str_hamming expects two strings, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "str_hamming"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String]
    val y = b.asInstanceOf[UTF8String]
    val n = x.numBytes()
    if (n != y.numBytes()) return null
    val xb = x.getBytes
    val yb = y.getBytes
    var d = 0
    var i = 0
    while (i < n) {
      if (xb(i) != yb(i)) d += 1
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val xb = ctx.freshName("xb")
      val yb = ctx.freshName("yb")
      s"""
         |final int $n = $a.numBytes();
         |if ($n != $b.numBytes()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final byte[] $xb = $a.getBytes();
         |  final byte[] $yb = $b.getBytes();
         |  int $d = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($xb[$i] != $yb[$i]) $d++;
         |  }
         |  ${ev.value} = $d;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StrHamming =
    copy(left = newLeft, right = newRight)
}

object StrHamming {
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    graft.GraftExtensions.install(spark)
    call_function("str_hamming", a, b)
  }
}
