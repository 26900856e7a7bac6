package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, IntegerType, LongType, ShortType}

/** `byte_at(payload, i)` — the byte at 0-based index `i` of a binary
  * column as an unsigned long (0..255), null when the index is out of
  * range.
  *
  * This is the media-codec hot primitive (`ops/Multimodal` reads every
  * header field and every pixel/sample byte through it). The
  * function-composition spelling — `conv(hex(substr(p, i+1, 1)), 16,
  * 10)` — allocates two strings and parses one per byte; per PIXEL that
  * is six allocations, which is where a 100 TB decode pass would spend
  * its time. Here codegen emits a bounds check and an array load —
  * zero allocation, stays inside whole-stage codegen.
  *
  * Out-of-range null (not an error) is load-bearing: the decoders'
  * contract filters read header fields first, and a truncated payload
  * must drop out of the filter rather than throw mid-scan.
  */
case class ByteAt(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"byte_at expects (binary, bigint), got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "byte_at"

  override def nullSafeEval(bytes: Any, idx: Any): Any = {
    val a = bytes.asInstanceOf[Array[Byte]]
    val i = idx.asInstanceOf[Long]
    if (i < 0 || i >= a.length) null
    else (a(i.toInt) & 0xff).toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, i) => {
      s"""
         |if ($i < 0 || $i >= $a.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (long) ($a[(int) $i] & 0xFF);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteAt =
    copy(left = newLeft, right = newRight)
}

object ByteAt {
  /** SQL integer literals arrive as int — widen narrower integrals to
    * the bigint the expression wants at the registration boundary
    * (AbstractDataType/ImplicitCastInputTypes is private[sql]). */
  def build(exprs: Seq[Expression]): ByteAt = {
    val idx = exprs(1).dataType match {
      case ByteType | ShortType | IntegerType => Cast(exprs(1), LongType)
      case _ => exprs(1) // long passes; anything else checkInputDataTypes reports
    }
    ByteAt(exprs(0), idx)
  }

  def apply(spark: SparkSession, p: Column, i: Column): Column = {
    graft.GraftExtensions.install(spark)
    call_function("byte_at", p, i)
  }
}
