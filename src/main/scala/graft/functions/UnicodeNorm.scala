package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `unicode_norm(text, 'NFC'|'NFD'|'NFKC'|'NFKD'|'STRIP')` — Unicode
  * normalization as a native expression that stays inside whole-stage
  * codegen. Spark has no normalization built-in at all, yet every
  * training-corpus pipeline NFC-normalizes before hashing: the SAME
  * text in composed vs decomposed encoding (`é` vs `e`+U+0301) hashes
  * to different dedup keys, splits vocab entries, and double-counts
  * n-grams. `STRIP` is the transliteration face (NFD, then drop all
  * combining marks `\p{M}`) — the accent-insensitive join key for
  * entity/domain matching, bit-compatible with DuckDB's
  * `strip_accents` on the Latin range (gated by q_unicode_norm).
  *
  * 100 TB shape: the dominant case in a web corpus is pure-ASCII text,
  * which is invariant under every form — the codegen path detects it
  * with one tight byte scan (sign-bit test, no decode, no allocation)
  * and returns the input buffer untouched. Only rows that actually
  * carry non-ASCII bytes pay the ICU-style decompose/compose pass, and
  * already-normalized non-ASCII returns the original buffer (equality
  * check) so downstream columns share it. The expression itself is a
  * per-row map — no state, no shuffle, safe at any scale.
  *
  * Cited shape: /root/reference/spark-streaming.py:63-101 ingests
  * exchange/coin names as raw strings and joins on them verbatim; a
  * multi-locale feed needs exactly this normalize-before-join.
  */
case class UnicodeNorm(child: Expression, form: String)
    extends UnaryExpression {

  private val formCode: Int = form.toUpperCase match {
    case "NFC" => 0
    case "NFD" => 1
    case "NFKC" => 2
    case "NFKD" => 3
    case "STRIP" => 4
    case _ => -1
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (formCode < 0)
      TypeCheckResult.TypeCheckFailure(
        s"unicode_norm: unknown form '$form' (NFC, NFD, NFKC, NFKD, STRIP)")
    else if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"unicode_norm expects a string, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "unicode_norm"

  override def nullSafeEval(s: Any): Any =
    UnicodeNorm.norm(s.asInstanceOf[UTF8String], formCode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.UnicodeNorm.norm($s, $formCode)")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNorm =
    copy(child = newChild)
}

object UnicodeNorm {

  private val Forms = Array(Normalizer.Form.NFC, Normalizer.Form.NFD,
    Normalizer.Form.NFKC, Normalizer.Form.NFKD)

  private val Marks = java.util.regex.Pattern.compile("\\p{M}+")

  /** Called from both interpreted and generated code. ASCII fast path
    * first (all forms are identity on ASCII and it carries no marks);
    * otherwise normalize, returning the ORIGINAL buffer when the text
    * was already in the requested form. */
  def norm(s: UTF8String, form: Int): UTF8String = {
    val b = s.getBytes
    var ascii = true
    var i = 0
    while (ascii && i < b.length) { ascii = b(i) >= 0; i += 1 }
    if (ascii) return s
    val str = s.toString
    val out =
      if (form < 4) Normalizer.normalize(str, Forms(form))
      else Marks.matcher(Normalizer.normalize(str, Normalizer.Form.NFD))
        .replaceAll("")
    if (out == str) s else UTF8String.fromString(out)
  }

  /** Registry builder: the form selector must be a foldable string. */
  def build(exprs: Seq[Expression]): UnicodeNorm = exprs(1) match {
    case Literal(f: UTF8String, StringType) => UnicodeNorm(exprs(0), f.toString)
    case other => UnicodeNorm(exprs(0), s"<non-literal:$other>") // fails type check
  }

  def apply(spark: SparkSession, text: Column, form: String): Column = {
    graft.GraftExtensions.install(spark)
    call_function("unicode_norm", text, org.apache.spark.sql.functions.lit(form))
  }
}
