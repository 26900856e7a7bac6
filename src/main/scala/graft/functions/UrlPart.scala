package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `url_part(url, 'HOST'|'PATH'|'QUERY')` — URL decomposition as ONE
  * zero-regex byte scan that stays inside whole-stage codegen.
  *
  * The built-in `parse_url` is an `Invoke` over a regex evaluator: it
  * closes the codegen stage and re-matches the pattern once per
  * requested part (the Web curation pack asks for three parts per row
  * — three regex passes per URL at 100 TB). This expression finds the
  * `://`, the authority end, and the query/fragment delimiters in a
  * single forward scan and slices bytes — no pattern state, no
  * per-row allocation beyond the result slice.
  *
  * Semantics are pinned to the curation pack's oracle regexes (the
  * `^https?://([^/]+)` family), NOT to java.net.URI: HOST is the whole
  * authority (a port or userinfo would be included — none exist in a
  * canonicalized crawl corpus, and FunctionsSpec pins the documented
  * divergence), PATH is the possibly-empty `[^?#]*` span after it, and
  * QUERY is the span between `?` and `#`/end, null when no `?` exists
  * (matching `parse_url`'s null). A URL with no `://` yields null for
  * every part. FunctionsSpec asserts bit-parity with `parse_url` across
  * the corpus URLs and the PlanSpec-style codegen guard.
  *
  * Cited shape: `/root/reference/kafka-producer.py:21-38` builds its
  * REST URLs by string concatenation; the inverse decomposition is what
  * the crawl-side pipeline needs at scan speed.
  */
case class UrlPart(child: Expression, part: String)
    extends UnaryExpression {

  private val partCode: Int = part match {
    case "HOST" => 0
    case "PATH" => 1
    case "QUERY" => 2
    case _ => -1
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (partCode < 0)
      TypeCheckResult.TypeCheckFailure(
        s"url_part: unknown part '$part' (HOST, PATH, QUERY)")
    else if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"url_part expects a string url, got ${child.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "url_part"

  override def nullSafeEval(url: Any): Any =
    UrlPart.extract(url.asInstanceOf[UTF8String], partCode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = nullSafeCodeGen(ctx, ev, u => {
      s"""
         |${ev.value} = graft.functions.UrlPart.extract($u, $partCode);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
    g
  }

  override protected def withNewChildInternal(newChild: Expression): UrlPart =
    copy(child = newChild)
}

object UrlPart {

  /** Single forward scan; called from both interpreted and generated
    * code. Returns null (→ SQL NULL) when the part is absent. */
  def extract(url: UTF8String, part: Int): UTF8String = {
    val b = url.getBytes
    val n = b.length
    // authority start: first "://"
    var s = -1
    var i = 0
    while (i + 2 < n && s < 0) {
      if (b(i) == ':' && b(i + 1) == '/' && b(i + 2) == '/') s = i + 3
      i += 1
    }
    if (s < 0) return null
    // authority end: first '/', '?' or '#' after it
    var he = s
    while (he < n && b(he) != '/' && b(he) != '?' && b(he) != '#') he += 1
    if (part == 0) return UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, s, he))
    // path end: first '?' or '#' after the authority
    var pe = he
    while (pe < n && b(pe) != '?' && b(pe) != '#') pe += 1
    if (part == 1) return UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, he, pe))
    // query: between '?' and '#'/end; null when no '?'
    if (pe >= n || b(pe) != '?') return null
    var qe = pe + 1
    while (qe < n && b(qe) != '#') qe += 1
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, pe + 1, qe))
  }

  /** Registry builder: the part selector must be a foldable string. */
  def build(exprs: Seq[Expression]): UrlPart = exprs(1) match {
    case Literal(p: UTF8String, StringType) => UrlPart(exprs(0), p.toString)
    case other => UrlPart(exprs(0), s"<non-literal:$other>") // fails type check
  }

  def apply(spark: SparkSession, url: Column, part: String): Column = {
    graft.GraftExtensions.install(spark)
    call_function("url_part", url, org.apache.spark.sql.functions.lit(part))
  }
}
