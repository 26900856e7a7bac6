package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `text_stats(text)` — ALL integer text-feature primitives in ONE byte
  * scan, as a struct:
  *
  * {{{
  * struct<n_tokens:int, n_subtokens:int, n_chars:int, n_stop:int,
  *        n_punct:int, s_en:int, s_es:int, s_fr:int, s_de:int,
  *        rhash:bigint>
  * }}}
  *
  * Bit-identical, field by field, to the column-algebra forms it fuses
  * (TextPipelineSpec pins each equality, Utf8Spec covers the accented
  * twin):
  *   - `n_tokens`    = `size(split(text, " "))` = #spaces + 1
  *   - `n_subtokens` = `regexp_count(text, "\p{L}+|[0-9]|[^\p{L}0-9 ]")`
  *                     (maximal letter runs / single ASCII digits /
  *                     any other non-space codepoint; `Character
  *                     .isLetter(cp)` is exactly Java-regex `\p{L}`:
  *                     both are the five Unicode L* categories)
  *   - `n_chars`     = `length(text)` (codepoints)
  *   - `n_stop`      = tokens ∈ {the,a,and,of,to,in}
  *   - `n_punct`     = codepoints ∈ [.,!?;:]
  *   - `s_en/es/fr/de` = language-marker token counts (langId inputs)
  *   - `rhash`       = fold `h = (h*31 + codepoint) mod 1e9+7` —
  *                     `ascii(substr(text,i,1))` in Spark 4 is
  *                     `codePointAt(0)`, so the codepoint fold matches
  *                     the HOF form on any Unicode text
  *
  * Why it exists: `q_doc_features` derived nine columns that each
  * re-scanned `text` independently — five `split(...)` array
  * materializations, two regex passes, and an O(len²) rolling-hash HOF
  * (`substr(i,1)` re-walks the prefix per character). At sf100 that
  * was 529 s of redundant passes over the same bytes. One fused scan
  * is the shape a 100 TB featurization pass must have: the projection
  * reads each byte once, allocation-free, and every downstream ratio /
  * score / argmax is arithmetic on the struct's integers (the IEEE
  * chains are unchanged — parity with the unfused form is by
  * construction). The struct is produced by ONE expression instance:
  * CollapseProject never inlines a non-cheap producer into multiple
  * consumers, so the two-projection spelling in TextAnalysis evaluates
  * the scan once per row (PlanSpec pins a single text_stats in the
  * plan).
  *
  * Reference anchor: the featurization stage models what
  * `/root/reference/spark-streaming.py:160-200` does for indicator
  * features — recomputed per-column there too, but over 30-row
  * pandas groups where redundancy is free; at corpus scale it is not.
  */
case class TextStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_stats expects string, got ${child.dataType}")

  override def dataType: DataType = TextStats.schema
  override def prettyName: String = "text_stats"

  override def nullSafeEval(input: Any): Any =
    TextStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextStats.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_subtokens", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("s_en", IntegerType, nullable = false),
    StructField("s_es", IntegerType, nullable = false),
    StructField("s_fr", IntegerType, nullable = false),
    StructField("s_de", IntegerType, nullable = false),
    StructField("rhash", LongType, nullable = false)))

  private val M = 1000000007L

  // the marker lexicon, pre-encoded; every word is ASCII so byte
  // equality on the token slice == string equality of the token
  private val words: Array[Array[Byte]] =
    Array("the", "a", "and", "of", "to", "in", // 0-5 stopwords
      "el", "la", "los",                       // 6-8 es
      "le", "les", "et",                       // 9-11 fr
      "der", "die", "und")                     // 12-14 de
      .map(_.getBytes("UTF-8"))
  // parallel flags: bit0 stop, bit1 en, bit2 es, bit3 fr, bit4 de
  private val flags: Array[Int] =
    Array(1 | 2, 1 | 2, 1 | 2, 1, 1, 1, 4, 4, 4, 8, 8, 8, 16, 16, 16)

  /** One pass over the UTF-8 bytes; called from generated code. */
  def compute(s: UTF8String): InternalRow = {
    val n = s.numBytes()
    var nTokens = 1
    var nSub = 0
    var nChars = 0
    var nStop = 0
    var nPunct = 0
    var en = 0; var es = 0; var fr = 0; var de = 0
    var rhash = 0L
    var inLetterRun = false
    var tokStart = 0
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i) & 0xff
      var cp = 0
      var len = 1
      if (b0 < 0x80) cp = b0
      else {
        // clamp continuation reads at numBytes: a string ending in a
        // truncated multi-byte sequence (binary casts, non-UTF-8
        // ingestion) must yield a deterministic replacement codepoint,
        // not unsafe reads past the buffer (matches UTF8String's own
        // malformed-tail handling)
        if ((b0 & 0xe0) == 0xc0) len = 2
        else if ((b0 & 0xf0) == 0xe0) len = 3
        else len = 4
        if (i + len > n) { cp = 0xFFFD; len = n - i }
        else if (len == 2)
          cp = ((b0 & 0x1f) << 6) | (s.getByte(i + 1) & 0x3f)
        else if (len == 3)
          cp = ((b0 & 0x0f) << 12) | ((s.getByte(i + 1) & 0x3f) << 6) |
            (s.getByte(i + 2) & 0x3f)
        else
          cp = ((b0 & 0x07) << 18) | ((s.getByte(i + 1) & 0x3f) << 12) |
            ((s.getByte(i + 2) & 0x3f) << 6) | (s.getByte(i + 3) & 0x3f)
      }
      nChars += 1
      rhash = (rhash * 31 + cp) % M
      if (cp == 0x20) {
        val f = classify(s, tokStart, i)
        nStop += f & 1
        en += (f >> 1) & 1; es += (f >> 2) & 1
        fr += (f >> 3) & 1; de += (f >> 4) & 1
        nTokens += 1
        tokStart = i + 1
        inLetterRun = false
      } else {
        if (Character.isLetter(cp)) {
          if (!inLetterRun) { nSub += 1; inLetterRun = true }
        } else {
          inLetterRun = false
          nSub += 1 // single digit OR any other non-space codepoint
          if (cp == '.' || cp == ',' || cp == '!' || cp == '?' ||
              cp == ';' || cp == ':') nPunct += 1
        }
      }
      i += len
    }
    val f = classify(s, tokStart, n)
    nStop += f & 1
    en += (f >> 1) & 1; es += (f >> 2) & 1
    fr += (f >> 3) & 1; de += (f >> 4) & 1
    new GenericInternalRow(Array[Any](
      nTokens, nSub, nChars, nStop, nPunct, en, es, fr, de, rhash))
  }

  /** Marker-lexicon flags for the token at byte range [from, until). */
  private def classify(s: UTF8String, from: Int, until: Int): Int = {
    val len = until - from
    if (len < 1 || len > 3) return 0
    var w = 0
    while (w < words.length) {
      val word = words(w)
      if (word.length == len) {
        var j = 0
        var ok = true
        while (ok && j < len) {
          if (s.getByte(from + j) != word(j)) ok = false
          j += 1
        }
        if (ok) return flags(w)
      }
      w += 1
    }
    0
  }

  def apply(spark: SparkSession, text: Column): Column = {
    graft.GraftExtensions.install(spark)
    call_function("text_stats", text)
  }
}
