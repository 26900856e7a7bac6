package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `winnow_prints(text, k, w)` — the complete per-document winnowing
  * fingerprint summary (Schleimer/Wilkerson/Aiken, SIGMOD'03) in ONE
  * native scan, as a struct:
  *
  * {{{ struct<n_prints:bigint, min_print:string, max_print:string> }}}
  *
  * Semantics are EXACTLY the relational spelling the q_winnow oracle
  * replays (md5 of every character k-gram, minimum per w-wide window,
  * distinct selected prints): `min_print`/`max_print` are the lowercase
  * hex md5s, and the per-window minimum compares digest BYTES unsigned —
  * the same order as lexicographic hex. K-grams are CODEPOINT-based
  * (byte offsets advance per UTF-8 leading byte), matching SQL
  * `substr(text, i, k)` on any Unicode text.
  *
  * Why an expression and not column algebra: winnowing is per-document
  * — no stage of it needs other rows — yet both relational spellings
  * are catastrophic at scale. The explode + doc-partitioned window
  * form shuffles ~np rows/doc carrying 32-byte hex (a ~350 GB exchange
  * at sf100 = the recorded "No space left on device" DNF), and the
  * in-row `transform(...)` higher-order form evaluates md5 through the
  * interpreted lambda path (measured 60 s at sf0.1 vs 3.3 s exploded
  * — 20× the codegen'd projection). This expression keeps the md5 work
  * in compiled code AND the data per-row: zero exchanges, one byte-array
  * copy per document, a monotonic-deque sliding minimum (O(np), not
  * O(np·w)), and a TreeSet over digest bytes for distinct/min/max in
  * one pass.
  *
  * Reference anchor: fingerprint-based near-dup detection is the
  * corpus-hygiene step the reference's pipeline-scale design implies
  * (see SURVEY.md §2's LLM-pipeline extensions); the k=8/w=6 defaults
  * mirror `Dedup.winnowSummary`'s gated parameters. */
case class WinnowPrints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_prints expects string, got ${child.dataType}")

  override def dataType: DataType = WinnowPrints.schema
  override def prettyName: String = "winnow_prints"

  override def nullSafeEval(input: Any): Any =
    WinnowPrints.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.functions.WinnowPrints.compute($s, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowPrints =
    copy(child = newChild)
}

object WinnowPrints {

  val schema: StructType = StructType(Seq(
    StructField("n_prints", LongType, nullable = false),
    StructField("min_print", StringType, nullable = true),
    StructField("max_print", StringType, nullable = true)))

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Unsigned lexicographic digest order == lexicographic lowercase-hex
    * order (each byte maps monotonically to two hex chars). */
  private val unsignedLex = new java.util.Comparator[Array[Byte]] {
    override def compare(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
  }

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexDigits(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** One pass: codepoint offsets → np digests → deque sliding min →
    * TreeSet distinct/min/max. Called from generated code. */
  def compute(s: UTF8String, k: Int, w: Int): InternalRow = {
    val bytes = s.getBytes
    // codepoint start offsets (UTF-8 leading-byte walk — matches SQL
    // substr's codepoint addressing)
    val offs = new Array[Int](bytes.length + 1)
    var nChars = 0
    var i = 0
    while (i < bytes.length) {
      offs(nChars) = i
      val b = bytes(i) & 0xff
      i += (if (b < 0x80) 1 else if ((b & 0xe0) == 0xc0) 2
            else if ((b & 0xf0) == 0xe0) 3 else 4)
      nChars += 1
    }
    offs(nChars) = bytes.length
    val np = nChars - (k - 1)
    if (np < w)
      return new GenericInternalRow(Array[Any](0L, null, null))
    val md = java.security.MessageDigest.getInstance("MD5")
    val digests = new Array[Array[Byte]](np)
    var g = 0
    while (g < np) {
      md.reset()
      md.update(bytes, offs(g), offs(g + k) - offs(g))
      digests(g) = md.digest()
      g += 1
    }
    // monotonic deque of indices: front = index of the window minimum
    val deque = new Array[Int](np)
    var head = 0; var tail = 0 // [head, tail)
    val prints = new java.util.TreeSet[Array[Byte]](unsignedLex)
    var j = 0
    while (j < np) {
      while (tail > head &&
          unsignedLex.compare(digests(deque(tail - 1)), digests(j)) >= 0)
        tail -= 1
      deque(tail) = j; tail += 1
      if (deque(head) <= j - w) head += 1
      if (j >= w - 1) prints.add(digests(deque(head))): Unit
      j += 1
    }
    new GenericInternalRow(Array[Any](
      prints.size.toLong, hex(prints.first()), hex(prints.last())))
  }

  def apply(spark: SparkSession, text: Column, k: Int, w: Int): Column = {
    graft.GraftExtensions.install(spark)
    call_function("winnow_prints", text, lit(k), lit(w))
  }
}
