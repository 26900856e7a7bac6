package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `gear_cuts(text, cutBits)` — the Gear/FastCDC cut positions of a
  * document in ONE native byte pass, as `array<bigint>` of 1-indexed
  * character positions (ascending), exactly the `cuts` column of the
  * relational spelling in [[graft.ops.Prep.cdcChunksOf]]:
  *
  * position i (i in [31, n]) is a cut iff the windowed Gear sum
  * Σ_{k=0}^{30} gear(char_{i−k})·2^k taken mod 2^31 has its low
  * `cutBits` bits zero, where gear(c) = first 8 md5 hex digits of
  * "gear|c" masked to 31 bits.
  *
  * Why an expression and not column algebra (the winnow_prints
  * rationale, same failure mode): the relational form materializes a
  * per-character gear ARRAY (an md5 per character, shuffled through a
  * materialization barrier so the lambda does not recompute it n times)
  * and then evaluates an O(window·n) interpreted higher-order aggregate
  * per document — ~31 masked multiply-adds per character on the
  * non-codegen lambda path. This pass is O(n) compiled work with zero
  * exchanges, built on two exact identities:
  *
  *   - mod 2^31, every term g·2^k with k ≥ 31 vanishes, so the windowed
  *     sum equals the plain rolling accumulator h ← (2h + g) mod 2^31
  *     fed from the document start — the aging-out-by-overflow property
  *     Gear hashing is designed around. (This is exact ONLY for the
  *     31-term window the mask matches; the callers' window is fixed at
  *     31, and the companion column form remains for any other width.)
  *   - gear(c) depends only on the character, so digests are memoized
  *     per codepoint in a JVM-wide map (corpus alphabets are Heaps'-law
  *     bounded) instead of re-hashed per occurrence.
  *
  * Character addressing is CODEPOINT-based (UTF-8 leading-byte walk),
  * matching both Spark's `split(text, "")`/`length` on this corpus and
  * the DuckDB oracle's `substr` addressing. The oracle replays the
  * windowed relational form; PrepSpec asserts expression == column form
  * on fixtures including multi-byte text. */
case class GearCuts(child: Expression, cutBits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gear_cuts expects string, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gear_cuts"

  override def nullSafeEval(input: Any): Any =
    GearCuts.compute(input.asInstanceOf[UTF8String], cutBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.functions.GearCuts.compute($s, $cutBits)")

  override protected def withNewChildInternal(newChild: Expression): GearCuts =
    copy(child = newChild)
}

object GearCuts {

  /** The windowed sum's modulus mask (2^31 − 1 … i.e. keep low 31 bits
    * = arithmetic mod 2^31 on nonnegative values) — must stay in sync
    * with the relational spelling and the oracle SQL. */
  private val M31 = 0x7fffffffL

  /** The rolling identity is exact only for this window width. */
  val Window = 31

  /** gear(codepoint) memo: UTF-8 bytes of the char packed into a Long
    * key (length tag + up to 4 bytes) → masked 31-bit gear value.
    * Deterministic values, so a JVM-wide map is safe; alphabet size is
    * Heaps'-law bounded (ASCII corpora: ≤ ~100 entries). */
  private val gearMemo =
    new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()

  private val gearPrefix = "gear|".getBytes("UTF-8")

  private def gearOf(bytes: Array[Byte], off: Int, len: Int): Long = {
    var key = len.toLong
    var i = 0
    while (i < len) { key = (key << 8) | (bytes(off + i) & 0xffL); i += 1 }
    val hit = gearMemo.get(key)
    if (hit != null) return hit.longValue()
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(gearPrefix)
    md.update(bytes, off, len)
    val d = md.digest()
    // first 8 hex digits = first 4 bytes, then & M31 (the conv(...,16,10)
    // & 2^31−1 of the relational form)
    val g = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) & M31
    gearMemo.put(key, java.lang.Long.valueOf(g))
    g
  }

  /** One rolling pass over the document's codepoints. Called from
    * generated code. */
  def compute(s: UTF8String, cutBits: Int): GenericArrayData = {
    val cutMask = (1L << cutBits) - 1
    val bytes = s.getBytes
    var h = 0L
    var pos = 0L // 1-indexed character position of the char just consumed
    var i = 0
    val out = new java.util.ArrayList[Any]()
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      val len = if (b < 0x80) 1 else if ((b & 0xe0) == 0xc0) 2
        else if ((b & 0xf0) == 0xe0) 3 else 4
      h = ((h << 1) + gearOf(bytes, i, len)) & M31
      pos += 1
      if (pos >= Window && (h & cutMask) == 0L) out.add(java.lang.Long.valueOf(pos)): Unit
      i += len
    }
    new GenericArrayData(out.toArray)
  }

  def apply(spark: SparkSession, text: Column, cutBits: Int): Column = {
    graft.GraftExtensions.install(spark)
    call_function("gear_cuts", text, lit(cutBits))
  }
}
