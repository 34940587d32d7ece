package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[RepetitionStats]]: the Gopher-rule repetition stats of
  * one document in one pass over its tokens.
  *
  * Tokens are what `split(text, ' ')` returns: the text cut at every
  * space, empty tokens included (leading, trailing and between runs of
  * spaces). A word n-gram is `array_join` of n consecutive tokens with
  * `' '`, which is exactly the text's bytes from the first token's start
  * to the last one's end; so tokens are grouped once by their bytes, and
  * n-grams by their token-group ids, with no string built per n-gram.
  *  - n_tokens, n_distinct: token count and distinct-token count;
  *  - top_bigram, top_bigram_cnt: the most frequent 2-gram and its count,
  *    a tie going to the smallest 2-gram in `UTF8String` binary order;
  *    `''` and 0 under 2 tokens;
  *  - dup5_occ: the occurrences of every 5-gram that occurs at least
  *    twice, summed;
  *  - keep: top_bigram_cnt * 25 <= n_tokens, dup5_occ * 4 <= n_tokens and
  *    n_distinct * 3 >= n_tokens.
  */
object RepetitionKernel {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_bigram", StringType, nullable = false),
    StructField("top_bigram_cnt", LongType, nullable = false),
    StructField("dup5_occ", LongType, nullable = false),
    StructField("keep", BooleanType, nullable = false)))

  /** Open-addressing multiset over item indices: [[add]] files item i
    * with the first equal item seen and returns the slot of their group,
    * which doubles as the group's id (the table never grows).
    */
  private abstract class Groups(items: Int) {
    protected def hash(i: Int): Int
    protected def same(i: Int, j: Int): Boolean
    private val mask = Integer.highestOneBit(2 * items + 1) * 2 - 1
    private val first = Array.fill(mask + 1)(-1)
    private val hashes = new Array[Int](mask + 1)
    val count = new Array[Int](mask + 1)
    var distinct = 0

    def add(i: Int): Int = {
      val h = hash(i)
      var s = h & mask
      while (first(s) >= 0 && !(hashes(s) == h && same(first(s), i))) s = (s + 1) & mask
      if (first(s) < 0) { first(s) = i; hashes(s) = h; distinct += 1 }
      count(s) += 1
      s
    }
  }

  /** Groups the n-grams of width `w` over the token ids `ids`. */
  private final class Grams(ids: Array[Int], w: Int) extends Groups(ids.length - w + 1) {
    protected def hash(i: Int): Int = {
      var h = w
      var k = 0
      while (k < w) { h = h * 0x9e3779b1 + ids(i + k); k += 1 }
      h ^ (h >>> 16)
    }
    protected def same(i: Int, j: Int): Boolean = {
      var k = 0
      while (k < w && ids(i + k) == ids(j + k)) k += 1
      k == w
    }
  }

  /** Unsigned byte order of `b[x0, x1)` against `b[y0, y1)`: UTF8String's. */
  private def less(b: Array[Byte], x0: Int, x1: Int, y0: Int, y1: Int): Boolean = {
    var i = 0
    val n = math.min(x1 - x0, y1 - y0)
    while (i < n && b(x0 + i) == b(y0 + i)) i += 1
    if (i < n) (b(x0 + i) & 0xff) < (b(y0 + i) & 0xff) else x1 - x0 < y1 - y0
  }

  def stats(text: UTF8String): InternalRow = {
    if (text == null) return null
    val b = text.getBytes
    var n = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') n += 1; i += 1 }
    val from = new Array[Int](n)
    val until = new Array[Int](n)
    var t = 0
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { until(t) = i; t += 1; from(t) = i + 1 }
      i += 1
    }
    until(t) = b.length

    val tokens = new Groups(n) {
      protected def hash(k: Int): Int = Murmur3_x86_32.hashUnsafeBytes(
        b, Platform.BYTE_ARRAY_OFFSET + from(k), until(k) - from(k), 42)
      protected def same(x: Int, y: Int): Boolean =
        until(x) - from(x) == until(y) - from(y) &&
          java.util.Arrays.equals(b, from(x), until(x), b, from(y), until(y))
    }
    val ids = new Array[Int](n)
    t = 0
    while (t < n) { ids(t) = tokens.add(t); t += 1 }

    // a 2-gram reaching the running top count takes the top when it is
    // larger, or as large and smaller in bytes: the smallest of the final
    // maxima wins
    var topCnt = 0
    var top = -1
    if (n >= 2) {
      val bigrams = new Grams(ids, 2)
      t = 0
      while (t < n - 1) {
        val c = bigrams.count(bigrams.add(t))
        if (c > topCnt ||
            c == topCnt && less(b, from(t), until(t + 1), from(top), until(top + 1))) {
          topCnt = c
          top = t
        }
        t += 1
      }
    }

    var dup5 = 0L
    if (n >= 5) {
      val fivegrams = new Grams(ids, 5)
      t = 0
      while (t < n - 4) {
        val c = fivegrams.count(fivegrams.add(t))
        if (c == 2) dup5 += 2 else if (c > 2) dup5 += 1
        t += 1
      }
    }

    val nTokens = n.toLong
    val nDistinct = tokens.distinct.toLong
    val topBigram =
      if (top < 0) UTF8String.EMPTY_UTF8
      else UTF8String.fromBytes(b, from(top), until(top + 1) - from(top))
    val keep = topCnt * 25L <= nTokens && dup5 * 4 <= nTokens && nDistinct * 3 >= nTokens
    new GenericInternalRow(Array[Any](nTokens, nDistinct, topBigram, topCnt.toLong, dup5, keep))
  }
}

/** Catalyst expression `graft_repetition_stats(text)` — the struct
  * `(n_tokens, n_distinct, top_bigram, top_bigram_cnt, dup5_occ, keep)` of
  * [[RepetitionKernel]], null for a null text. It replaces the sorted
  * n-gram arrays folded with `aggregate` HOFs (CodegenFallback, three
  * `array_sort`s a row). `keep` is a field of the struct so that a filter
  * on it is one kernel call: `FilterExec` does not eliminate common
  * subexpressions, and a condition spelled over several fields would run
  * the kernel once per field.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_repetition_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_repetition_stats expects a string column, got $other")
  }

  override def dataType: DataType = RepetitionKernel.schema

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(t: Any): Any =
    RepetitionKernel.stats(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.RepetitionKernel.stats($t);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}
