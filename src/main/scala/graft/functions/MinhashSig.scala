package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[MinhashSig]]: ONE pass over the document's character
  * shingles, tracking the 8 salted-md5 minima as raw 16-byte digests
  * (unsigned byte order == lexicographic order of the lowercase hex
  * encoding, so the minima are bitwise-identical to `min(md5_hex)` over
  * the same shingle multiset) and hex-encoding only the 8 winners.
  *
  * The shingles are those of [[graft.operators.Dedup.shingles]](L, S):
  * their byte bounds come from [[ShingleKernel.bounds]], the one
  * definition of char-shingle positions (counted in characters, so
  * multi-byte and supplementary-plane text shingles identically), and
  * each shingle is hashed straight from the text's bytes. A sub-L-length
  * text yields one short shingle; an empty text yields md5("j:") per
  * lane. The streaming near-dup key
  * ([[graft.streaming.StreamingPipeline.minhashSignature]]) calls this
  * kernel too.
  */
object MinhashKernel {
  private val tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val salts: Array[Array[Byte]] =
    Array.tabulate(8)(j => s"$j:".getBytes("UTF-8"))
  private val HEX = "0123456789abcdef".toCharArray

  def minhash8(text: UTF8String, shingleLen: Int, stride: Int): ArrayData = {
    if (text == null) return null
    val md = tl.get()
    val b = text.getBytes
    val bd = ShingleKernel.bounds(b, shingleLen, stride)
    val mins = new Array[Array[Byte]](8)
    var k = 0
    while (k < bd.length) {
      var j = 0
      while (j < 8) {
        md.reset()
        md.update(salts(j))
        md.update(b, bd(k), bd(k + 1) - bd(k))
        val d = md.digest()
        if (mins(j) == null || unsignedLess(d, mins(j))) mins(j) = d
        j += 1
      }
      k += 2
    }
    val out = new Array[Any](8)
    var j = 0
    while (j < 8) { out(j) = UTF8String.fromString(hex(mins(j))); j += 1 }
    new GenericArrayData(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def hex(d: Array[Byte]): String = {
    val c = new Array[Char](32)
    var i = 0
    while (i < 16) {
      c(2 * i) = HEX((d(i) >> 4) & 0xf)
      c(2 * i + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    new String(c)
  }
}

/** Catalyst expression `graft_minhash8(text)` — the full H=8 MinHash
  * signature (ARRAY<STRING> of 32-char hex minima) in one codegen'd pass
  * over the text. Replaces two strictly worse relational spellings used
  * by the dedup family (q18/q50/q51):
  *  - explode(shingles) + groupBy(doc).agg(min(md5(...)) x 8): pays a
  *    full exchange of every shingle hash just to take row-group minima;
  *  - array_min(transform(shingles, s -> md5(...))) x 8: shuffle-free
  *    but `transform` is CodegenFallback — 8 interpreted per-element
  *    walks and 9 materialized arrays per row (measured ~15% slower than
  *    the exchange it removed at sf0.1).
  * This kernel is shuffle-free AND codegen-compatible (same trade as
  * [[HashTf]]/[[CosineSim]]), hashing each shingle once per lane with no
  * intermediate arrays. Oracle parity: lane j's value equals
  * `min(md5(j || ':' || shingle))` in DuckDB over the same stride-7
  * char-12-gram shingles, which is what the q18/q50/q51 oracles compute.
  */
case class MinhashSig(child: Expression, shingleLen: Int = 12, stride: Int = 7)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if shingleLen > 0 && stride > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash8 expects a string column and positive shingleLen/stride, " +
        s"got (${child.dataType}, $shingleLen, $stride)")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(t: Any): Any =
    MinhashKernel.minhash8(t.asInstanceOf[UTF8String], shingleLen, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.MinhashKernel.minhash8($t, $shingleLen, $stride);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}
