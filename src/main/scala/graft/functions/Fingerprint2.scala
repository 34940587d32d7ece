package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[Fingerprint2]]: the two-lane commutative multiset
  * fingerprint of a text's tokens, the exact-dedup key.
  *
  * Tokens are what `split(text, ' ')` returns: the text cut at every
  * space byte, empty tokens included (leading, trailing and between runs
  * of spaces; `""` is one empty token). Each token's UTF-8 bytes are
  * hashed with md5 once; digest bytes 0-5 and 6-11, read as unsigned
  * big-endian 48-bit integers, are summed mod [[P1]] and mod [[P2]]. That
  * is the value of the HOF spelling it replaced,
  * `aggregate(transform(split(text, ' '), t -> cast(conv(substring(
  * md5(to_binary(t, 'utf-8')), 1|13, 12), 16, 10) as bigint)), 0L,
  * (a, x) -> pmod(a + x, p))`, for any valid UTF-8 text: a space byte
  * never occurs inside a multi-byte character, so cutting the bytes
  * cuts the characters. The lane sum is reduced at every step (a < p,
  * x < 2^48, so a + x never overflows an int64); modular addition is
  * commutative, so token order does not matter. The pair key lives in a
  * ~2^121 space: at 10^12 docs the birthday collision mass is
  * ~10^24 * 2^-121 ~= 4e-13.
  */
object FingerprintKernel {

  private val P1 = 2305843009213693951L // 2^61 - 1
  private val P2 = 1152921504606846883L // a prime below 2^60

  val schema: StructType = StructType(Seq(
    StructField("fp1", LongType, nullable = false),
    StructField("fp2", LongType, nullable = false)))

  private val tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private def u48(d: Array[Byte], from: Int): Long = {
    var x = 0L
    var i = from
    while (i < from + 6) { x = (x << 8) | (d(i) & 0xffL); i += 1 }
    x
  }

  /** (fp1, fp2) of a non-null text. */
  def lanes(text: UTF8String): InternalRow = {
    val md = tl.get()
    val b = text.getBytes
    val d = new Array[Byte](16)
    var fp1 = 0L
    var fp2 = 0L
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        md.update(b, start, i - start)
        md.digest(d, 0, 16)
        fp1 = (fp1 + u48(d, 0)) % P1
        fp2 = (fp2 + u48(d, 6)) % P2
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](fp1, fp2))
  }
}

/** Catalyst expression `graft_fingerprint2(text)` — the struct
  * `(fp1, fp2)` of [[FingerprintKernel]], null for a null text. One md5 a
  * token and no lambda, where the two `aggregate(transform(split(...)))`
  * lanes it replaced hashed every token twice, interpreted.
  */
case class Fingerprint2(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_fingerprint2"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_fingerprint2 expects a string column, got $other")
  }

  override def dataType: DataType = FingerprintKernel.schema

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(t: Any): Any =
    FingerprintKernel.lanes(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.FingerprintKernel.lanes($t);")

  override protected def withNewChildInternal(newChild: Expression): Fingerprint2 =
    copy(child = newChild)
}
