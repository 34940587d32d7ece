package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Kernel for [[HashTf]]: one pass over the token array, md5-bucketed
  * term counts. The bucket function is fixed as the first 8 hex chars of
  * md5(token) mod dim — i.e. bitwise-identical to the relational spelling
  * `pmod(conv(substring(md5(to_binary(t,'utf-8')),1,8),16,10), dim)` and
  * to DuckDB's `('0x'||substring(md5(t),1,8))::BIGINT % dim`, which is
  * what lets the q53 oracle recompute the embedding independently.
  */
object TfKernel {
  private val tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def hashTf(tokens: ArrayData, dim: Int): ArrayData = {
    if (tokens == null) return null
    val out = new Array[Double](dim)
    val md = tl.get()
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (t.numBytes() > 0) {
          md.reset()
          val d = md.digest(t.getBytes)
          // first 4 md5 bytes as an unsigned 32-bit value == the integer
          // value of the first 8 hex chars of the md5 hex string
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          out((h % dim).toInt) += 1.0
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Catalyst expression `graft_hashtf(tokens[, dim])` — a feature-hashed
  * term-frequency embedding (ARRAY<STRING> -> ARRAY<DOUBLE>[dim]) in ONE
  * pass over the tokens. The equivalent SQL higher-order spelling
  * (`transform(sequence(0,dim-1), b -> size(filter(toks, t -> bucket(t)
  * = b)))`) re-walks the token array dim times (O(dim*T) per document)
  * AND falls out of whole-stage codegen; this expression is O(T + dim)
  * and codegen-compatible, the same kernel-vs-HOF trade as
  * [[CosineSim]]. Null tokens and empty strings are skipped (matching
  * the `length(t) > 0` relational filter).
  */
case class HashTf(child: Expression, dim: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if dim > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_hashtf expects array<string> and a positive dim, got " +
        s"(${child.dataType}, $dim)")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(a: Any): Any =
    TfKernel.hashTf(a.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TfKernel.hashTf($a, $dim);")

  override protected def withNewChildInternal(newChild: Expression): HashTf =
    copy(child = newChild)
}
