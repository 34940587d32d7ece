package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[CharShingles]] and [[WindowHashes]], and the ONE
  * definition of char-shingle positions: [[bounds]] is walked by
  * `graft_shingles`, `graft_window_hashes` and [[MinhashKernel]] alike.
  *
  * Shingle k is `substring(text, 1 + k * stride, len)`, for every start
  * up to `length(text) - (len - 1)` and at least one: a text shorter than
  * `len` is its own single shingle, `""` gives `[""]`. Positions and
  * lengths count characters (code points) exactly as Spark's
  * `length`/`substring` do (`UTF8String.numBytesForFirstByte`), so
  * multi-byte and supplementary-plane text shingles identically. The char
  * starts are found in one walk over the bytes, and each shingle is a
  * byte slice, where `substring` per shingle walks from the start of the
  * text again (quadratic in the text's length).
  */
object ShingleKernel {

  /** Byte bounds of the shingles of the UTF-8 bytes `b`: shingle k spans
    * `[out(2k), out(2k + 1))`.
    */
  def bounds(b: Array[Byte], len: Int, stride: Int): Array[Int] = {
    val n = b.length
    val starts = new Array[Int](n + 1)
    var chars = 0
    var i = 0
    while (i < n) {
      starts(chars) = i
      chars += 1
      i += UTF8String.numBytesForFirstByte(b(i))
    }
    starts(chars) = n
    val count = (math.max(chars - (len - 1), 1) - 1) / stride + 1
    val out = new Array[Int](2 * count)
    var k = 0
    while (k < count) {
      val p = k * stride
      out(2 * k) = starts(p)
      out(2 * k + 1) = starts(if (len >= chars - p) chars else p + len)
      k += 1
    }
    out
  }

  /** The shingle array of `text`; a null text gives `[null]`, as the
    * `transform(sequence(…), i -> substring(text, i, len))` spelling does.
    */
  def shingles(text: UTF8String, len: Int, stride: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array[Any](null))
    val b = text.getBytes
    val bd = bounds(b, len, stride)
    val out = new Array[Any](bd.length / 2)
    var k = 0
    while (k < out.length) {
      out(k) = UTF8String.fromBytes(b, bd(2 * k), bd(2 * k + 1) - bd(2 * k))
      k += 1
    }
    new GenericArrayData(out)
  }

  val windowSchema: StructType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("pos", IntegerType, nullable = false)))

  /** The distinct shingles of `text` as `(h, pos)` structs, in order of
    * first occurrence: `pos` is the 1-based char position of the window
    * (`substring(text, pos, len)` is the window) and `h` is
    * `xxhash64(window)`, Spark's seed-42 XXH64 over its UTF-8 bytes. No
    * string is built. Distinctness is by bytes: windows are grouped by
    * `h` and compared byte-wise within a group, so two different windows
    * that share a hash are both kept. A null text gives null.
    *
    * Why a join keyed on `h` alone loses no match (the decontamination
    * probe, `SparkEntry.decontamHits`): equal windows have equal bytes,
    * hence equal `h`; every distinct window of every document is listed,
    * so a window that occurs on both sides meets its twin under one key.
    * A 64-bit collision only puts two different windows under one key,
    * where the probe's byte comparison rejects the pair: it adds a
    * candidate, never drops a hit.
    */
  def windows(text: UTF8String, len: Int, stride: Int): ArrayData = {
    if (text == null) return null
    val b = text.getBytes
    val bd = bounds(b, len, stride)
    val n = bd.length / 2
    val hs = new Array[Long](n)
    val mask = Integer.highestOneBit(2 * n + 1) * 2 - 1
    val first = Array.fill(mask + 1)(-1)
    val out = new Array[Any](n)
    var m = 0
    var k = 0
    while (k < n) {
      val (from, until) = (bd(2 * k), bd(2 * k + 1))
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + from, until - from, 42L)
      hs(k) = h
      var s = (h ^ (h >>> 32)).toInt & mask
      var dup = false
      while (!dup && first(s) >= 0) {
        val j = first(s)
        dup = hs(j) == h && java.util.Arrays.equals(b, bd(2 * j), bd(2 * j + 1), b, from, until)
        s = (s + 1) & mask
      }
      if (!dup) {
        first(s) = k
        out(m) = new GenericInternalRow(Array[Any](h, 1 + k * stride))
        m += 1
      }
      k += 1
    }
    new GenericArrayData(out.take(m))
  }
}

/** Catalyst expression `graft_shingles(text, len, stride)` — the char
  * shingle array of [[graft.operators.Dedup.shingles]] in one linear pass
  * over the text ([[ShingleKernel]]). Never null: a null text gives
  * `[null]`, so the elements are nullable exactly when the text is.
  */
case class CharShingles(child: Expression, len: Int, stride: Int) extends UnaryExpression {

  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if len > 0 && stride > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects a string column and positive len/stride, " +
        s"got (${child.dataType}, $len, $stride)")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = child.nullable)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ShingleKernel.shingles(child.eval(input).asInstanceOf[UTF8String], len, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${classOf[ArrayData].getName} ${ev.value} = graft.functions.ShingleKernel.shingles(
        ${c.isNull} ? null : ${c.value}, $len, $stride);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
}

/** Catalyst expression `graft_window_hashes(text, len, stride)` — the
  * distinct char shingles of `graft_shingles(text, len, stride)` as
  * `array<struct<h: bigint, pos: int>>` ([[ShingleKernel.windows]]): the
  * 64-bit hash and position of each, in first-occurrence order, with no
  * string per window. Null for a null text.
  */
case class WindowHashes(child: Expression, len: Int, stride: Int) extends UnaryExpression {

  override def prettyName: String = "graft_window_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if len > 0 && stride > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_window_hashes expects a string column and positive len/stride, " +
        s"got (${child.dataType}, $len, $stride)")
  }

  override def dataType: DataType = ArrayType(ShingleKernel.windowSchema, containsNull = false)

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(t: Any): Any =
    ShingleKernel.windows(t.asInstanceOf[UTF8String], len, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.ShingleKernel.windows($t, $len, $stride);")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}
