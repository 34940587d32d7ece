package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine-similarity kernel over float embeddings.
  *
  * One fused pass accumulates dot product and both squared norms in the
  * same element order (and the same float->double widening) as the
  * higher-order-function formulation it replaces
  * (`aggregate(zip_with(...))` + two norm folds), so results are
  * bit-identical — the HOFs are `CodegenFallback` expressions that break
  * whole-stage codegen and re-walk the arrays three times, while this
  * kernel is a single static call inside the generated code.
  */
object VecKernel {
  /** cosine(a, b) = dot / (sqrt(na) * sqrt(nb)); 0-length or zero-norm
    * inputs yield NaN exactly like the HOF division does. Float inputs
    * widen per element — bitwise the same as casting the whole array to
    * double first. Returns NULL (boxed) for ragged lengths or null
    * elements, matching the HOF semantics too: `zip_with` pads the
    * shorter array with nulls and a null element null-poisons the fold,
    * so `aggregate(zip_with(...))` returned NULL in both cases.
    */
  def cosineF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  def cosineD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Squared euclidean distance — same left-fold order (and NULL
    * semantics, see [[cosineF]]) as
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0, +)`.
    */
  def sqDistD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}

/** Catalyst expression `graft_cosine(a, b)` over ARRAY<FLOAT> columns —
  * codegen-compatible (direct static call, no interpreted fallback), the
  * hot-path scalar of the ANN queries (q20/q40).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elem(t: DataType): Option[DataType] = t match {
    case ArrayType(e @ (FloatType | DoubleType), _) => Some(e)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elem(left.dataType), elem(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects two arrays of the same float/double " +
          s"element type, got (${left.dataType}, ${right.dataType})")
    }

  override def dataType: DataType = DoubleType

  // NULL also arises from non-null inputs (ragged lengths, null elements)
  override def nullable: Boolean = true

  @transient private lazy val isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def kernel: String = if (isFloat) "cosineF" else "cosineD"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (isFloat)
      VecKernel.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      VecKernel.cosineD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cosR")
      s"""java.lang.Double $r = graft.functions.VecKernel.$kernel($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Catalyst expression `graft_sqdist(a, b)` over ARRAY<DOUBLE> — the IVF
  * centroid-distance hot loop (q40), codegen-compatible and usable inside
  * SQL lambda bodies (`transform(cents, c -> graft_sqdist(v, c.cv))`).
  */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sqdist expects (array<double>, array<double>), got " +
        s"(${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType

  // NULL also arises from non-null inputs (ragged lengths, null elements)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernel.sqDistD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("sqD")
      s"""java.lang.Double $r = graft.functions.VecKernel.sqDistD($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}
