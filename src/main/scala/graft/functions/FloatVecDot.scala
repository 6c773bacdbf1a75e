package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: Σ aᵢ·bᵢ over two `array<float>` columns
  * with full whole-stage-codegen support — the expression-slot twin of
  * the pairwise kernels' `dotD` loop (sim/Vectors.scala).
  *
  * Why it exists (SURVEY §7.3 preference order (b)): the higher-order
  * `aggregate(zip_with(...))` formulation evaluates interpreted — one
  * allocation-heavy lambda VM call per element per row — and measured
  * 12 s for 2M 64-d pairs where this expression codegens to a primitive
  * double loop inside the enclosing WholeStageCodegen. Accumulation is
  * ascending-index from 0.0 with per-element widening to double — the
  * exact IEEE-754 sequence of the kernels and of the oracle's
  * left-associative SQL term chain, so results are bit-identical to
  * both. Elements are assumed non-null (embedding vectors); a null
  * ARRAY input yields null (nullIntolerant).
  *
  * Equal-length precondition: both arrays must have the same length
  * (true for any embedding column). On mismatched inputs fdot folds
  * over the common prefix, which differs from the HOF formulation
  * (`zip_with` null-pads → null) and from the kernels (throw) — do not
  * rely on any of the three for ragged arrays.
  *
  * Exposed to SQL as `fdot(a, b)`; cosine composes as
  * `fdot(a,b) / (sqrt(fdot(a,a)) * sqrt(fdot(b,b)))`.
  */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {

  private val arrF = ArrayType(FloatType)
  private def okType(t: DataType) = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fdot requires two array<float> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fdot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object FloatVecDot {

  /** SQL `fdot(a, b)`. */
  val function = new NativeFunction("fdot", classOf[FloatVecDot], 2)(
    exprs => FloatVecDot(exprs.head, exprs(1)))

  def dot(spark: SparkSession, a: Column, b: Column): Column = function(spark, a, b)
}
