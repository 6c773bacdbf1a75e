package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: FNV-1a 64-bit string hash with full
  * whole-stage-codegen support (`doGenCode` emits a static call — no
  * UDF serialization, no codegen fallback). The same function as
  * graft.dedup.Dedup.fnv1a, exposed to SQL as `fnv64(expr)`.
  *
  * This is the SURVEY §7.3 extra-credit path: the engine needs no
  * custom expressions for reference parity, but hot hash loops benefit
  * from a codegen'd primitive — preference order (b) of the build
  * rules (custom Expression before mapPartitions) where an expression
  * slot requires it.
  */
case class FnvHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fnv64 requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fnv64"

  override protected def nullSafeEval(input: Any): Any =
    FnvHash64.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FnvHash64.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): FnvHash64 =
    copy(child = newChild)
}

object FnvHash64 {
  /** Char-wise FNV-1a (matches Dedup.fnv1a). */
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** SQL `fnv64(s)`. */
  val function = new NativeFunction("fnv64", classOf[FnvHash64], 1)(
    exprs => FnvHash64(exprs.head))

  def column(spark: SparkSession, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    function(spark, c)
}
