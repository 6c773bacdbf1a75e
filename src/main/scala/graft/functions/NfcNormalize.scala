package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization (canonical
  * composition — `e` + U+0301 → `é`), exposed to SQL as `nfc(expr)`.
  *
  * Spark ships no normalization function at all, yet every real text
  * pipeline normalizes before fingerprinting/dedup — the same visible
  * string in composed and decomposed form would otherwise carry two
  * different md5s and defeat exact dedup. Implemented like [[FnvHash64]]
  * as a codegen'd `UnaryExpression` (preference order (b) of the build
  * rules: a native expression, not a UDF), delegating to
  * `java.text.Normalizer` — the JDK's implementation of the same
  * Unicode canonical-composition tables DuckDB's `nfc_normalize`
  * applies, which is what makes the q91 oracle hash-exact.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      NfcNormalize.normalize(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.NfcNormalize.normalize($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** JDK NFC with a fast pure-ASCII skip: `Normalizer.isNormalized` is
    * a cheap table scan and the overwhelmingly common web-corpus case
    * (all-ASCII) allocates nothing. */
  def normalize(s: String): String =
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) s
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  /** SQL `nfc(s)`. */
  val function = new NativeFunction("nfc", classOf[NfcNormalize], 1)(
    exprs => NfcNormalize(exprs.head))

  def column(spark: SparkSession, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    function(spark, c)
}
