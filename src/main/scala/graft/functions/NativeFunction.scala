package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One of the engine's native SQL functions: its registry name and its
  * one builder. [[graft.GraftExtensions]] injects the builder into every
  * session built with `spark.sql.extensions`; the column forms register
  * it on first use in sessions built without them, and never again.
  */
final class NativeFunction(name: String, exprClass: Class[_], arity: Int)(
    build: Seq[Expression] => Expression) {

  val id: FunctionIdentifier = FunctionIdentifier(name)

  /** Checks the argument count, then builds the expression. */
  val builder: Seq[Expression] => Expression = { exprs =>
    if (exprs.length != arity)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> arity.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
    build(exprs)
  }

  private val info = new ExpressionInfo(exprClass.getName, name)

  /** The `(identifier, info, builder)` triple `injectFunction` takes. */
  def description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (id, info, builder)

  /** Registers the function in `spark`'s registry unless it is there. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
  }

  /** Column form: the function applied to `args`. */
  def apply(spark: SparkSession, args: Column*): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }
}
