package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One of the engine's native SQL functions: its registry name and its
  * one builder. The column form registers the builder in the session it
  * is given on first use, and never again; SQL text can call the function
  * once `register` has run on that session. A session's registry is its
  * own, so pass the session the frame resolves in.
  */
final class NativeFunction(name: String, exprClass: Class[_], arity: Int)(
    build: Seq[Expression] => Expression) {

  val id: FunctionIdentifier = FunctionIdentifier(name)

  /** Checks the argument count, then builds the expression. */
  private val builder: Seq[Expression] => Expression = { exprs =>
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
