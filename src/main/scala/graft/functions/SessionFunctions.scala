package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

object SessionFunctions {
  /** Registers the native function `name` in the session's function
    * registry unless it is there already. Query builds call the
    * `register` helpers every time, and replacing a function logs a
    * WARN on each call. */
  def registerOnce(spark: SparkSession, name: String)(create: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, create, "built-in")
  }
}
