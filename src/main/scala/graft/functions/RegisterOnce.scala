package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The session registration behind every native function's `register`.
  * Callers register before each use, so this is the idempotent
  * contains-check: a name the session already has is left alone, which
  * neither rebuilds the entry nor logs Spark's "replaced a previously
  * registered function" WARN.
  */
private[functions] object RegisterOnce {
  def apply(spark: SparkSession, name: String)
           (builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
