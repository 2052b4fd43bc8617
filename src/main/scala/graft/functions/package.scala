package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {
  /** Registers `name` as a temp function of `spark` unless the registry
    * already holds it (an earlier call, or `GraftExtensions`), so no call
    * replaces a registered function and logs the replacement. */
  private[graft] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
