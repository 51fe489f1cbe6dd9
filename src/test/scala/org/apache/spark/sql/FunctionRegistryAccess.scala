package org.apache.spark.sql

/** Spec access to a session's function registry (`sessionState` is
  * `private[sql]`): registers a `GraftExtensions` descriptor on a session
  * that was built without the extensions, exactly as `injectFunction`
  * would have at build time. */
object FunctionRegistryAccess {
  def register(spark: SparkSession,
               d: graft.GraftExtensions.FunctionDescriptor): Unit =
    spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3)
}
