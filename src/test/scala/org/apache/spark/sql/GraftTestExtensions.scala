package org.apache.spark.sql

/** Test-only: apply a `spark.sql.extensions` class to the shared suite
  * session. A session built with the config runs exactly these two
  * steps while it builds its function registry; the suite session is
  * already built, and `registerFunctions` is private[sql], hence this
  * shim in Spark's package (the `GraftTestContext` pattern). */
object GraftTestExtensions {
  def apply(spark: SparkSession, extensions: SparkSessionExtensions => Unit): Unit = {
    val ext = new SparkSessionExtensions
    extensions(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }
}
