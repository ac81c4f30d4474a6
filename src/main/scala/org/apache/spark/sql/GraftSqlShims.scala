package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `private[sql]` Dataset construction: the supported way for a
  * library to wrap a custom `LogicalPlan` node (here `graft.plans.
  * TopKPerKey`) into a user-facing DataFrame. Spark itself offers no
  * public factory; every extension library ships exactly this one-line
  * shim in the `org.apache.spark.sql` package.
  */
object GraftSqlShims {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session that starts from a copy of `spark`'s runtime confs,
    * registered functions and temp views, and shares its `SharedState`:
    * the `CacheManager` serves cached relations to both. Unlike
    * `newSession()`, which drops runtime confs and functions.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The session's temporary functions (registered UDFs, temporary SQL
    * functions), each with its builder: a function re-registered under
    * the same name has a new builder, which compares unequal.
    */
  def temporaryFunctions(spark: SparkSession): Seq[(String, AnyRef)] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    state.catalog.listTemporaryFunctions().map(f => (f.unquotedString,
      state.functionRegistry.lookupFunctionBuilder(f)
        .orElse(state.tableFunctionRegistry.lookupFunctionBuilder(f))))
      .sortBy(_._1)
  }

  /** The session's typed SQL conf (byte sizes parsed, fallbacks resolved). */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** Spark 4 moved `Column.expr` behind the ColumnNode abstraction. The
    * session's converter produces a REAL Catalyst expression (e.g. an
    * `UnresolvedAttribute` the analyzer will bind); `ExpressionUtils.
    * expression` would instead wrap the node in a lazy, Unevaluable
    * `ColumnNodeExpression` that survives analysis inside a custom
    * logical node and then explodes at codegen time.
    */
  def expressionOf(spark: SparkSession, c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Wrap a raw Catalyst expression as a user-facing Column (the reverse
    * direction) — for custom expressions that carry non-expression state
    * (e.g. a fitted codebook) and so cannot go through function
    * registration. Children like `UnresolvedAttribute` resolve normally
    * inside standard operators.
    */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
}
