package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * converters — the standard pattern for extension libraries that
  * define custom Catalyst expressions against open-source Spark
  * (the public API intentionally hides Expression since the Connect
  * refactor; classic-mode engines like this one still plug in here).
  */
object ColumnBridge {
  /** Build a connector-layer literal (`LiteralValue` is
    * `private[sql]`) — used to surface column DEFAULT values as v2
    * `ColumnDefaultValue`s. `value` is in Catalyst INTERNAL form. */
  def v2Literal(value: Any,
                dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Literal[Any] =
    org.apache.spark.sql.connector.expressions.LiteralValue(value, dt)

  /** `schema` with every field, element and value nullable
    * (`StructType.asNullable` is `private[spark]`): the data schema a
    * file-source read serves. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Spark's duplicate-column check for a write schema (the one
    * `df.write` makes). */
  def checkColumnNameDuplication(names: Seq[String],
                                 caseSensitive: Boolean): Unit =
    org.apache.spark.sql.util.SchemaUtils.checkColumnNameDuplication(
      names, caseSensitive)

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a TABLE-VALUED function on an already-built session —
    * the table-function twin of [[registerFunction]], for the
    * `table_changes(...)` CDF surface. */
  def registerTableFunction(spark: org.apache.spark.sql.SparkSession,
                            fn: (org.apache.spark.sql.catalyst.FunctionIdentifier,
                                 org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                                 Seq[Expression] =>
                                   org.apache.spark.sql.catalyst.plans.logical.LogicalPlan))
      : Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
      .registerFunction(fn._1, fn._2, fn._3)

  /** Register a SQL function on an ALREADY-BUILT session — the runtime
    * fallback for sessions not constructed with
    * `.withExtensions(new graft.GraftExtensions)` (e.g. the driver's
    * own session handed to SparkEntry.queries). Same registration the
    * extension performs at build time. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
                       fn: (org.apache.spark.sql.catalyst.FunctionIdentifier,
                            org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                            Seq[Expression] => Expression)): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(fn._1, fn._2, fn._3)

  /** Materialize a DataFrame from a logical plan (`Dataset.ofRows`,
    * `private[sql]`) — how a captured SQL subtree (e.g. a MERGE
    * source) becomes executable inside a command. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The live `SparkSessionExtensions` of an already-built session
    * (`private[sql]` accessor). Thrift/JDBC connections are served by
    * `newSession()` clones whose function registry is built from this
    * object, so injecting into it is how an endpoint operator exposes
    * custom functions to every future JDBC session without tearing the
    * context down. */
  def sessionExtensions(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSessionExtensions =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].extensions

  /** Materialize the planner strategies an extensions object would
    * inject at session build — lets the suite pin the
    * `spark.sql.extensions=graft.GraftExtensions` wiring without
    * tearing down the shared test session (builder extensions are
    * ignored once a session exists; the build hook is `private[sql]`,
    * hence this bridge). */
  def plannerStrategies(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
}
