package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column <-> Expression converters — the
  * standard idiom for extension libraries that attach custom Catalyst
  * expressions to the public DataFrame API (the converters are public at
  * the JVM level; only Scala access control hides them outside the sql
  * package tree).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan built outside the public API — how a
    * custom logical node (e.g. `graft.functions.TokenCounts`) becomes a
    * Dataset.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a custom expression as a session-temp SQL function so it can
    * be referenced from SQL strings and higher-order-function lambdas.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Mix-in declaring a (array<double>, array<double>) input contract
    * with implicit coercion. Lives in the sql package tree because
    * `AbstractDataType` is `private[sql]`; graft expressions mix it in
    * so SQL-surface callers passing DECIMAL-typed array literals get a
    * Catalyst cast instead of a runtime ClassCastException (DataFrame
    * callers already pass array<double> — nothing is inserted there).
    */
  trait DoubleArrayPairInputs
      extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
      Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
  }

  /** The RDD backing a `localCheckpoint`-ed Dataset (its plan is a single
    * LogicalRDD). Lets iterative algorithms unpersist a superseded round's
    * checkpoint blocks instead of leaking them until context shutdown.
    */
  def checkpointedRdd(ds: org.apache.spark.sql.Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.logical.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
}
