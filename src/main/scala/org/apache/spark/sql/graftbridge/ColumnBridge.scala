package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(Expression)` constructor; the
  * supported bridge (`classic.ExpressionUtils`) is `private[sql]`. This
  * shim lives in the `org.apache.spark.sql` package tree to expose the
  * two conversions a Catalyst-extension library needs — the same
  * pattern other Spark-native extension projects use.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (resolved attributes — safe
    * to reference from a wrapping custom node). */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** Build a DataFrame over an arbitrary (e.g. custom) logical plan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A DataFrame over an RDD of rows already in Catalyst's internal
    * format — a `LogicalRDD`, planned as a codegen'd scan
    * (`internalCreateDataFrame` is `private[sql]`). */
  def internalFrame(spark: org.apache.spark.sql.SparkSession,
                    rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                    schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** The session's Hadoop conf: the context's, plus the session's SQL
    * conf entries, as Spark's file sources use it. */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** Floating-point key normalization (−0.0 → 0.0, canonical NaN) for
    * custom operators that compare keys by UnsafeRow bytes — the
    * optimizer applies this rule to built-in aggregates/joins only
    * (`NormalizeFloatingNumbers.normalize` is `private[sql]`). */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Register a Catalyst function builder into an existing session's
    * registry (`sessionState` is `private[sql]`). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
