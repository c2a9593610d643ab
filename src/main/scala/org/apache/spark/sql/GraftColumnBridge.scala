package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `Column(expr)` / `Column.expr` bridge when
  * Column became backend-agnostic (Spark Connect). For a classic-mode
  * library shipping custom Catalyst expressions, this is the supported
  * conversion point (`ExpressionUtils` is `private[sql]`, hence this
  * one-file shim in the sql package — the same pattern third-party Spark
  * extensions use).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-tag a batch plan as a streaming one. A DSv1 `Source.getBatch`
    * must return a DataFrame with `isStreaming = true` or
    * MicroBatchExecution rejects it; the blessed conversion is the
    * `private[sql]` `internalCreateDataFrame(rdd, schema,
    * isStreaming = true)`, reached through this bridge (the same shim
    * every third-party DSv1 streaming source uses).
    */
  def asStreamingDataFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse re-tag, for a DSv1 `Sink.addBatch`: the incoming batch
    * DataFrame is streaming-tagged (batch writes on it are rejected),
    * but its physical plan IS one micro-batch of rows — rewrap it as a
    * plain batch frame so ordinary writers can run it.
    */
  def asBatchDataFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** `df`'s analyzed plan as a frame of `session` — the classic
    * `Dataset.ofRows` factory (`private[sql]`) that carries a plan
    * across sessions of one SparkContext by value, with no catalog
    * entry to register or drop. The plan keeps the analysis it got in
    * `df`'s session; planning and execution take `session`'s conf.
    */
  def ofRows(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** The ANALYZABLE catalyst tree of a Column: `expression` returns a lazy
    * `ColumnNodeExpression`, which renders SQL-text columns (`expr(...)`,
    * string conditions) as one opaque node — useless for structural
    * analysis like merge partition-binding detection. This parses such
    * nodes into their real tree via the catalyst SQL parser.
    */
  def parsedExpression(c: Column): Expression = {
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    import org.apache.spark.sql.internal.SqlExpression
    c.node match {
      case SqlExpression(sql, _) => CatalystSqlParser.parseExpression(sql)
      case _ => expression(c)
    }
  }
}
