package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** The library's one bridge to Spark-internal API. It lives in an
  * `org.apache.spark.sql` subpackage solely to reach `private[sql]` and
  * `private[spark]` members (Delta Lake's whole codebase sits inside
  * `org.apache.spark.sql.delta` for the same reason); everything else in
  * the library stays in `graft.*` on public API. */
object Bridge {

  /** Re-wrap a DataFrame's physical rows with the given streaming flag —
    * the plan keeps full pushdown/codegen; only the flag changes. A V1
    * streaming `Source.getBatch` must return `isStreaming = true` (the
    * micro-batch engine asserts it); a V1 `Sink.addBatch` input comes
    * streaming-tagged, and re-wrapping it as a batch DataFrame makes
    * every normal writer path (e.g. the TxTable staging write) legal on
    * it. `SparkSession.internalCreateDataFrame` is `private[sql]`. */
  def retag(df: DataFrame, isStreaming: Boolean): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    spark.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = isStreaming)
  }

  /** The session's SQLConf (`sessionState` is `private[sql]`) — needed to
    * build a ParquetToSparkSchemaConverter whose flags (binary-as-string,
    * int96, case sensitivity, timestamp_ntz inference, nanos-as-long)
    * match exactly what a `spark.read.parquet` schema inference of the
    * same session would use. */
  def sqlConf(spark: org.apache.spark.sql.SparkSession): SQLConf =
    spark.asInstanceOf[SparkSession].sessionState.conf

  /** Column <-> Expression: Spark 4's public Column wraps a ColumnNode,
    * so a library expression that carries driver-side state (e.g. a
    * trained model array inside [[graft.functions.KMeansDists]]) cannot
    * be built through the string-registered SQL function path. This is
    * the conversion the `functions` object uses internally. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every queued listener event is delivered: listener
    * events post asynchronously, so counters a listener keeps are
    * complete only after this (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
