package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into `private[sql]` Spark surface.
  *
  * For the V1 streaming source/sink providers in `graft.streaming`: the
  * V1 micro-batch contract requires `Source.getBatch` to return a
  * DataFrame whose leaf is marked
  * `isStreaming = true` (MicroBatchExecution asserts it), and conversely a
  * `Sink.addBatch` frame carries a streaming plan that batch writers reject.
  * Both directions are the exact pattern Spark's own Kafka V1 source used:
  * compute the physical RDD, re-root it under a fresh `LogicalRDD` with the
  * desired streaming flag.
  */
object GraftSqlShim {

  private def reroot(df: DataFrame, streaming: Boolean): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.queryExecution
    // fresh attributes: the new leaf must not share expr-ids with whatever
    // plan the rows came from, or the streaming planner's attribute
    // de-duplication can cross-wire them
    val output = DataTypeUtils.toAttributes(qe.analyzed.schema)
    // unsafe rows are reused by the scan; copy before handing them to a plan
    // that may buffer across rows (sort, agg) in the enclosing query
    val rdd = qe.toRdd.map((r: InternalRow) => r.copy())
    classic.Dataset.ofRows(session,
      LogicalRDD(output, rdd, isStreaming = streaming)(session))
  }

  /** Wrap a batch-computed DataFrame as a streaming-leaf frame for
    * `Source.getBatch`.
    */
  def asStreamingFrame(df: DataFrame): DataFrame = reroot(df, streaming = true)

  /** Re-root a `Sink.addBatch` streaming frame as a plain batch frame that
    * the normal write path can execute.
    */
  def asBatchFrame(df: DataFrame): DataFrame = reroot(df, streaming = false)

  /** A DataFrame straight over a DSv2 table that no catalog names — the
    * programmatic read's relation ([[graft.table.SparkRead.read]]). Column
    * pruning, filter and limit pushdown run as for any catalog table.
    */
  def readV2(spark: SparkSession, table: connector.catalog.Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      execution.datasources.v2.DataSourceV2Relation.create(table, None, None))
}
