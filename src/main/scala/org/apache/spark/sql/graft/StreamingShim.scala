package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The one `private[sql]` seam a DSv1 streaming `Source` needs:
  * `MicroBatchExecution` asserts that `getBatch`'s DataFrame carries
  * `isStreaming = true`, and the only constructor for such a frame is
  * `SQLContext.internalCreateDataFrame(rdd, schema, isStreaming = true)`.
  * Every third-party v1 source (Delta's `DeltaSource`, Kafka's
  * `KafkaSource`) reaches it the same way — a helper inside an
  * `org.apache.spark.sql.*` subpackage, which Scala's `private[sql]`
  * qualifier admits. This object is that helper and nothing else: no
  * behavior, delegations only.
  */
object StreamingShim {

  /** A streaming-tagged DataFrame over `rdd` (rows must match `schema`). */
  def streamingDf(spark: SparkSession, rdd: RDD[InternalRow],
                  schema: StructType): DataFrame =
    spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The second seam, for row-level SQL commands: wrap an analysis-time
    * catalyst Expression as a user-facing Column (the `private[sql]`
    * `ExpressionUtils.column`), so `DELETE`/`UPDATE` conditions re-resolve
    * by name against the command's own fresh scan.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** [[column]]'s inverse: the catalyst Expression a Column wraps (the
    * `private[sql]` `ExpressionUtils.expression`) — how mergeRows
    * inspects its clause shapes for the canonical-upsert image elision.
    */
  def expressionOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The third seam: a DataFrame over an already-analyzed logical plan
    * (the `private[sql]` `Dataset.ofRows`) — how MERGE INTO's rewritten
    * source projection executes inside its command.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The fourth seam: a copy of `spark`'s session (the `private[sql]`
    * `cloneSession`) — same conf, catalog, functions and query-execution
    * listeners, but its own conf, so settings changed on the copy never
    * reach the original. How `Par.materializeLayout` plans one checkpoint
    * without AQE.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
