package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The three `private[sql]` accessors the SQL row-level DML rewrite
  * (graft.plans.SnapshotDml) needs and nothing public provides in
  * Spark 4's Column-node API:
  *
  *   - `ofRows`: wrap an ALREADY-ANALYZED logical plan (the MERGE
  *     statement's source subtree) as a DataFrame without re-analysis,
  *     preserving its attribute ids so the statement's resolved
  *     expressions keep referring to it; also how a library snapshot
  *     read becomes a DataFrame over its DSv2 relation;
  *   - `column` / `expression`: cross between Catalyst `Expression`s
  *     (what the analyzed MERGE carries) and user-facing `Column`s
  *     (what the DataFrame combinators accept) — Spark 4 removed the
  *     public constructors in the Connect refactor.
  *
  * Same justification as [[StreamingFrame]] (Delta Lake's commands sit
  * under `org.apache.spark.sql.delta` for exactly these calls): one
  * tiny bridge file under the `org.apache.spark.sql` package tree, all
  * other code stays outside `private[sql]`.
  */
/** Public face of the `private[sql]` [[org.apache.spark.sql.connector
  * .catalog.V2TableWithV1Fallback]] trait — the hook
  * `writeStream.toTable` consults when a V2 table lacks
  * STREAMING_WRITE. Same bridge rationale as [[DmlBridge]].
  */
trait V1FallbackTable
    extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback

object DmlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame — how the DML
    * rewrite learns the resolved output attributes of the frames it
    * builds, to substitute for the statement's original references.
    */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  /** A V1 streaming-source relation over a registered stream provider —
    * what `spark.readStream.format(source).options(...).load()` plans.
    * The stream-table rewrite (graft.plans.SnapshotStreamTableRule)
    * substitutes this for a catalog table's StreamingRelationV2, the
    * exact V1-fallback move Delta's DeltaAnalysis makes: micro-batches
    * of a table format are QUERY PLANS (MoR anti-joins, field-id
    * scans), which only the V1 Source API can return.
    */
  def streamingSourceRelation(spark: SparkSession, source: String,
      options: Map[String, String]): LogicalPlan = {
    val ds = org.apache.spark.sql.execution.datasources.DataSource(
      spark, className = source, options = options)
    org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(ds)
  }
}
