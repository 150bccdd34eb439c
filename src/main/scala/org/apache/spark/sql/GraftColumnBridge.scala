package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Expression <-> Column bridge for graft's native Catalyst expressions
  * ([[graft.expressions.VectorExpressions]] etc).
  *
  * Spark 4 backs `Column` by `ColumnNode` and keeps the converters
  * (`classic.ExpressionUtils`) `private[sql]`, so a library that defines
  * its own `Expression`s needs this one-file shim in the sql package —
  * the same technique Spark-native extension libraries use. Everything
  * referenced here is public Apache Spark source.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `e` with every lazily wrapped Column node converted to its Catalyst
    * form (`expression` defers that conversion to the session), so a
    * Column-built predicate can be analyzed on its own. */
  def catalyst(e: Expression): Expression = e.transformDown {
    case classic.ColumnNodeExpression(node) =>
      classic.ColumnNodeToExpressionConverter(node)
  }

  /** `e` as a `sources.Filter` for parquet row-group pushdown, when it
    * translates (`DataSourceStrategy.translateFilter` is `protected[sql]`). */
  def sourceFilter(e: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = true)

  /** The session catalog as a v2 [[connector.catalog.CatalogPlugin]] —
    * what a swapped-in `DataSourceV2Relation` must carry so Spark's
    * own REFRESH TABLE can invalidate it (`CatalogManager
    * .v2SessionCatalog` is `private[sql]`). */
  def sessionCatalogPlugin(spark: SparkSession)
      : connector.catalog.CatalogPlugin =
    spark.sessionState.catalogManager.v2SessionCatalog

  /** A DataFrame over an analyzed logical plan — what a command-rewrite
    * rule needs to hand an `InsertIntoHadoopFsRelationCommand`'s
    * already-aligned query to an ordinary writer. `Dataset.ofRows` is
    * `private[sql]`, hence the bridge. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a batch DataFrame as a STREAMING one (isStreaming = true) —
    * what a DSv1 `Source.getBatch` must return (MicroBatchExecution
    * asserts it). `internalCreateDataFrame` is `private[sql]`, hence
    * this bridge; the technique is the one every DSv1 connector uses. */
  def asStreaming(df: Dataset[Row]): Dataset[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** The inverse: re-plan a micro-batch DataFrame handed to a DSv1
    * `Sink.addBatch` as a plain BATCH frame, so ordinary writers
    * (`df.write`, `VersionedTable.commit`) accept it. Materializes
    * through the incremental execution's RDD — the rows of THIS
    * micro-batch only. */
  def asBatch(df: Dataset[Row]): Dataset[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }
}
