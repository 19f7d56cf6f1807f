package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one `private[sql]` doorway the library needs: turning a custom
  * [[LogicalPlan]] node (e.g. [[graft.plans.AsOfJoinNode]]) back into a
  * user-facing DataFrame. `classic.Dataset.ofRows` is the canonical
  * constructor every internal Spark API uses for exactly this; it is
  * `private[sql]`, so this shim lives under the `org.apache.spark.sql`
  * package — the standard pattern for Spark-extension libraries that
  * add plan nodes without forking Spark. Nothing else internal is
  * touched, and nothing here is reflection. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A user-facing [[org.apache.spark.sql.Column]] over a raw Catalyst
    * expression — `classic.ExpressionUtils.column` is `private[sql]`;
    * the inline write-stats aggregate ([[graft.incremental.FileStats]])
    * plans through it. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** Re-tag a computed batch frame as a STREAMING frame — what a v1
    * streaming `Source.getBatch` must return (MicroBatchExecution
    * asserts `isStreaming`). The standard v1-source move: the batch
    * plan's execution RDD wrapped in a [[org.apache.spark.sql.execution.LogicalRDD]]
    * with `isStreaming = true` — lazy (no job runs here; the sink's
    * write executes it), same rows, same schema. */
  def streamingFrame(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].queryExecution
    classic.Dataset.ofRows(cs, org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd, isStreaming = true)(cs))
  }

  /** Re-executable BATCH view of a v1 sink's `addBatch` frame. The
    * frame the engine hands a sink still carries streaming leaves in
    * its logical plan (so `.write`/multi-action use is rejected); its
    * QUERY EXECUTION, though, is the micro-batch's fully-planned batch
    * execution — wrap that execution's RDD in a plain (non-streaming)
    * [[org.apache.spark.sql.execution.LogicalRDD]] and the sink gets an
    * ordinary DataFrame it can join, persist, and write. The exact
    * inverse of [[streamingFrame]]. */
  def rebatch(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]].queryExecution
    classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.LogicalRDD(qe.analyzed.output, qe.toRdd)(cs))
  }

  /** Replays `spark.sql.extensions` function injection against a given
    * registry — the exact hook session creation calls — so a spec can
    * prove the extension surfaces every graft function without building
    * a whole second SparkSession (`registerFunctions` is
    * `private[sql]`). */
  def applyInjectedFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)

  /** The output schema Spark expects a COMPLETELY pushed aggregation's
    * scan to serve — `AggregatePushDownUtils` is the engine's own
    * source of truth for it (and `private[sql]`); answering with any
    * other schema fails the pushdown at planning. */
  def pushedAggSchema(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      schema: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] =
    org.apache.spark.sql.execution.datasources.AggregatePushDownUtils
      .getSchemaForPushedAggregation(agg, schema, Set.empty, Nil)

  /** A connector `IN` predicate over literal values — what Spark's
    * runtime-filtering rule injects into a
    * `SupportsRuntimeV2Filtering` scan at execution. `LiteralValue` is
    * `private[sql]`, so the spec that drives the scan's `filter(...)`
    * contract directly builds its probe predicate here. */
  def inPredicate(column: String, values: Seq[Any],
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.filter.Predicate = {
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions, LiteralValue}
    new org.apache.spark.sql.connector.expressions.filter.Predicate("IN",
      (Expressions.column(column) +:
        values.map(v => LiteralValue(v, dt): Expression)).toArray)
  }

  /** SQL-equality semantics for float/double expressions (-0.0 == 0.0,
    * single NaN) — the same rewrite the optimizer's
    * NormalizeFloatingNumbers rule applies to the operators it knows;
    * custom plan nodes must apply it themselves (also `private[sql]`). */
  def normalizeFloating(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Every field nullable, nested ones too — the schema Spark's own
    * file-source resolution plans a parquet read over (`private[spark]`). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** A pushed Catalyst data filter as the `sources.Filter` Spark hands
    * any v1 data source — `DataSourceStrategy.translateFilter` is
    * `protected[sql]`. Top-level columns only; None when the shape has
    * no source form (And needs both sides, as in Spark's own pushdown).
    * The manifest file index prunes through it with the same proof the
    * catalog's source-filter route uses. */
  def translateFilter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)
}
