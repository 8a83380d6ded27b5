package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Connect refactor), so extension libraries expose them
  * from a child package of `org.apache.spark.sql` — the established OSS
  * pattern for libraries shipping native expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an arbitrary logical plan — `Dataset.ofRows` went
    * `private[sql]` in the Connect refactor; the SQL front end needs it to
    * materialize a parsed MERGE statement's source plan. */
  def ofRows(s: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A new DataFrame over a kept analysed plan, without analysing it again.
    * Each call gets its own `QueryExecution` (it optimizes, plans and
    * executes anew, and shares no result or shuffle output with another
    * call), over a fresh no-op root: a `Project` of the plan's own output,
    * marked analysed (`setAnalyzed` is not public), so
    * `Analyzer.executeAndCheck` returns it as it is, and the optimizer's
    * `RemoveNoopOperators` drops it. The Dataset's id tag
    * (`DATASET_ID_TAG`, which the Dataset constructor adds to its root
    * plan) lands on that root, so the kept plan's tag set does not grow
    * with the calls. */
  def ofAnalysed(s: org.apache.spark.sql.SparkSession,
      analysed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = {
    require(analysed.analyzed, "ofAnalysed needs an analysed plan")
    val root = org.apache.spark.sql.catalyst.plans.logical.Project(analysed.output, analysed)
    root.setAnalyzed()
    ofRows(s, root)
  }

  /** Catalyst predicate → data-source [[org.apache.spark.sql.sources.Filter]]
    * (None when the shape has no source-filter equivalent) —
    * `DataSourceStrategy.translateFilter` is `private[sql]`; the SQL
    * UPDATE/DELETE front end uses it to stats-prune the snapshot scan
    * that derives the affected keys. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Re-tag a BATCH plan's output as a STREAMING DataFrame — the V1
    * streaming `Source.getBatch` contract demands `isStreaming = true`,
    * and the blessed construction (`internalCreateDataFrame` over the
    * plan's InternalRow RDD, exactly what the built-in file source does)
    * is `private[sql]`. The RDD is not lazy under AQE: `toRdd` on an
    * adaptive plan runs the diff's shuffle stages at once, inside
    * `getBatch`. The re-tag stays because the other way to mark the
    * batch streaming, tagging the diff's leaves, changes what runs:
    * Spark 4.1's `StreamingJoinStrategy` plans an equi-join whose two
    * sides are streaming as a stateful `StreamingSymmetricHashJoinExec`,
    * and the diff's full-outer key join would then need watermarks and
    * state the feed does not have. */
  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val c = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    c.sparkSession.internalCreateDataFrame(
      c.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Re-tag a STREAMING micro-batch frame as a BATCH DataFrame — the V1
    * `Sink.addBatch` hand-off: the engine's merge runs several actions
    * (dup check, stats pass, write) over the batch, which a streaming-
    * tagged plan refuses. The re-tag stays because only the micro-batch's
    * own execution can run its plan: re-planning the frame's logical plan
    * as a batch would drop the batch id, state and watermarks that
    * execution binds. Same `internalCreateDataFrame` construction as
    * [[asStreaming]], opposite tag; the caller should pin the result
    * (localCheckpoint) so repeated actions don't recompute the
    * micro-batch source. */
  def asBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val c = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    c.sparkSession.internalCreateDataFrame(
      c.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Bounded top-k collect over a column: at most `num` values buffered
    * per group (Spark's own `CollectTopK` BoundedPriorityQueue, surfaced
    * through the in-package accessor). `reverse = false` keeps the
    * largest `num`, `reverse = true` the smallest; the returned array is
    * UNSORTED (heap order) — sort the ≤k elements at the call site. */
  def boundedTopK(c: Column, num: Int, reverse: Boolean): Column =
    column(org.apache.spark.sql.catalyst.expressions.aggregate
      .GraftCollectBridge.collectTopK(expression(c), num, reverse)
      .toAggregateExpression())

  /** `schema` with every field nullable, recursively — what Spark's own
    * file reads scan with (`StructType.asNullable` is `private[spark]`):
    * a file written before a column was added reads that column as null. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Release the block-manager storage pinned by a `localCheckpoint()`ed
    * frame. `Dataset.unpersist` only consults the CacheManager, which does
    * not track checkpoint RDDs — the pinned blocks live on the internal
    * RDD inside the checkpoint's `LogicalRDD` leaf, reachable only from
    * `private[sql]` territory (hence this bridge).
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
}
