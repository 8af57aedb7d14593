package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => CDataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression
  * conversions (Spark 4 removed the public `new Column(expr)` path)
  * the Dataset-checkpoint internals and the listener bus. Lives under
  * `org.apache.spark.sql` solely for access; no Spark internals are
  * modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every listener has handled every event posted so far
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`); throws a
    * `TimeoutException` if the bus has not drained after 10 s.
    */
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `df.localCheckpoint(eager = true)` that RETURNS THE ROW COUNT of
    * the materializing job instead of discarding it.
    *
    * Spark's own eager checkpoint (classic `Dataset.checkpoint`)
    * executes the plan, local-checkpoints the internal RDD, runs
    * `rdd.count()` to materialize it, throws the count away, and wraps
    * the RDD in a [[LogicalRDD]]. Fixpoint loops (connected
    * components) need exactly that count for their convergence test —
    * re-counting the materialized frame is cheap per-byte but is a
    * WHOLE EXTRA SCHEDULED JOB per round on the driver path, and at
    * model-scale data per-job overhead IS the round's cost (round-16
    * optimization; guide §1.2 "fewer passes"). This is the same
    * sequence with the count kept; the returned frame is
    * plan-equivalent to `df.localCheckpoint(true)`.
    *
    * Also returns the checkpointed RDD so the caller can free the
    * previous round's blocks eagerly (`rdd.unpersist`) — a plain
    * `Dataset.unpersist` only talks to the CacheManager and leaves
    * checkpoint blocks to the GC-driven ContextCleaner.
    */
  def localCheckpointWithCount(df: DataFrame): (DataFrame, Long, RDD[InternalRow]) = {
    val cds = df.asInstanceOf[CDataset[Row]]
    val rdd = cds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count()
    val out = CDataset.ofRows(cds.sparkSession,
      LogicalRDD.fromDataset(rdd, cds, isStreaming = false))
    (out, n, rdd)
  }

  /** A frame over driver-held rows in Catalyst's internal form (a
    * `LocalRelation`), with the schema of `like`. For loops that finish
    * model-sized state on the driver and hand it back to the plan.
    */
  def localFrame(like: DataFrame, rows: Seq[InternalRow]): DataFrame = {
    val cds = like.asInstanceOf[CDataset[Row]]
    CDataset.ofRows(cds.sparkSession,
      LocalRelation(DataTypeUtils.toAttributes(like.schema), rows))
  }
}
