package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => CDataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

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

  /** Runs `df`'s plan and folds each partition with `f` inside its
    * task; the per-partition results come back to the driver. That is
    * ONE job past the plan's own shuffle stages, where a global
    * aggregate ending in a driver-sized result takes two under AQE (a
    * shuffle map job, then a single-task job that only merges). Runs
    * under `SQLExecution.withNewExecutionId`, as every Dataset action
    * does, so query listeners see the execution. The iterator reuses
    * its rows: `f` copies any row it keeps, and returns a driver-sized
    * value.
    */
  def foldPartitions[T: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => T): Array[T] = {
    val cds = df.asInstanceOf[CDataset[Row]]
    SQLExecution.withNewExecutionId(cds.queryExecution, Some("foldPartitions")) {
      cds.sparkSession.sparkContext.runJob(cds.queryExecution.toRdd, f)
    }
  }

  /** `df.groupBy(all columns).count()` for a DRIVER-SIZED result, in one
    * job ([[foldPartitions]]): each task counts its distinct rows in a
    * hash map keyed on Catalyst's binary rows, and the driver merges
    * the partial counts. Keys are normalized as `groupBy` normalizes
    * them (`NormalizeFloatingNumbers`: -0.0 is 0.0, every NaN is one
    * NaN), and a NULL is a key like any other. Returns (row, count)
    * pairs in no particular order.
    *
    * More than `maxRows` distinct rows, in one task or merged, fails
    * with an `IllegalArgumentException` naming the columns and the
    * caller's `contract` (why the rows should be few); a task stops
    * reading its partition as soon as it passes the bound.
    */
  def countRows(df: DataFrame, maxRows: Int, contract: String): Seq[(Row, Long)] = {
    val schema = df.schema
    val keys = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      NormalizeFloatingNumbers.normalize(BoundReference(i, f.dataType, f.nullable))
    }
    val parts = foldPartitions(df) { rows =>
      val project = UnsafeProjection.create(keys)
      val counts = new java.util.HashMap[UnsafeRow, Array[Long]]()
      var within = true
      while (within && rows.hasNext) {
        val key = project(rows.next())
        val n = counts.get(key)
        if (n != null) n(0) += 1
        else if (counts.size < maxRows) counts.put(key.copy(), Array(1L))
        else within = false
      }
      val out = new Array[(UnsafeRow, Long)](counts.size)
      var i = 0
      counts.forEach { (k, n) => out(i) = (k, n(0)); i += 1 }
      (within, out)
    }
    val merged = new java.util.HashMap[UnsafeRow, Array[Long]]()
    parts.foreach { case (_, rows) => rows.foreach { case (k, n) =>
      merged.computeIfAbsent(k, _ => Array(0L))(0) += n
    } }
    require(parts.forall(_._1) && merged.size <= maxRows,
      s"countRows: more than $maxRows distinct rows of (${schema.fieldNames.mkString(", ")}), " +
        s"not a driver-sized result: $contract")
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val out = Seq.newBuilder[(Row, Long)]
    merged.forEach { (k, n) => out += ((toRow(k).asInstanceOf[Row], n(0))) }
    out.result()
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
