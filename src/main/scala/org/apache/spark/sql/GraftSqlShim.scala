package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]`/`private[spark]` internals — the
  * supported pattern for third-party Catalyst extensions (Spark 4 moved
  * Column onto ColumnNode; `classic.ExpressionUtils` is the conversion
  * point). Only thin wrappers live here; all graft logic stays in
  * `graft.*`.
  */
object GraftSqlShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** True when the frame's optimized plan is "scan-shaped": projections /
    * filters over a single leaf (file relation, pinned RDD, or local
    * rows) — no join, aggregate, window, or exchange anywhere. On such a
    * plan, converting to an RDD to probe the partition count is free (no
    * job, no AQE stage materialization), which is what
    * `graft.ops.Scale.fanOutIfScan` needs to decide whether a repartition
    * would buy parallelism. Conservative: anything unrecognized is NOT
    * scan-shaped.
    */
  def scanShaped(df: Dataset[Row]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def walk(p: LogicalPlan): Boolean = p match {
      case _: execution.datasources.LogicalRelation => true
      case _: execution.LogicalRDD                  => true
      case _: LocalRelation                         => true
      case pr: Project                              => walk(pr.child)
      case f: Filter                                => walk(f.child)
      case _                                        => false
    }
    walk(df.asInstanceOf[classic.Dataset[Row]].queryExecution.optimizedPlan)
  }

  /** Rebuild a just-`localCheckpoint`ed frame's `LogicalRDD` WITHOUT the
    * origin statistics Spark carries over from the checkpointed plan
    * (SPARK-39748). Iterative algorithms need this: a join's size
    * estimate is the PRODUCT of its children's `sizeInBytes`, so when
    * iteration i's plan references iteration i-1's frame k>1 times, the
    * carried estimate grows as bits×k^i — exponentially — until
    * Catalyst's BigInt stats arithmetic throws `BigInteger would
    * overflow supported range`. Dropping the origin stats falls back to
    * `spark.sql.defaultSizeInBytes`, which resets the compounding at
    * every checkpoint. Zero-copy: same RDD, same partitioning, same
    * ordering — only the statistics annotation changes. No-op on frames
    * whose root is not a LogicalRDD.
    */
  def freshStats(df: Dataset[Row]): Dataset[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.logical match {
      case lr: execution.LogicalRDD =>
        classic.Dataset.ofRows(ds.sparkSession,
          execution.LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(ds.sparkSession))
      case _ => df
    }
  }

  /** Block until every listener has seen every event posted so far (the
    * `private[spark]` bus drain Spark's own tests use): the end of a
    * job's scheduler events, a query's `QueryExecutionListener`
    * callback. Delivery is asynchronous, so counters read right after an
    * action can miss its tail. A bus still busy after 10 s leaves them
    * short rather than failing the caller.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
