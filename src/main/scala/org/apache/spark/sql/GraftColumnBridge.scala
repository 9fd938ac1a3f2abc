package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 moved Column off catalyst Expression (sql-api split); the
  * converter lives in `private[sql]` ExpressionUtils. This is the minimal
  * public bridge for graft's native expressions — nothing else reaches into
  * Spark internals.
  */
object GraftColumnBridge {
  def column(e: Expression): Column     = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The reliable-checkpoint file backing `df.checkpoint(true)`'s result,
    * if any. `Dataset.checkpoint` wraps the materialized RDD in a
    * LogicalRDD; Spark's ContextCleaner does NOT remove reliable
    * checkpoint FILES unless `spark.cleaner.referenceTracking
    * .cleanCheckpoints` is set (default false), so driver-iterated
    * operators that checkpoint per round use this to delete superseded
    * rounds' files themselves. */
  /** Blocks until every listener event posted so far has been delivered
    * (the bus is otherwise asynchronous), so a listener's counters are
    * complete when read — a drain without a guessed sleep. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def checkpointFile(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getCheckpointFile
      case _                                            => None
    }
}
