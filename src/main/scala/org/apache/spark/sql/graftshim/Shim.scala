package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark 4's `private[sql]` Column↔Expression converters, so the
  * engine's native Catalyst expressions (graft.functions) can be exposed as
  * plain `Column`s. This package lives under org.apache.spark.sql purely
  * for access; it contains no Spark code. */
object Shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The RDD backing a `localCheckpoint(eager = false)` Dataset.
    * `localCheckpoint` persists at the RDD level, not through the cache
    * manager, so `Dataset.unpersist()` on (a projection of) the returned
    * frame is a no-op — the blocks linger until ContextCleaner GC.
    * Iterative algorithms that checkpoint every round use this to release
    * the previous round's blocks explicitly once the next round is
    * materialized. */
  def checkpointRdd(df: org.apache.spark.sql.Dataset[_])
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }

  /** Unload (and close) every loaded state-store provider —
    * `StateStore.unloadAll()` is `private[sql]`. Used by the stream
    * harness's per-query teardown: each harness checkpoint is a
    * throwaway temp dir, so no provider can ever be re-claimed by a
    * future query, and an unclosed RocksDB provider retains its native
    * handles, block cache and local working files for the JVM
    * lifetime. */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
