package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made the converters
  * `private[sql]` (Column is backed by ColumnNode now); custom Catalyst
  * expressions still need them, so this shim lives inside the sql
  * package namespace — the standard extension-point technique, no
  * internals are modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every queued listener event is delivered — task
    * metrics arrive on the async listener bus, so a per-query CPU
    * accounting (Bench's contention self-adjudication) must drain the
    * bus before reading its counters. `waitUntilEmpty` is
    * `private[spark]`; this shim lives inside the spark namespace —
    * same extension-point technique as the Column converters above. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Deterministic reclamation for eager `localCheckpoint` state
    * (round-10, ADVICE r9): a checkpointed Dataset's blocks otherwise
    * survive until the driver GC happens to collect the RDD's weak
    * reference — in a long-lived session (the resident-service mode)
    * superseded loop rounds pile up in storage memory / tmpfs.
    * Unpersists the RDD behind every `LogicalRDD` in the frame's
    * plan. Call ONLY on frames no longer reachable from any live
    * plan: a local checkpoint's lineage is truncated, so dropped
    * blocks are unrecomputable. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** Total stored bytes of an eagerly `localCheckpoint`ed frame's
    * blocks (memory + disk), read from the block manager's storage
    * status — a MEASUREMENT of the frame's size, available without
    * any extra job. 0 when the frame holds no checkpointed RDD or
    * its blocks are gone (callers must treat 0 as "unknown/tiny"). */
  def checkpointedBytes(df: org.apache.spark.sql.DataFrame): Long = {
    val ids = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum
  }

  /** The session's AQE advisory partition size in bytes — the one
    * knob that already means "how big should a post-shuffle partition
    * be", reused for data-size-driven loop partition counts. */
  def advisoryPartitionBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.getConf(org.apache.spark.sql.internal.SQLConf
        .ADVISORY_PARTITION_SIZE_IN_BYTES)
}
