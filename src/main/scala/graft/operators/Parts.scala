package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Data-size-driven partition counts for iterative loop state.
  *
  * The round-9 loop discipline pins edge/label frames to an explicit
  * hash partition count so every round's join is co-partitioned (no
  * per-round |E| exchange). Round 15 measured the count itself was
  * wrong: it came from `spark.sql.shuffle.partitions` — the CORE
  * count — so at bench scale every loop round scheduled 32-task
  * micro-stages plus a 32-partition checkpoint job on kilobytes of
  * state (p8: 18.8 s at 32 cores vs 4.8 s at 8; 18 queries ran
  * FASTER on a quarter of the cores — VERDICT r15 #1), while at
  * 100 TB the same constant is far too FEW partitions. Guide §2.2:
  * partition counts must follow DATA SIZE.
  *
  * [[forCheckpointed]] measures an already-materialized (eager
  * `localCheckpoint`) frame through the block manager — no extra job
  * — and sizes partitions at the session's AQE advisory partition
  * size (the knob that already means "bytes per post-shuffle
  * partition"), so the loop scales with the data exactly as AQE-
  * coalesced exchanges do: one partition at bench scale, thousands
  * at 100 TB. Stored block bytes slightly overestimate shuffle bytes
  * (deserialized row overhead) — an error on the MORE-partitions
  * side, never a single-giant-partition risk.
  */
object Parts {

  /** Partition count for loop state derived from the measured bytes
    * of `df`, which must already be eagerly checkpointed. An
    * unmeasurable frame (no blocks found: lost or evicted) falls back
    * to `spark.sql.shuffle.partitions` — its size is unknown, not
    * tiny, and one partition would serialize a large frame. */
  def forCheckpointed(df: DataFrame): Int = {
    val bytes = Bridge.checkpointedBytes(df)
    if (bytes == 0L)
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    else {
      val advisory =
        math.max(1L, Bridge.advisoryPartitionBytes(df.sparkSession))
      ((bytes + advisory - 1L) / advisory).toInt
    }
  }

  /** Re-pin an eagerly checkpointed frame to hash(`key`) at the
    * data-driven count — SKIPPED (frame returned unchanged, old
    * blocks kept) when the inherited layout is already within 2× of
    * that count: loop state that is bounded/metadata-sized by
    * contract (Mmr's query-batch frames) then pays no extra
    * materialization job, while a core-count-fine inherited layout
    * still collapses to the data-driven one. */
  def pin(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val parts = forCheckpointed(df)
    if (df.rdd.getNumPartitions <= 2L * parts) df
    else {
      val pinned = df.repartition(parts, key).localCheckpoint(true)
      Bridge.unpersistCheckpoint(df)
      pinned
    }
  }
}
