package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch (event-time) sessionization and edge/transition detection.
  *
  * The reference keeps per-aircraft mutable `Flight` sessions expiring
  * after 300 s of inactivity (dump1090-postgis
  * `src/dump1090_postgis/flights.py:18,111-117`), detects
  * onground-flip landing/takeoff events (`models.py:218-228`) and
  * debounces them with a 2 s window in which *every* candidate —
  * suppressed or not — resets the clock (`models.py:256-270`).
  *
  * Rebuilt declaratively: a session boundary is a gap > `gapSec` to
  * the previous record of the same key, so `session_seq` is a running
  * sum of boundary flags — one `partitionBy(key).orderBy(time)` window,
  * i.e. a single shuffle on the key (the natural partitioning; no
  * global sort). The same shape at 100 TB: sessions shuffle by key,
  * skew mitigated by AQE; nothing here is driver-side.
  *
  * The streaming twin lives in [[graft.streaming]] and shares the
  * semantics (flatMapGroupsWithState).
  */
object Sessionize {

  /** Adds `session_seq` (1-based per key) using gap-based boundaries.
    * `tieBreak` makes the ordering total when timestamps collide. */
  def withSessionId(
      df: DataFrame,
      keyCol: Column,
      timeCol: Column,
      gapSec: Long,
      tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(timeCol.cast("timestamp"), tieBreak)
    val gap = unix_micros(timeCol.cast("timestamp")) -
      lag(unix_micros(timeCol.cast("timestamp")), 1).over(w)
    val boundary = when(gap.isNull || gap > gapSec * 1000000L, 1).otherwise(0)
    df.withColumn("session_seq",
      sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-session summary: (key, session_seq, session_start, session_end,
    * n_events) — the batch analog of the reference's `flights` rows
    * (first_seen/last_seen, `models.py:176-181`). */
  def sessionSummary(
      df: DataFrame,
      keyCol: Column,
      timeCol: Column,
      gapSec: Long,
      tieBreak: Column): DataFrame =
    withSessionId(df, keyCol, timeCol, gapSec, tieBreak)
      .groupBy(keyCol.as("key"), col("session_seq"))
      .agg(
        min(timeCol.cast("timestamp")).cast("timestamp_ntz").as("session_start"),
        max(timeCol.cast("timestamp")).cast("timestamp_ntz").as("session_end"),
        count(lit(1)).as("n_events"))

  /** Edge detection with debounce.
    *
    * A candidate is any row whose boolean `flagCol` differs from the
    * previous row's of the same key (the first row only initializes —
    * `models.py:224-228`). A candidate is *valid* iff the previous
    * candidate of the same key (valid or suppressed) is more than
    * `debounceSec` older — the reference's "suppressed bounce still
    * resets the clock" subtlety (`models.py:268-270`).
    *
    * Returns the valid candidates: key, time, flag (the new value).
    */
  def detectTransitions(
      df: DataFrame,
      keyCol: Column,
      timeCol: Column,
      flagCol: Column,
      debounceSec: Double,
      tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(timeCol.cast("timestamp"), tieBreak)
    val prev = lag(flagCol, 1).over(w)
    val candidates = df
      .withColumn("__prev", prev)
      .where(col("__prev").isNotNull && col("__prev") =!= flagCol)

    val wc = Window.partitionBy(keyCol).orderBy(timeCol.cast("timestamp"), tieBreak)
    val prevCandT = lag(unix_micros(timeCol.cast("timestamp")), 1).over(wc)
    candidates
      .withColumn("__prev_t", prevCandT)
      .where(col("__prev_t").isNull ||
        unix_micros(timeCol.cast("timestamp")) - col("__prev_t") >
          (debounceSec * 1e6).toLong)
      .select(
        keyCol.as("key"),
        timeCol.cast("timestamp").cast("timestamp_ntz").as("time"),
        flagCol.as("flag"))
  }
}
