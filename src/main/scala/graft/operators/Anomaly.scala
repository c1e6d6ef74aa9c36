package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer-exact population-outlier detection over a money-like value
  * column — the "drop corrupt datapoints" gate a training-data ingest
  * runs before rows join a feature store.
  *
  * Over fixed-point cents c with per-group n, S=Σc, Q=Σc², a point is
  * an outlier iff it sits strictly more than 2 population standard
  * deviations from the group mean:
  *
  *   z² > 4  ⇔  (n·c − S)² > 4·(n·Q − S²)
  *
  * — no sqrt, no float mean, so the decision boundary can never flip
  * across engines or partitionings, and a zero-variance group (the
  * right-hand side is 0) flags nothing under the strict inequality.
  * Interior products reach ~1e20 at sf0.1 and ~1e33 at petabyte row
  * counts — still inside decimal(38,0) (≡ HUGEINT in the DuckDB
  * oracle for `qq_value_anomaly`, which pins this arithmetic).
  *
  * Scale shape: [[referenceStats]] is one map-side-combinable pass;
  * the |groups|-row stats table broadcasts into [[flag]] — no window,
  * no self-join.
  */
object Anomaly {

  /** Largest |value| (dollars) the fixed-point convention represents
    * EXACTLY: cents = value·100 must stay below 2^53 (double mantissa)
    * or the floor itself is lossy, long before the long cast saturates
    * at ~9.2e16 dollars. Rows beyond this bound are un-representable
    * in the gate's arithmetic, so [[flag]] quarantines them outright
    * (fail closed) rather than scoring saturated cents. */
  val MaxAbsValue: Double = 9e13

  /** value → fixed-point cents, the repo's money convention
    * (floor(+0.5): Spark's double→long cast truncates where DuckDB's
    * rounds, so round explicitly before the cast). Exact only for
    * |value| ≤ [[MaxAbsValue]]; beyond it Spark's non-ANSI cast
    * saturates silently where DuckDB's errors — callers on untrusted
    * data must bound-check first, as [[flag]] does. */
  def cents(valueCol: Column): Column =
    floor(valueCol * 100 + 0.5).cast("long")

  /** Per-group population stats (n, Σc, Σc²), decimal(38,0) so the
    * downstream products stay exact. Output columns:
    * (event_type, n, s_sum, q_sum). */
  def referenceStats(df: DataFrame, typeCol: Column,
      valueCol: Column): DataFrame = {
    val d = cents(valueCol).cast("decimal(38,0)")
    df.groupBy(typeCol.as("event_type")).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(d).as("s_sum"), sum(d * d).as("q_sum"))
  }

  /** The strict-2σ predicate, pure column arithmetic over a cents
    * column and the [[referenceStats]] columns. */
  def outlier(c: Column, n: Column, s: Column, q: Column): Column = {
    val dev = n * c.cast("decimal(38,0)") - s
    dev * dev > lit(4).cast("decimal(38,0)") * (n * q - s * s)
  }

  /** Row-level flagging against (possibly static/historic) stats:
    * appends `is_anomaly`. Same (type, value) surface as
    * [[referenceStats]] — `typeName` is the df column the stats key
    * joins on (stats' own key column is always `event_type` and is
    * renamed to match), so the pair cannot be used asymmetrically.
    *
    * Decision ladder, fail-closed on arithmetic edges:
    *  - |value| > [[MaxAbsValue]] → ANOMALOUS. The cents cast would
    *    silently saturate (and its square can blow decimal(38,0));
    *    a poison magnitude is exactly what the gate exists to stop.
    *  - group absent from stats → ADMITTED. A quarantine gate must
    *    not reject rows it has no evidence against; re-snapshot the
    *    stats to pick new groups up.
    *  - z² predicate NULL with stats present (decimal(38,0) overflow
    *    of an interior product under non-ANSI arithmetic) →
    *    ANOMALOUS. Overflow means the value sits far outside the
    *    group's representable envelope; admitting it would let the
    *    MOST extreme rows through.
    */
  def flag(df: DataFrame, stats: DataFrame,
      typeName: String = "event_type",
      valueCol: Column = col("value")): DataFrame =
    df.join(broadcast(stats.withColumnRenamed("event_type", typeName)),
        Seq(typeName), "left")
      .withColumn("is_anomaly",
        // NULL value: admitted — matches the SQL-oracle CASE WHEN
        // semantics; screening NULLs is upstream schema validation's
        // job, not the magnitude gate's.
        when(valueCol.isNull, lit(false))
          .when(abs(valueCol) > MaxAbsValue, lit(true))
          .when(col("n").isNull, lit(false))
          .otherwise(coalesce(outlier(cents(valueCol), col("n"),
            col("s_sum"), col("q_sum")), lit(true))))
      .drop("n", "s_sum", "q_sum")
}
