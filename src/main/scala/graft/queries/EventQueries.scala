package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsOfJoin, Histogram, PeakHour, Paths, RangeJoin, Sessionize, Dedup}

/** Bindings of the reference's analytics surface (SURVEY.md §2.4) onto
  * the driver's `events` table (`ts` plays `time`, `user_id` plays
  * `flight_id`, `event_id` the surrogate id, `event_type='purchase'`
  * the landings stream, `'signup'` the takeoffs stream).
  *
  * Every entry has a DuckDB oracle; columns are aliased identically on
  * both sides (the driver hashes by column name). Counts are BIGINT on
  * both sides; timestamps TIMESTAMP_NTZ/naive.
  */
object EventQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1: gap-filled hourly histogram over the whole month. The scan
    // is pre-ranged to the spine's UTC span (incl. the +23h spine
    // extension) so row-group pruning happens below the histogram —
    // its own range predicate sits on the derived bin time and is
    // exactness-only (Histogram scaladoc).
    "q1_events_histogram" -> ((s, dir) =>
      Histogram.eventsHistogram(
        Tables.eventsRanged(s, dir, "2024-01-01 00:00:00",
          "2024-02-01 00:00:00"),
        col("ts"), col("event_id"),
        "2024-01-01 00:00:00", "2024-01-31 00:00:00", "hour")),

    // Q2: gap-filled daily histogram binned in Europe/Paris local
    // time. Pushdown range = the local bin span widened ±1 day (a
    // correct UTC superset for any tz, the q5 convention); the exact
    // local predicate stays inside the histogram.
    "q2_histogram_tz" -> ((s, dir) =>
      Histogram.eventsHistogram(
        Tables.eventsRanged(s, dir, "2023-12-31 00:00:00",
          "2024-02-01 00:00:00"),
        col("ts"), col("event_id"),
        "2024-01-01 00:00:00", "2024-01-30 00:00:00", "day",
        Some("Europe/Paris"))),

    // Q3: plain hourly histogram of one day of purchases (no gap fill).
    // eventsRanged pushes the [day, day+1) range to the parquet scan.
    "q3_hourly_hist" -> ((s, dir) =>
      Histogram.simpleHistogram(
        Tables.eventsRanged(s, dir, "2024-01-05 00:00:00", "2024-01-06 00:00:00")
          .where(col("event_type") === "purchase" &&
            Histogram.onDay(col("ts"), "2024-01-05")),
        col("ts"), "hour")),

    // Q4: day slice scan, ordered (pushdown via ts_ns range).
    "q4_day_slice" -> ((s, dir) =>
      Tables.eventsRanged(s, dir, "2024-01-05 00:00:00", "2024-01-06 00:00:00")
        .where(Histogram.onDay(col("ts"), "2024-01-05"))
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("time"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy(col("time"), col("event_id"))),

    // Q5: Paris-local half-open date-range scan. The pushdown range is
    // the local range widened by ±1 day (correct superset for any tz);
    // the exact local predicate stays on `ts`.
    "q5_range_tz" -> ((s, dir) =>
      Tables.eventsRanged(s, dir, "2024-01-09 00:00:00", "2024-01-16 00:00:00")
        .where(Histogram.localDateRange(col("ts"), "2024-01-10", "2024-01-15",
          "Europe/Paris"))
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("time"),
          col("user_id"), col("event_type"))
        .orderBy(col("time"), col("event_id"))),

    // Q6: trailing-hour sliding-window peak per Paris-local day.
    "q6_peak_hour" -> ((s, dir) =>
      PeakHour.peakHours(
        ev(s, dir).where(col("event_type") === "purchase"), col("ts"))),

    // Q6 full composition — the reference's exact peak_hour_all
    // surface (create_public_schema.sql:346-376): UNION DISTINCT of
    // the two event streams (landings ∪ takeoffs analog) bounded to a
    // startdate/enddate local-day slice, then the per-day peak. The
    // padded eventsRanged scan keeps parquet pushdown on ts_ns.
    "q9_peak_hour_all" -> ((s, dir) => {
      val e = Tables.eventsRanged(s, dir,
        "2024-01-07 00:00:00", "2024-01-23 00:00:00")
      def side(t: String) = e.where(col("event_type") === t)
        .select(col("user_id"), col("ts"))
      PeakHour.peakHoursAll(side("purchase"), side("signup"), col("ts"),
        "2024-01-08 00:00:00", "2024-01-22 00:00:00")
    }),

    // Q7: UNION DISTINCT of the two event streams.
    "q7_union_distinct" -> ((s, dir) => {
      val e = ev(s, dir)
      // day as yyyy-MM-dd string: DATE columns round-trip differently
      // through parquet/pandas than DuckDB DATE results.
      val a = e.where(col("event_type") === "purchase")
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      val b = e.where(col("event_type") === "signup")
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      a.union(b).distinct().orderBy(col("user_id"), col("day"))
    }),

    // Q8/Q9: time-ordered per-user path emitted as GeoJSON LineString.
    "q8_user_paths" -> ((s, dir) =>
      Paths.pathGeoJson(ev(s, dir), col("user_id"), col("ts"),
        col("event_id"), col("value"),
        get_json_object(col("props"), "$.k").cast("double"), precision = 2)
        .orderBy(col("key"))),

    // Q10: set-returning fan-out — requested ids exploded and joined.
    "q10_path_fanout" -> ((s, dir) =>
      Paths.fanout(0L to 9L,
        Paths.pathGeoJson(ev(s, dir), col("user_id"), col("ts"),
          col("event_id"), col("value"),
          get_json_object(col("props"), "$.k").cast("double"), precision = 2))
        .orderBy(col("key"))),

    // Q11-shaped: expression equi-join enrichment against a broadcast dim
    // (json-extracted key, like the reference's SUBSTRING(callsign) join).
    "q11_expr_enrich" -> ((s, dir) => {
      val e = ev(s, dir)
      val cust = Tables.load(s, dir, "customer")
      e.join(broadcast(cust),
          get_json_object(col("props"), "$.k").cast("bigint") + 1 ===
            col("c_custkey"), "left")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_name"), col("c_mktsegment"))
        .orderBy(col("event_id"))
    }),

    // Q12: maintenance dedup — keep the latest event per (user, type).
    "q12_dedup_latest" -> ((s, dir) =>
      Dedup.keepOnePerGroup(ev(s, dir),
          Seq(col("user_id"), col("event_type")),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("time"))
        .orderBy(col("user_id"), col("event_type"))),

    // T1-T3: gap-based sessionization (300 s analog → 1800 s here).
    "q13_sessionize" -> ((s, dir) =>
      Sessionize.sessionSummary(ev(s, dir), col("user_id"), col("ts"),
          1800L, col("event_id"))
        .orderBy(col("key"), col("session_seq"))),

    // qj: weekly retention cohorts — the warehouse staple: users
    // bucket into the week they first appeared, and each later active
    // week counts them at its offset. Both groupBys are map-side
    // combinable; the per-user first-seen table joins back on
    // user_id (shuffle join at scale — cohorts are not broadcastable).
    "qj_retention_cohorts" -> ((s, dir) => {
      val e = ev(s, dir)
      val firstSeen = e.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val active = e
        .select(col("user_id"), date_trunc("week", col("ts")).as("activity_week"))
        .distinct()
      active.join(firstSeen, Seq("user_id"))
        .groupBy(col("cohort_week"),
          expr("datediff(activity_week, cohort_week) div 7").as("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
        // ntz like every other timestamp output (parquet TIMESTAMP is
        // UTC-adjusted; the oracle's week starts are naive)
        .select(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
          col("weeks_since"), col("n_users"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    }),

    // qu: cohort REVENUE LTV — qj's weekly signup cohorts carried to
    // money: per (cohort_week, weeks_since), purchase revenue and the
    // cohort's cumulative (lifetime-to-date) revenue, in integer
    // cents end to end (the qe convention: floor(+0.5) per row, sums
    // never touch doubles). Scale shape: first-seen per user is a
    // map-side-combinable min; the purchase join ships (user, week,
    // cents); the cumulative window partitions by cohort_week over
    // ≤ |weeks| rows — metadata-sized, never a global window.
    "qu_cohort_ltv" -> ((s, dir) => {
      val e = ev(s, dir)
      val firstSeen = e.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val rev = e.where(col("event_type") === "purchase")
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"),
          cents.as("c"))
        .join(firstSeen, Seq("user_id"))
        .groupBy(col("cohort_week"),
          expr("datediff(w, cohort_week) div 7").as("weeks_since"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("c")).as("revenue_cents"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cohort_week")).orderBy(col("weeks_since"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      rev
        .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(win))
        .select(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
          col("weeks_since"), col("n_purchases"), col("revenue_cents"),
          col("cum_revenue_cents"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    }),

    // qx: funnel time-to-convert — for users who complete qv's
    // funnel, the distribution of (last-step ts − entry ts): median
    // and p90 conversion latency plus the converted count. The
    // latency is exact integer MICROSECONDS on both engines
    // (unix_micros / epoch_us — a seconds-truncate-then-subtract
    // would disagree with a boundary-crossing datediff on sub-second
    // timestamps), fed to the ql exact-percentile kernel
    // ([[graft.operators.Percentiles.perGroup]]; the 100× caller
    // flips exact=false for the sketch-mergeable plan). Scale shape:
    // qv's per-step min-agg chain (already share()-bounded) plus one
    // |converted|-row percentile aggregation.
    "qx_funnel_latency" -> ((s, dir) => {
      val d = graft.operators.Funnel.userDepth(ev(s, dir),
        col("user_id"), col("event_type"), col("ts"),
        Seq("view", "click", "purchase"), "24 hours")
      graft.operators.Percentiles.perGroup(
        d.where(col("depth") === 3)
          .select(lit("view>click>purchase").as("funnel"),
            (unix_micros(col("t_last")) - unix_micros(col("t1")))
              .as("latency_us")),
        col("funnel"), col("latency_us"), Seq(0.5, 0.9), exact = true)
    }),

    // qy: first-order Markov transition matrix over the per-user
    // event sequence — P(next = B | current = A) for every observed
    // type pair, the navigation-flow readout (and the generative
    // model behind next-event prediction baselines). Consecutive
    // pairs come from ONE lead() window ordered (ts, event_id) — the
    // event_id tiebreak makes equal-timestamp neighbors
    // deterministic on both engines. Scale shape: one user-keyed
    // shuffle for the window (co-partitioned storage makes it free),
    // then the pair counts collapse map-side to a ≤|types|² matrix;
    // row totals re-aggregate that matrix and broadcast back, so
    // nothing bigger than the matrix moves after the window.
    "qy_markov_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = Dedup.share(ev(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur_type"))
        .withColumn("next_type", lead(col("cur_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("cur_type"), col("next_type"))
        .agg(count(lit(1)).as("n_transitions")))
      val totals = pairs.groupBy(col("cur_type"))
        .agg(sum(col("n_transitions")).as("n_out"))
      pairs.join(broadcast(totals), Seq("cur_type"))
        .select(col("cur_type"), col("next_type"), col("n_transitions"),
          col("n_out"),
          round(col("n_transitions").cast("double") / col("n_out"), 6)
            .as("p_next"))
        .orderBy(col("cur_type"), col("next_type"))
    }),

    // qz: CUSUM changepoint detection on the per-type daily event
    // rate — the page-style drift alarm: S_k = max(0, S_{k−1} +
    // (x_k − μ − σ/2)), flag when S exceeds 4σ. The recursion is
    // realized CLOSED-FORM as a prefix sum minus its running min
    // (S_k = P_k − min(0, min_{j≤k} P_j)) — two windows, no fold, no
    // driver loop. Exactness discipline: μ and σ derive from integer
    // Σx / Σx² (σ² = (n·Σx² − (Σx)²)/n², never a float Σ(x−μ)²
    // whose accumulation order differs per engine), then the whole
    // CUSUM state goes fixed-point micro-units (d = x·1e6 − ⌊μ·1e6⌋
    // − ⌊σ·1e6⌋ div 2) so the running sums are INTEGER and immune to
    // per-engine float summation trees. Scale shape: daily counts
    // are one map-side-combinable agg; stats broadcast back
    // (|types| rows); the windows run per type over |days| rows.
    "qz_cusum_changepoint" -> ((s, dir) =>
      graft.operators.Cusum.detect(
          ev(s, dir)
            .groupBy(col("event_type"),
              date_trunc("day", col("ts")).as("day"))
            .agg(count(lit(1)).as("n_events")),
          col("event_type"), col("day"), col("n_events"))
        .select(col("key").as("event_type"),
          col("ord").cast("timestamp_ntz").as("day"),
          col("x").as("n_events"), col("cusum"), col("flagged"))
        .orderBy(col("event_type"), col("day"))),

    // qw: the weekly retention triangle — THE product-analytics
    // table: cohort = first-seen week (qu's convention), cell
    // (cohort, k) = distinct users of that cohort active in ANY way
    // k weeks later, as count + fraction of the cohort. Completes
    // the engagement suite: qr is calendar-aligned DAU/WAU, qu is
    // cohort revenue, this is cohort SURVIVAL. Scale shape: the
    // (user, week) distinct is one map-side-combinable pass; cohorts
    // broadcast back (|weeks| rows); per-cell rows are unique after
    // the distinct so the cell count is a plain count, no
    // count-distinct shuffle.
    "qw_retention" -> ((s, dir) => {
      val e = ev(s, dir)
      val firstSeen = e.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      val sizes = firstSeen.groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_cohort"))
      val act = e.select(col("user_id"),
          date_trunc("week", col("ts")).as("w")).distinct()
      act.join(firstSeen, Seq("user_id"))
        .groupBy(col("cohort_week"),
          expr("datediff(w, cohort_week) div 7").as("weeks_since"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
          col("weeks_since"), col("n_active"), col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort"), 6)
            .as("retention"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    }),

    // qv: windowed funnel ([[Funnel.summary]] — the ClickHouse
    // windowFunnel / Amplitude semantic): per-user greedy
    // earliest-match of view → click → purchase with the 24 h
    // conversion window anchored at the user's FIRST view, then the
    // per-step cohort counts and conversion rates. Distinct from
    // qk's funnel, which is bounded to a 30-min session; this one
    // spans sessions and anchors the clock at entry — the
    // campaign-conversion readout. Scale shape: no per-user sequence
    // assembly (no collect_list/UDF) — one min-agg + user-key
    // equi-join per step, all sharing the key; the summary is a
    // ≤3-row aggregate.
    "qv_window_funnel" -> ((s, dir) =>
      graft.operators.Funnel.summary(ev(s, dir), col("user_id"),
        col("event_type"), col("ts"),
        Seq("view", "click", "purchase"), "24 hours")),

    // qk: in-session conversion funnel (view → click → purchase,
    // strictly ordered WITHIN the 30-min session): stage timestamps
    // resolve in three conditional-min passes — each stage's min ts
    // must be at or after the previous stage's — then sessions roll
    // up per start date. Same session definition as q13.
    "qk_session_funnel" -> ((s, dir) => {
      // one session definition in the library: q13's helper, not a
      // second hand-rolled copy that could drift on the gap boundary
      // materialize the stage boundary: the session window subtree
      // feeds FOUR aggregations (starts/v/c/p) — exchange reuse
      // usually covers this, but pinning it is the p8 convention.
      // Eager localCheckpoint: its job reports to live SQL-metric
      // accumulators, and its blocks self-reclaim (no cache entry).
      val sess = Sessionize.withSessionId(ev(s, dir), col("user_id"),
          col("ts"), 1800L, col("event_id"))
        .select(col("user_id"), col("session_seq"), col("ts"),
          col("event_type"))
        .localCheckpoint(true)
      val keys = Seq("user_id", "session_seq")
      val starts = sess.groupBy(keys.head, keys.tail: _*)
        .agg(min(col("ts")).as("s_ts"))
      val v = sess.where(col("event_type") === "view")
        .groupBy(keys.head, keys.tail: _*).agg(min(col("ts")).as("v_ts"))
      val c = sess.join(v, keys)
        .where(col("event_type") === "click" && col("ts") >= col("v_ts"))
        .groupBy(keys.head, keys.tail: _*).agg(min(col("ts")).as("c_ts"))
      val p = sess.join(c, keys)
        .where(col("event_type") === "purchase" && col("ts") >= col("c_ts"))
        .groupBy(keys.head, keys.tail: _*).agg(min(col("ts")).as("p_ts"))
      starts
        .join(v, keys, "left").join(c, keys, "left").join(p, keys, "left")
        .groupBy(date_format(col("s_ts"), "yyyy-MM-dd").as("session_date"))
        .agg(count(lit(1)).as("n_sessions"),
          count(col("v_ts")).as("n_view"),
          count(col("c_ts")).as("n_click_after_view"),
          count(col("p_ts")).as("n_purchase_funnel"))
        .orderBy(col("session_date"))
    }),

    // qm: per-user FEATURE SNAPSHOT at a cutoff — the feature-store
    // "materialize a training table" op: lifetime + trailing-7d
    // activity counts, fixed-point purchase value, last-seen. One
    // map-side-combinable groupBy over a time-sliced scan; no joins,
    // no windows — the cheapest shape there is at 100 TB.
    "qm_user_features" -> ((s, dir) => {
      val cutoff = lit("2024-01-31 00:00:00").cast("timestamp")
      val day7 = lit("2024-01-24 00:00:00").cast("timestamp")
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      ev(s, dir).where(col("ts") < cutoff)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
          count(when(col("ts") >= day7, 1)).as("n_events_7d"),
          count(when(col("event_type") === "purchase" && col("ts") >= day7,
            1)).as("n_purchases_7d"),
          sum(when(col("event_type") === "purchase", cents).otherwise(0L))
            .as("purchase_cents"),
          max(col("ts")).cast("timestamp_ntz").as("last_seen"))
        .orderBy(col("user_id"))
    }),

    // qn: POINT-IN-TIME-CORRECT per-label features — for every
    // purchase, the user's prior-behavior features strictly BEFORE
    // that purchase (ROWS ... 1 PRECEDING): the leakage-safe feature
    // join, computed as one cumulative window pass per user instead
    // of a per-label as-of self-join. User-partitioned window —
    // the q13 scale class, no global ordering anywhere.
    "qn_pit_features" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      ev(s, dir)
        .withColumn("n_prior", count(lit(1)).over(w))
        .withColumn("n_prior_views",
          count(when(col("event_type") === "view", 1)).over(w))
        .withColumn("prior_purchase_cents",
          coalesce(sum(when(col("event_type") === "purchase", cents))
            .over(w), lit(0L)))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("time"), col("n_prior"),
          col("n_prior_views"), col("prior_purchase_cents"))
        .orderBy(col("event_id"))
    }),

    // qo: LABEL generation — for each view, whether the same user
    // purchased within the following hour, plus the latency. The
    // forward-looking counterpart of qn (features look strictly back,
    // labels strictly forward — together they make a leakage-safe
    // training set): a per-user numeric RANGE window over epoch
    // micros, strictly-after frame (1 FOLLOWING), conditional min.
    // One pass per user; no self-join, no global ordering.
    "qo_conversion_labels" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
        .rangeBetween(1L, 3600L * 1000000L)
      ev(s, dir)
        .withColumn("tsu", unix_micros(col("ts")))
        .withColumn("npu",
          min(when(col("event_type") === "purchase", col("tsu"))).over(w))
        .where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("time"),
          col("npu").isNotNull.as("converted_1h"),
          coalesce(col("npu") - col("tsu"), lit(-1L)).as("latency_us"))
        .orderBy(col("event_id"))
    }),

    // qp: TEMPORAL train/test split with an embargo gap — the
    // leakage-safe split for time-ordered training data (p2's
    // content-hash split is the right tool for documents; for event
    // streams the split must be by TIME, and the embargo window
    // between train and test absorbs qn/qo's backward/forward
    // feature+label horizons so no example's features or labels
    // straddle the cut). Pure per-row projection; the two cutoffs
    // partition-prune when the sink is date-partitioned.
    "qp_temporal_split" -> ((s, dir) => {
      val t1 = lit("2024-01-20 00:00:00").cast("timestamp")
      val t2 = lit("2024-01-22 00:00:00").cast("timestamp")
      ev(s, dir)
        .select(col("event_id"),
          col("ts").cast("timestamp_ntz").as("time"),
          when(col("ts") < t1, "train")
            .when(col("ts") < t2, "embargo")
            .otherwise("test").as("split"))
        .orderBy(col("event_id"))
    }),

    // qq: distribution-outlier detection — per event_type, flag
    // values more than 2 population standard deviations from the
    // type mean (the "drop corrupt datapoints" gate every training-
    // data ingest runs). ENTIRELY in integer arithmetic: over cents
    // c with per-type n, S=Σc, Q=Σc², z² > 4 ⇔ (n·c − S)² >
    // 4·(n·Q − S²) — no sqrt, no float mean, so the boundary can
    // never flip cross-engine. Interior products reach ~1e20 at
    // sf0.1 (and ~1e33 at petabyte row counts — still inside 38
    // digits), hence decimal(38,0) here ≡ HUGEINT in the oracle.
    // Scale shape: one map-side-combinable stats pass, the |types|-row
    // stats table broadcasts back, second pass filters — no window,
    // no self-join.
    "qq_value_anomaly" -> ((s, dir) => {
      import graft.operators.Anomaly
      val e = ev(s, dir).select(col("event_type"), col("value"))
      val stats = Anomaly.referenceStats(e, col("event_type"), col("value"))
      Anomaly.flag(e, stats)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("is_anomaly"), 1)).as("n_anomalies"),
          coalesce(sum(when(col("is_anomaly"), Anomaly.cents(col("value")))),
            lit(0L)).as("anomaly_cents"))
        .orderBy(col("event_type"))
    }),

    // qr: rolling engagement — per activity day, DAU, trailing-7-day
    // WAU and the DAU/WAU stickiness ratio. Computed WITHOUT a
    // count-distinct-over-window (not incrementally mergeable): the
    // deduped (user, day) activity table — already orders of
    // magnitude smaller than events — fans each active day out to the
    // ≤7 window days it contributes to, and a plain distinct count
    // per window day finishes it. Scale shape: one dedup shuffle, a
    // bounded ×7 generator, one count-distinct aggregation keyed by
    // day; no global window, no self-join. Days with zero activity
    // have no DAU row and are omitted (spine-join gap-fill is Q1's
    // job; engagement dashboards key on active days).
    "qr_active_users" -> ((s, dir) => {
      val ud = ev(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(explode(sequence(col("day"), date_add(col("day"), 6)))
          .as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, Seq("day"))
        // day emits as midnight TIMESTAMP_NTZ: pandas renders an
        // arrow date32 and a DuckDB DATE differently, so both engines
        // agree on the timestamp form instead
        .select(col("day").cast("timestamp_ntz").as("day"), col("dau"),
          col("wau"),
          round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
        .orderBy(col("day"))
    }),

    // qt: recency-DECAYED engagement features — per user at the qm
    // cutoff, event count plus half-life-weighted activity scores
    // (7-day half-life: an event 7 days before the cutoff counts
    // 0.5, 14 days 0.25 — the standard recency weighting a ranking
    // feature store serves instead of raw counts). Each event's
    // weight goes fixed-point (floor(0.5^(Δ/7d)·1e6), the ln/pow
    // discipline: per-row doubles are engine-identical, sums are
    // integer and order-free). Scale shape: qm's exact class — one
    // map-side-combinable groupBy over a time-sliced scan, no joins,
    // no windows.
    "qt_decay_features" -> ((s, dir) => {
      val cutoff = lit("2024-01-31 00:00:00").cast("timestamp")
      val w = floor(pow(lit(0.5d),
        (unix_micros(cutoff) - unix_micros(col("ts"))) /
          lit(604800000000.0d)) * 1000000.0d).cast("long")
      ev(s, dir).where(col("ts") < cutoff)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(w).as("decay_fx"),
          coalesce(sum(when(col("event_type") === "purchase", w)), lit(0L))
            .as("purchase_decay_fx"))
        .orderBy(col("user_id"))
    }),

    // qs: inter-event GAP percentiles — per event_type, the p50/p95
    // of the seconds since the same user's previous event (the gap
    // attributed to the later event): the latency-distribution
    // readout behind session-timeout and staleness tuning. Gaps come
    // from ONE user-partitioned lag window (the q13 scale class — no
    // self-join, no global ordering); the percentile is the ql
    // operator (exact interpolated here; the 100 TB caller flips
    // `exact = false` on the same API for the sketch-mergeable plan).
    // Gap arithmetic stays in integer micros until a single shared
    // double division, so both engines interpolate identical values.
    "qs_event_gaps" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val g = ev(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .where(col("prev_us").isNotNull)
        .select(col("event_type"),
          ((unix_micros(col("ts")) - col("prev_us")) / 1000000.0d)
            .as("gap_s"))
      graft.operators.Percentiles.perGroup(g, col("event_type"),
        col("gap_s"), Seq(0.5, 0.95), exact = true)
    }),

    // T5/T6: flag-flip transition detection with debounce (the
    // "suppressed bounce resets the clock" semantics).
    "q14_transitions" -> ((s, dir) =>
      Sessionize.detectTransitions(ev(s, dir), col("user_id"), col("ts"),
          col("event_type") === "purchase", 3600.0, col("event_id"))
        .orderBy(col("key"), col("time"))),

    // Q13: materialized path view analog — DISTINCT per-(user, day)
    // paths over the current-week slice, built once and cacheable.
    "q15_matview_paths" -> ((s, dir) => {
      val e = ev(s, dir).where(
        col("ts") >= lit("2024-01-22 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-29 00:00:00").cast("timestamp"))
      e.groupBy(col("user_id").as("key"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(concat(
          lit("{\"type\":\"LineString\",\"coordinates\":["),
          array_join(transform(
            array_sort(collect_list(struct(
              col("ts").as("t"), col("event_id").as("o"),
              format_string("[%.2f,%.2f]", col("value"),
                get_json_object(col("props"), "$.k").cast("double"))
                .as("fmt")))),
            p => p("fmt")), ","),
          lit("]}")).as("path"))
        .distinct()
        .orderBy(col("key"), col("day"))
    }),

    // As-of join (SURVEY §2.5 beyond-parity): attribute each purchase
    // to the user's latest preceding click. One shuffle by user_id +
    // one ordered window pass; the DuckDB oracle is a native ASOF
    // LEFT JOIN, so the nearest-preceding semantics (incl. ties at
    // equal timestamps and no-preceding-click nulls) are cross-checked
    // engine-to-engine.
    "q16_asof_attribution" -> ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      // Dedupe to max click_id per (user, instant) BEFORE the as-of:
      // DuckDB's ASOF leaves the chosen row unspecified on duplicate
      // timestamps, so the oracle comparison is only deterministic once
      // both engines resolve the tie the same way up front.
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"))
      AsOfJoin.asOf(purchases, clicks,
          leftKey = "user_id", rightKey = "user_id",
          leftTime = "ts", rightTime = "click_ts",
          payload = Seq("click_id", "click_ts"))
        .select(col("purchase_id"), col("user_id"), col("ts"),
          col("asof.click_id").as("click_id"),
          col("asof.click_ts").as("click_ts"))
        .orderBy(col("purchase_id"))
    }),

    // JSON parsing (§2.5 notes the reference only EMITS JSON; a
    // training pipeline also parses it): typed extraction from the
    // props payload with schema-on-read, aggregated per event type.
    "q18_json_props" -> ((s, dir) => {
      val e = ev(s, dir)
      e.select(col("event_type"),
          expr("from_json(props, 'k INT').k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).cast("long").as("max_k"))
        .orderBy(col("event_type"))
    }),

    // Pivot/conditional aggregation: per-user event-type counts as
    // columns (the oracle-checked twin of the rows-only ADS-B census).
    "q19_pivot_census" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))),

    // Range join (SURVEY §2.5 beyond-parity): errors landing inside
    // each click-session window. The binned equi-join shape — NOT
    // a BETWEEN inequality join (which plans a per-key cross product).
    // Click sessions with a 12 h gap: the driver's event stream is
    // sparse (~0.5 events/user/day), so tighter gaps collapse every
    // session to a point and the join is vacuously empty — this
    // setting yields a non-empty, non-trivial result at sf0.01.
    "q17_range_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val sessions = Sessionize.sessionSummary(
          e.where(col("event_type") === "click"),
          col("user_id"), col("ts"), 43200L, col("event_id"))
        .select(col("key"), col("session_seq"),
          col("session_start"), col("session_end"))
      val errors = e.where(col("event_type") === "error")
        .select(col("user_id").as("err_user"), col("ts").as("err_ts"))
      RangeJoin.pointInInterval(errors, sessions,
          pointKey = "err_user", intervalKey = "key",
          pointTime = "err_ts", startCol = "session_start",
          endCol = "session_end", binSec = 43200L)
        .groupBy(col("key"), col("session_seq"),
          col("session_start"), col("session_end"))
        .agg(count(lit(1)).as("n_errors"))
        .orderBy(col("key"), col("session_seq"))
    }),

    // sk2: KMV (k-minimum-values) distinct-count sketch — per
    // event_type cardinality of users from only the k=64 smallest
    // portable hashes: est = (k−1)·2⁶⁰ / h₍ₖ₎ (Bar-Yossef et al.
    // 2002), computed in exact integer arithmetic (decimal(38,0)
    // here, HUGEINT in the oracle — (a − a mod b)/b is a true floor
    // divide, no float quotient exists to round differently). Groups
    // holding fewer than k hashes are exact by construction. The
    // `exact`/`err_ppm` columns are the eval harness — at 100 TB
    // only the sketch side runs: per-group state is the k smallest
    // hashes (map-side combinable dedup, then a bounded per-group
    // rank), never the distinct-user set.
    "sk2_kmv_distinct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      // (k-1) * 2^60 — exceeds Long, so built as a decimal literal.
      val a = lit(new java.math.BigDecimal("72634054790231359488"))
        .cast("decimal(38,0)")
      val dh = ev(s, dir)
        .select(col("event_type"),
          graft.functions.PortableHash
            .phashStr(col("user_id").cast("string")).as("h"))
        .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("_n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val perType = dh.withColumn("rn", row_number().over(w))
        .where(col("rn") <= k)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"))
      val est = when(col("n_kept") < k, col("n_kept").cast("long"))
        .otherwise(((a - a % col("hk")) / col("hk")).cast("long"))
      val exact = ev(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact"))
      perType.join(exact, Seq("event_type"))
        .select(col("event_type"), est.as("est"), col("exact"),
          floor(abs(est - col("exact")) * 1000000L / col("exact"))
            .as("err_ppm"))
        .orderBy(col("event_type"))
    }),

    // sk3: HyperLogLog distinct-count sketch (Flajolet et al. 2007) —
    // sk2's mergeable counterpart with O(m)=256 registers instead of
    // k minimum VALUES. Unlike KMV it needs no pre-dedup: the
    // register is max(ρ) and max is duplicate-insensitive, so the
    // whole sketch is ONE map-side-combinable pass. The 60-bit
    // portable hash splits into bucket = h mod 256 and a 52-bit
    // suffix w; ρ = 53 − bitlength(w) (53 when w = 0) — bitlength via
    // `bin()`, which both engines print unpadded. The estimate
    // α·m²/Σ2^−M is computed entirely in integers: Σ2^(53−M) (each
    // term an exact long, total ≤ 256·2⁵³ < 2⁶³) scales the harmonic
    // sum, α lives as the ppm literal 718273 = round(10⁶·0.7213/
    // (1+1.079/256)), and the final division is the sk2 decimal
    // floor-divide — no float exists anywhere to round differently.
    // At 100 TB the per-group state is 256 longs, the groupBy
    // combines map-side, and sketches from disjoint partitions merge
    // by register-max (the property sk2's rank-window lacks).
    // `exact`/`err_ppm` are the eval harness, dropped in production.
    "sk3_hll_distinct" -> ((s, dir) => {
      val m = 256
      // α_ppm · m² · 2⁵³ — the estimator numerator as one exact
      // integer constant (≈4.24e26, inside decimal(38,0)).
      val num = lit(new java.math.BigDecimal(
          (BigInt(718273) * m * m * BigInt(2).pow(53)).bigInteger))
        .cast("decimal(38,0)")
      val pow53 = 9007199254740992L // 2^53
      val regs = ev(s, dir)
        .select(col("event_type"),
          graft.functions.PortableHash
            .phashStr(col("user_id").cast("string")).as("h"))
        .select(col("event_type"), (col("h") % m).as("b"),
          // shiftrightunsigned = exact h div 256: floor(h/m) in DOUBLE
          // loses bits past the 53-bit mantissa on 60-bit hashes
          shiftrightunsigned(col("h"), 8).as("w"))
        .select(col("event_type"), col("b"),
          when(col("w") === 0L, lit(53))
            .otherwise(lit(53) - length(bin(col("w"))))
            .cast("int").as("rho"))
        .groupBy(col("event_type"), col("b"))
        .agg(max(col("rho")).as("M"))
      val perType = regs.groupBy(col("event_type"))
        .agg(sum(expr("shiftleft(cast(1 as bigint), 53 - M)"))
            .as("s_used"),
          count(lit(1)).as("n_regs"))
        .select(col("event_type"),
          // Σ ≤ 256·2⁵³ fits a long; the ×10⁶ does NOT — widen first.
          ((col("s_used") + (lit(m) - col("n_regs")) * pow53)
            .cast("decimal(38,0)") * 1000000L)
            .cast("decimal(38,0)").as("den"))
      val est = ((num - num % col("den")) / col("den")).cast("long")
      val exact = ev(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact"))
      perType.join(exact, Seq("event_type"))
        .select(col("event_type"), est.as("est"), col("exact"),
          floor(abs(est - col("exact")) * 1000000L / col("exact"))
            .as("err_ppm"))
        .orderBy(col("event_type"))
    }),

    // sk8: HLL register MERGE — the property that makes sk3 a
    // 100 TB operator, made gate-visible. Distinct users are
    // sketched PER DAY (the partition/epoch unit a real pipeline
    // checkpoints), the daily 256-register vectors merge by
    // register-max, and the merged estimate is compared against the
    // one-pass direct estimate: max is associative, so the two MUST
    // be equal to the last integer — `merge_equal` is the sketch
    // algebra proven in both engines, not an approximation claim
    // (err_ppm vs exact carries that part). At 100 TB this is the
    // difference between re-scanning history for every distinct
    // count and adding 256 longs per epoch.
    "sk8_hll_merge" -> ((s, dir) => {
      val m = 256
      val num = lit(new java.math.BigDecimal(
          (BigInt(718273) * m * m * BigInt(2).pow(53)).bigInteger))
        .cast("decimal(38,0)")
      val pow53 = 9007199254740992L // 2^53
      val hashed = ev(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          graft.functions.PortableHash
            .phashStr(col("user_id").cast("string")).as("h"))
        .select(col("event_type"), col("day"), (col("h") % m).as("b"),
          shiftrightunsigned(col("h"), 8).as("w")) // exact h div 256
        .select(col("event_type"), col("day"), col("b"),
          when(col("w") === 0L, lit(53))
            .otherwise(lit(53) - length(bin(col("w"))))
            .cast("int").as("rho"))
      val daily = hashed.groupBy(col("event_type"), col("day"), col("b"))
        .agg(max(col("rho")).as("M"))
      def estimate(regs: DataFrame, out: String): DataFrame =
        regs.groupBy(col("event_type"))
          .agg(sum(expr("shiftleft(cast(1 as bigint), 53 - M)"))
              .as("s_used"),
            count(lit(1)).as("n_regs"))
          .select(col("event_type"),
            ((col("s_used") + (lit(m) - col("n_regs")) * pow53)
              .cast("decimal(38,0)") * 1000000L)
              .cast("decimal(38,0)").as("den"))
          .select(col("event_type"),
            ((num - num % col("den")) / col("den")).cast("long").as(out))
      val merged = estimate(daily.groupBy(col("event_type"), col("b"))
        .agg(max(col("M")).as("M")), "est_merged")
      val direct = estimate(hashed.groupBy(col("event_type"), col("b"))
        .agg(max(col("rho")).as("M")), "est_direct")
      val days = daily.select(col("event_type"), col("day")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
      val exact = ev(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact"))
      merged.join(direct, Seq("event_type"))
        .join(days, Seq("event_type"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("est_merged"),
          col("est_direct"),
          (col("est_merged") === col("est_direct")).as("merge_equal"),
          col("exact"),
          floor(abs(col("est_merged") - col("exact")) * 1000000L /
            col("exact")).as("err_ppm"))
        .orderBy(col("event_type"))
    }),

    // sk9: SLIDING-WINDOW distinct count from merged daily HLL
    // sketches — the mergeability property sk8 proves, doing the job
    // it exists for: trailing-7-day distinct users per day computed
    // by register-max over the per-day sketches, never by rescanning
    // seven days of events. This is THE production shape for windowed
    // cardinality at 100 TB — each day's events are sketched once
    // into 256 longs (one map-side-combinable pass per day, exactly
    // what an epoch checkpoint stores); every window estimate then
    // runs on the days×256-row register table, so a year of windows
    // costs the same corpus work as one day. The `exact` audit
    // column re-scans events per window (a deliberate 7× row fan-out
    // through the day range join) — at scale the audit is dropped
    // and the register table is all that exists; err_ppm stays
    // in-row so the sketch error is visible per window. Same exact-
    // integer estimator as sk3/sk8 (α·m²·2⁵³ decimal floor-divide),
    // so DuckDB rebuilds every register and estimate bit-for-bit.
    "sk9_hll_window" -> ((s, dir) => {
      val m = 256
      val num = lit(new java.math.BigDecimal(
          (BigInt(718273) * m * m * BigInt(2).pow(53)).bigInteger))
        .cast("decimal(38,0)")
      val pow53 = 9007199254740992L // 2^53
      val daily = ev(s, dir)
        .select(to_date(col("ts")).as("day"),
          graft.functions.PortableHash
            .phashStr(col("user_id").cast("string")).as("h"))
        .select(col("day"), (col("h") % m).as("b"),
          shiftrightunsigned(col("h"), 8).as("w")) // exact h div 256
        .select(col("day"), col("b"),
          when(col("w") === 0L, lit(53))
            .otherwise(lit(53) - length(bin(col("w"))))
            .cast("int").as("rho"))
        .groupBy(col("day"), col("b"))
        .agg(max(col("rho")).as("M"))
      // sketch-sized from here on: days × 256 register rows
      val days = daily.select(col("day")).distinct()
      val win = days.as("t").join(daily.as("s"),
        col("s.day").between(date_sub(col("t.day"), 6), col("t.day")))
      val est = win
        .groupBy(col("t.day").as("day"), col("s.b").as("b"))
        .agg(max(col("s.M")).as("M"))
        .groupBy(col("day"))
        .agg(sum(expr("shiftleft(cast(1 as bigint), 53 - M)"))
            .as("s_used"),
          count(lit(1)).as("n_regs"))
        .select(col("day"),
          ((col("s_used") + (lit(m) - col("n_regs")) * pow53)
            .cast("decimal(38,0)") * 1000000L)
            .cast("decimal(38,0)").as("den"))
        .select(col("day"),
          ((num - num % col("den")) / col("den")).cast("long")
            .as("est_window"))
      val nDays = win.groupBy(col("t.day").as("day"))
        .agg(countDistinct(col("s.day")).as("n_days_window"))
      val exact = days.as("t").join(
          ev(s, dir).select(to_date(col("ts")).as("eday"),
            col("user_id")).as("e"),
          col("e.eday").between(date_sub(col("t.day"), 6), col("t.day")))
        .groupBy(col("t.day").as("day"))
        .agg(countDistinct(col("user_id")).as("exact_window"))
      est.join(nDays, Seq("day")).join(exact, Seq("day"))
        // the qr convention: day emits as midnight TIMESTAMP_NTZ so
        // pandas renders both engines' column identically
        .select(col("day").cast("timestamp_ntz").as("day"),
          col("n_days_window"), col("est_window"),
          col("exact_window"),
          floor(abs(col("est_window") - col("exact_window")) * 1000000L /
            col("exact_window")).as("err_ppm"))
        .orderBy(col("day"))
    }),

    // sk10: BLOOM-FILTER membership pruning, audited — the
    // shuffle-free semi-join pre-filter (the classic 100 TB move: the
    // build side compresses to an m-bit array that BROADCASTS, and
    // the probe side filters map-side before any join shuffle
    // exists; Spark's own runtime row-level filtering is this exact
    // sketch, here rebuilt portably so DuckDB replays every bit).
    // Build: the first day's distinct users, k=2 seeded 60-bit
    // portable hashes mod m=256 — the SET of set positions IS the
    // filter (≤ m rows, sketch-sized, exactly what would broadcast).
    // Probe: every other day's distinct users; a probe passes iff
    // ALL k of its positions are set. Per probe day: probes, bloom
    // hits, exact members (the true semi-join), false positives and
    // the fp rate among true non-members in exact ppm. m is sized so
    // the filter runs ~65% full at the gate and false positives are
    // PLANTED by construction (~44% fp rate at sf0.01) — a 0-fp
    // green would prove nothing; no false negative can exist
    // (spec-asserted: hits ≥ members, a Bloom guarantee). Scale
    // shape: one distinct per side, a ≤m-row broadcast join, one
    // map-side-combinable per-day count — no corpus-sized shuffle
    // beyond the distincts.
    "sk10_bloom_membership" -> ((s, dir) => {
      import graft.functions.PortableHash.phash
      val m = 256
      val kh = 2
      // share() the three reused frames (the scan-budget rule: build
      // feeds bits + the exact audit, probes feeds the hit test, the
      // audit AND the per-day totals, d0 gates both sides — unshared,
      // the plan re-read events.parquet 10×, caught by
      // AnalysisSmokeSpec's tripwire)
      val e = ev(s, dir).select(to_date(col("ts")).as("day"),
        col("user_id").cast("string").as("uid"))
      val d0 = graft.operators.Dedup.share(
        e.agg(min(col("day")).as("day0")))
      val build = graft.operators.Dedup.share(
        e.join(broadcast(d0), col("day") === col("day0"))
          .select(col("uid")).distinct())
      // round-11: built/probed through the shared operators/Bloom —
      // the bits frame is unchanged bit-for-bit (same seeded hashes
      // mod m), and the probe is now the packed-word map-side
      // predicate instead of an explode+join+groupBy (one fewer
      // shuffle; identical pass/fail set, so the oracle's explicit
      // replay of the k-position test stays green)
      val bits = graft.operators.Bloom.bits(build, col("uid"), m, kh)
      val wm = graft.operators.Bloom.wordMap(bits)
      val probes = graft.operators.Dedup.share(
        e.join(broadcast(d0), col("day") =!= col("day0"))
          .select(col("day"), col("uid")).distinct())
      val hits = probes.crossJoin(broadcast(wm))
        .where(graft.operators.Bloom.mightContain(
          col("uid"), col("__bloom"), m, kh))
        .groupBy(col("day")).agg(count(lit(1)).as("bloom_hits"))
      val tm = probes.join(build, Seq("uid"), "left_semi")
        .groupBy(col("day")).agg(count(lit(1)).as("true_members"))
      probes.groupBy(col("day")).agg(count(lit(1)).as("n_probes"))
        .join(hits, Seq("day"), "left")
        .join(tm, Seq("day"), "left")
        .select(col("day"), col("n_probes"),
          coalesce(col("bloom_hits"), lit(0L)).as("bloom_hits"),
          coalesce(col("true_members"), lit(0L)).as("true_members"))
        .select(col("day").cast("timestamp_ntz").as("day"),
          col("n_probes"), col("bloom_hits"), col("true_members"),
          (col("bloom_hits") - col("true_members")).as("false_positives"),
          when(col("n_probes") > col("true_members"),
            expr("(1000000L * (bloom_hits - true_members)) div " +
              "(n_probes - true_members)")).as("fp_ppm"))
        .orderBy(col("day"))
    }),

    // sk4: KMV set-operation sketch (Beyer et al. 2007 / the theta-
    // sketch intersection) — distinct-USER OVERLAP between every
    // event_type pair from only the per-type k=64 minimum-hash
    // signatures. The union sketch of a pair is the k smallest of the
    // two signatures' union; Jaccard is estimated by the fraction of
    // those present in BOTH signatures, and |A∩B| = matches·est(∪)/k
    // — integer arithmetic end to end (est(∪) is sk2's exact decimal
    // floor-divide). The 100 TB shape is the point: after the one
    // sk2-style sketch pass, every pairwise set operation runs on
    // ≤64-row signatures — 5 types or 5,000 sources, the combine cost
    // never touches the corpus again (the tagged union below joins
    // type-pairs, metadata-sized, to signatures, sketch-sized).
    // `exact`/`err_ppm` audit against the true pairwise overlap.
    "sk4_kmv_intersect" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val a = lit(new java.math.BigDecimal("72634054790231359488"))
        .cast("decimal(38,0)") // (k−1)·2⁶⁰
      val dh = ev(s, dir)
        .select(col("event_type"),
          graft.functions.PortableHash
            .phashStr(col("user_id").cast("string")).as("h"))
        .distinct()
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val kept = dh.withColumn("rn", row_number().over(w))
        .where(col("rn") <= k).select(col("event_type"), col("h"))
      val types = kept.select(col("event_type")).distinct()
      val prs = types.select(col("event_type").as("ta"))
        .join(types.select(col("event_type").as("tb")),
          col("ta") < col("tb"))
      val tagged = kept.join(prs, col("event_type") === col("ta"))
          .select(col("ta"), col("tb"), col("h"),
            lit(1).as("in_a"), lit(0).as("in_b"))
        .unionAll(kept.join(prs, col("event_type") === col("tb"))
          .select(col("ta"), col("tb"), col("h"),
            lit(0).as("in_a"), lit(1).as("in_b")))
      val u = tagged.groupBy(col("ta"), col("tb"), col("h"))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      val wu = Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))
      val top = u.withColumn("urn", row_number().over(wu))
        .where(col("urn") <= k)
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
            .otherwise(0L)).as("matches"))
      val unionEst = when(col("n_kept") < k, col("n_kept").cast("long"))
        .otherwise(((a - a % col("hk")) / col("hk")).cast("long"))
      val est = floor(col("matches") * unionEst / k).cast("long")
      val du = ev(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
      val exact = du.as("x").join(du.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("ta"),
          col("y.event_type").as("tb"))
        .agg(count(lit(1)).as("exact"))
      top.join(exact, Seq("ta", "tb"), "left")
        .select(col("ta"), col("tb"), col("matches"),
          unionEst.as("union_est"), est.as("est"),
          coalesce(col("exact"), lit(0L)).as("exact"),
          when(coalesce(col("exact"), lit(0L)) === 0L,
              est * 1000000L)
            .otherwise(floor(abs(est - col("exact")) * 1000000L /
              col("exact"))).cast("long").as("err_ppm"))
        .orderBy(col("ta"), col("tb"))
    }),

    // sk11: KMV set DIFFERENCE (theta-sketch a-not-b) — the third leg
    // of the sketch set algebra (sk2 distinct, sk4 intersect): per
    // event_type pair, |A \ B| and |B \ A| estimated from ONLY the
    // two k=64 minimum-hash signatures — the churn/exclusive-reach
    // readout ("users who did A but never B") computable between any
    // two stored sketches without touching the corpora. Same
    // estimator frame as sk4: the union sketch's k smallest union
    // hashes are an unbiased sample of A ∪ B, so |A\B| ≈
    // (only-in-A among them)·est(∪)/k — exact-integer end to end,
    // exact twins ride the same distinct frame for the err readout.
    // Scale shape: identical to sk4 (sketches are ≤k rows per type;
    // the exact twin exists for the gate, not the 100 TB path).
    "sk11_kmv_anotb" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val a = lit(new java.math.BigDecimal("72634054790231359488"))
        .cast("decimal(38,0)") // (k−1)·2⁶⁰
      val dh = ev(s, dir)
        .select(col("event_type"),
          graft.functions.PortableHash
            .phashStr(col("user_id").cast("string")).as("h"))
        .distinct()
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val kept = dh.withColumn("rn", row_number().over(w))
        .where(col("rn") <= k).select(col("event_type"), col("h"))
      // share()d: kept feeds types + both tagged sides, du (below)
      // feeds the per-type counts AND both exact-intersection sides —
      // unshared, the plan re-read events.parquet 10× (the sk10
      // scan-budget tripwire caught it; both frames are
      // sketch-/distinct-sized)
      val keptS = graft.operators.Dedup.share(kept)
      val types = keptS.select(col("event_type")).distinct()
      val prs = types.select(col("event_type").as("ta"))
        .join(types.select(col("event_type").as("tb")),
          col("ta") < col("tb"))
      val tagged = keptS.join(prs, col("event_type") === col("ta"))
          .select(col("ta"), col("tb"), col("h"),
            lit(1).as("in_a"), lit(0).as("in_b"))
        .unionAll(keptS.join(prs, col("event_type") === col("tb"))
          .select(col("ta"), col("tb"), col("h"),
            lit(0).as("in_a"), lit(1).as("in_b")))
      val u = tagged.groupBy(col("ta"), col("tb"), col("h"))
        .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      val wu = Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))
      val top = u.withColumn("urn", row_number().over(wu))
        .where(col("urn") <= k)
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"),
          sum(when(col("in_a") === 1 && col("in_b") === 0, 1L)
            .otherwise(0L)).as("only_a"),
          sum(when(col("in_a") === 0 && col("in_b") === 1, 1L)
            .otherwise(0L)).as("only_b"))
      val unionEst = when(col("n_kept") < k, col("n_kept").cast("long"))
        .otherwise(((a - a % col("hk")) / col("hk")).cast("long"))
      val estA = floor(col("only_a") * unionEst / k).cast("long")
      val estB = floor(col("only_b") * unionEst / k).cast("long")
      val du = graft.operators.Dedup.share(ev(s, dir)
        .select(col("event_type"), col("user_id")).distinct())
      val cnt = du.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      val inter = du.as("x").join(du.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("ta"),
          col("y.event_type").as("tb"))
        .agg(count(lit(1)).as("inter"))
      def err(est: Column, exact: Column) =
        when(exact === 0L, est * 1000000L)
          .otherwise(floor(abs(est - exact) * 1000000L / exact))
          .cast("long")
      top
        .join(inter, Seq("ta", "tb"), "left")
        .join(cnt.select(col("event_type").as("ta"),
          col("n").as("na")), Seq("ta"))
        .join(cnt.select(col("event_type").as("tb"),
          col("n").as("nb")), Seq("tb"))
        .select(col("ta"), col("tb"), col("only_a"), col("only_b"),
          unionEst.as("union_est"),
          estA.as("est_a_not_b"), estB.as("est_b_not_a"),
          (col("na") - coalesce(col("inter"), lit(0L)))
            .as("exact_a_not_b"),
          (col("nb") - coalesce(col("inter"), lit(0L)))
            .as("exact_b_not_a"))
        .select(col("ta"), col("tb"), col("only_a"), col("only_b"),
          col("union_est"), col("est_a_not_b"), col("est_b_not_a"),
          col("exact_a_not_b"), col("exact_b_not_a"),
          err(col("est_a_not_b"), col("exact_a_not_b")).as("err_a_ppm"),
          err(col("est_b_not_a"), col("exact_b_not_a")).as("err_b_ppm"))
        .orderBy(col("ta"), col("tb"))
    }),

    // sk5: HDR-histogram quantile sketch (the HdrHistogram/DDSketch
    // family) — p50/p90/p99 of value per event_type from a sketch of
    // ≤ ~128 log-scaled integer buckets instead of ql's exact
    // distributed rank. Bucketing is pure integer arithmetic on
    // cents: values < 8 are their own (exact) bucket; otherwise with
    // e = bitlength(c) the top four bits index bucket (e−4)·8 +
    // ⌊c/2^(e−4)⌋, giving ≤12.5% relative bucket width. The sketch
    // is ONE map-side-combinable groupBy; estimates read the
    // per-type cumulative count (a ≤128-row window) at rank
    // ⌈q·n/100⌉ (exact-integer ceil) and report the bucket's lower
    // bound, so est ≤ exact always and err_ppm ≤ 125000 by
    // construction. Mergeability is the 100 TB point: per-group
    // state is bucket counts (add to merge — sketches from disjoint
    // partitions/days combine losslessly), where ql must shuffle
    // every value. `exact`/`err_ppm` audit against the true order
    // statistic at the same rank rule.
    "sk5_hdr_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = ev(s, dir).select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      val b = cents.withColumn("e", length(bin(col("c"))).cast("long"))
        .select(col("event_type"),
          when(col("c") < 8, col("c"))
            .otherwise((col("e") - 4) * 8 +
              expr("c div shiftleft(1L, cast(e - 4 AS int))"))
            .as("bid"),
          when(col("c") < 8, col("c"))
            .otherwise(expr(
              """c div shiftleft(1L, cast(e - 4 AS int))
                | * shiftleft(1L, cast(e - 4 AS int))""".stripMargin))
            .as("lb"))
      val sketch = b.groupBy(col("event_type"), col("bid"))
        .agg(count(lit(1)).as("cnt"), min(col("lb")).as("lb"))
      val wT = Window.partitionBy(col("event_type"))
      val wCum = wT.orderBy(col("bid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = sketch
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wT))
      val qs = cum.withColumn("q", explode(typedLit(Seq(50L, 90L, 99L))))
        .withColumn("rank", expr("(q * n + 99) div 100"))
        .where(col("cum") >= col("rank"))
        .groupBy(col("event_type"), col("q"))
        .agg(min(col("lb")).as("est_cents"))
      val wRn = Window.partitionBy(col("event_type")).orderBy(col("c"))
      val ranked = cents.withColumn("rn", row_number().over(wRn))
        .withColumn("n", count(lit(1)).over(wT))
      val exact = ranked
        .withColumn("q", explode(typedLit(Seq(50L, 90L, 99L))))
        .where(col("rn") === expr("(q * n + 99) div 100"))
        .select(col("event_type"), col("q"), col("c").as("exact_cents"))
      qs.join(exact, Seq("event_type", "q"))
        .select(col("event_type"), col("q"), col("est_cents"),
          col("exact_cents"),
          floor((col("exact_cents") - col("est_cents")) * 1000000L /
            col("exact_cents")).as("err_ppm"))
        .orderBy(col("event_type"), col("q"))
    })
  )

  private val parisLocal = "timezone('Europe/Paris', timezone('UTC', ts))"

  val oracles: Map[String, String] = Map(
    // Spine end carries the reference's +23 h extension
    // (create_public_schema.sql:189): 2024-01-31 00:00 → 23:00.
    "q1_events_histogram" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |    TIMESTAMP '2024-01-31 23:00:00', INTERVAL 1 HOUR)) AS datetime),
        |agg AS (
        |  SELECT date_trunc('hour', ts) AS bin_time,
        |         count(event_id) AS events,
        |         string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids
        |  FROM events
        |  WHERE date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-01 00:00:00'
        |    AND TIMESTAMP '2024-01-31 23:00:00'
        |  GROUP BY 1)
        |SELECT s.datetime AS datetime, a.events AS events, a.ids AS ids
        |FROM spine s LEFT JOIN agg a ON s.datetime = a.bin_time
        |ORDER BY datetime""".stripMargin,

    "q2_histogram_tz" ->
      s"""WITH spine AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |    TIMESTAMP '2024-01-30 00:00:00', INTERVAL 1 DAY)) AS ldt),
        |agg AS (
        |  SELECT date_trunc('day', $parisLocal) AS bin_time,
        |         count(event_id) AS events,
        |         string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS ids
        |  FROM events
        |  WHERE date_trunc('day', $parisLocal)
        |    BETWEEN TIMESTAMP '2024-01-01 00:00:00' AND TIMESTAMP '2024-01-30 00:00:00'
        |  GROUP BY 1)
        |SELECT timezone('UTC', timezone('Europe/Paris', s.ldt)) AS datetime,
        |       a.events AS events, a.ids AS ids
        |FROM spine s LEFT JOIN agg a ON s.ldt = a.bin_time
        |ORDER BY datetime""".stripMargin,

    "q3_hourly_hist" ->
      """SELECT date_trunc('hour', ts) AS datetime, count(*) AS events
        |FROM events
        |WHERE event_type = 'purchase'
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-06 00:00:00'
        |GROUP BY 1 ORDER BY datetime""".stripMargin,

    "qm_user_features" ->
      """SELECT user_id,
        |  count(*) AS n_events,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
        |  count(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 1 END)
        |    AS n_events_7d,
        |  count(CASE WHEN event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 1 END)
        |    AS n_purchases_7d,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS purchase_cents,
        |  max(ts) AS last_seen
        |FROM events
        |WHERE ts < TIMESTAMP '2024-01-31 00:00:00'
        |GROUP BY 1 ORDER BY user_id""".stripMargin,

    "qn_pit_features" ->
      """WITH f AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    count(*) OVER w AS n_prior,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) OVER w
        |      AS n_prior_views,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END) OVER w, 0)
        |      AS BIGINT) AS prior_purchase_cents
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, ts AS time, n_prior, n_prior_views,
        |  prior_purchase_cents
        |FROM f WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "qo_conversion_labels" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, event_type, epoch_us(ts) AS tsu
        |  FROM events),
        |l AS (
        |  SELECT event_id, user_id, ts, event_type, tsu,
        |    min(CASE WHEN event_type = 'purchase' THEN tsu END) OVER
        |      (PARTITION BY user_id ORDER BY tsu
        |       RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING) AS npu
        |  FROM e)
        |SELECT event_id, user_id, ts AS time,
        |  npu IS NOT NULL AS converted_1h,
        |  CAST(coalesce(npu - tsu, -1) AS BIGINT) AS latency_us
        |FROM l WHERE event_type = 'view'
        |ORDER BY event_id""".stripMargin,

    "qp_temporal_split" ->
      """SELECT event_id, ts AS time,
        |  CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |       WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'embargo'
        |       ELSE 'test' END AS split
        |FROM events ORDER BY event_id""".stripMargin,

    "qq_value_anomaly" ->
      """WITH c AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(c) AS HUGEINT) AS s_sum,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS q_sum
        |  FROM c GROUP BY 1),
        |j AS (
        |  SELECT c.event_type, c.c, st.n * c.c - st.s_sum AS dev,
        |    st.n, st.q_sum, st.s_sum
        |  FROM c JOIN st USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(CASE WHEN dev*dev > 4*(n*q_sum - s_sum*s_sum)
        |    THEN 1 END) AS BIGINT) AS n_anomalies,
        |  CAST(coalesce(sum(CASE WHEN dev*dev > 4*(n*q_sum - s_sum*s_sum)
        |    THEN c END), 0) AS BIGINT) AS anomaly_cents
        |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin,

    "qr_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |ex AS (
        |  SELECT day + CAST(u.i AS INTEGER) AS day, user_id
        |  FROM ud, UNNEST(range(0, 7)) AS u(i)),
        |wau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM ex GROUP BY 1)
        |SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau,
        |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY dau.day""".stripMargin,

    "qt_decay_features" ->
      """WITH c AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(pow(0.5,
        |      (epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(ts)) /
        |        604800000000.0) * 1000000) AS BIGINT) AS w
        |  FROM events WHERE ts < TIMESTAMP '2024-01-31 00:00:00')
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(w) AS BIGINT) AS decay_fx,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN w END),
        |    0) AS BIGINT) AS purchase_decay_fx
        |FROM c GROUP BY 1 ORDER BY user_id""".stripMargin,

    "qs_event_gaps" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)) / 1000000.0
        |      AS gap_s
        |  FROM events),
        |f AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL)
        |SELECT event_type,
        |  round(quantile_cont(gap_s, 0.5), 4) AS p50,
        |  round(quantile_cont(gap_s, 0.95), 4) AS p95,
        |  count(*) AS n
        |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q4_day_slice" ->
      """SELECT event_id, ts AS time, user_id, event_type, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-06 00:00:00'
        |ORDER BY time, event_id""".stripMargin,

    "q5_range_tz" ->
      s"""SELECT event_id, ts AS time, user_id, event_type
        |FROM events
        |WHERE $parisLocal >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND $parisLocal < TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY time, event_id""".stripMargin,

    "q6_peak_hour" ->
      """WITH cnt AS (
        |  SELECT date_trunc('minute', ts - INTERVAL 30 MINUTE) AS peak_hour,
        |         count(*) OVER (ORDER BY ts
        |           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS events
        |  FROM events WHERE event_type = 'purchase'),
        |ranked AS (
        |  SELECT peak_hour, events, row_number() OVER (
        |    PARTITION BY CAST(timezone('Europe/Paris', timezone('UTC', peak_hour)) AS DATE)
        |    ORDER BY events DESC, peak_hour DESC) AS rn
        |  FROM cnt)
        |SELECT peak_hour, events FROM ranked WHERE rn = 1
        |ORDER BY events DESC, peak_hour DESC""".stripMargin,

    "q9_peak_hour_all" ->
      """WITH u AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        |  UNION
        |  SELECT user_id, ts FROM events WHERE event_type = 'signup'),
        |b AS (
        |  SELECT ts FROM u
        |  WHERE ts >= timezone('UTC', timezone('Europe/Paris',
        |          date_trunc('day', TIMESTAMP '2024-01-08 00:00:00'))) + INTERVAL 30 MINUTE
        |    AND ts < timezone('UTC', timezone('Europe/Paris',
        |          date_trunc('day', TIMESTAMP '2024-01-22 00:00:00'))) + INTERVAL 30 MINUTE),
        |cnt AS (
        |  SELECT date_trunc('minute', ts - INTERVAL 30 MINUTE) AS peak_hour,
        |         count(*) OVER (ORDER BY ts
        |           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS events
        |  FROM b),
        |ranked AS (
        |  SELECT peak_hour, events, row_number() OVER (
        |    PARTITION BY CAST(timezone('Europe/Paris', timezone('UTC', peak_hour)) AS DATE)
        |    ORDER BY events DESC, peak_hour DESC) AS rn
        |  FROM cnt)
        |SELECT peak_hour, events FROM ranked WHERE rn = 1
        |ORDER BY events DESC, peak_hour DESC""".stripMargin,

    "q7_union_distinct" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type='purchase'
        |UNION
        |SELECT user_id, strftime(ts, '%Y-%m-%d') AS day FROM events WHERE event_type='signup'
        |ORDER BY user_id, day""".stripMargin,

    "q8_user_paths" ->
      """SELECT user_id AS key,
        |  '{"type":"LineString","coordinates":[' ||
        |  string_agg(printf('[%.2f,%.2f]', value, CAST(props->>'k' AS DOUBLE)),
        |             ',' ORDER BY ts, event_id) || ']}' AS path
        |FROM events GROUP BY user_id ORDER BY key""".stripMargin,

    "q10_path_fanout" ->
      """SELECT user_id AS key,
        |  '{"type":"LineString","coordinates":[' ||
        |  string_agg(printf('[%.2f,%.2f]', value, CAST(props->>'k' AS DOUBLE)),
        |             ',' ORDER BY ts, event_id) || ']}' AS path
        |FROM events WHERE user_id BETWEEN 0 AND 9
        |GROUP BY user_id ORDER BY key""".stripMargin,

    "q11_expr_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
        |FROM events e LEFT JOIN customer c
        |  ON CAST(e.props->>'k' AS BIGINT) + 1 = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    "q12_dedup_latest" ->
      """SELECT user_id, event_type, event_id, ts AS time
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "qj_retention_cohorts" ->
      """WITH fs AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |act AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
        |  FROM events)
        |SELECT fs.cohort_week,
        |  CAST(datediff('day', fs.cohort_week, act.activity_week) // 7
        |    AS BIGINT) AS weeks_since,
        |  count(*) AS n_users
        |FROM act JOIN fs USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, weeks_since""".stripMargin,

    // qx: replays qv's conditional-min ladder, then quantile_cont
    // over integer-microsecond latencies (the ql percentile parity).
    "qx_funnel_latency" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS et, ts FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (
        |  SELECT u, min(ts) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.u, min(t1) AS t1, min(ts) AS t2
        |  FROM e JOIN s1 ON e.u = s1.u
        |  WHERE et = 'click' AND ts > t1
        |    AND ts <= t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.u, min(t1) AS t1, min(ts) AS t3
        |  FROM e JOIN s2 ON e.u = s2.u
        |  WHERE et = 'purchase' AND ts > t2
        |    AND ts <= t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |conv AS (
        |  SELECT u, epoch_us(t3) - epoch_us(t1) AS latency_us FROM s3)
        |SELECT 'view>click>purchase' AS funnel,
        |  round(quantile_cont(latency_us, 0.5), 4) AS p50,
        |  round(quantile_cont(latency_us, 0.9), 4) AS p90,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM conv GROUP BY 1 ORDER BY funnel""".stripMargin,

    // qz: same integer-Σ stats, same fixed-point state; the window
    // sums are integer so the closed-form replay cannot drift.
    "qz_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(n_events) AS BIGINT) AS sx,
        |    CAST(sum(n_events * n_events) AS BIGINT) AS sx2
        |  FROM daily GROUP BY 1),
        |st6 AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(sx AS DOUBLE) / nd * 1000000.0) AS BIGINT)
        |      AS mu6,
        |    CAST(floor(sqrt(CAST(nd * sx2 - sx * sx AS DOUBLE)
        |      / (nd * nd)) * 1000000.0) AS BIGINT) AS sig6
        |  FROM st),
        |pd AS (
        |  SELECT daily.event_type, day, n_events,
        |    n_events * 1000000 - mu6 - sig6 // 2 AS d6, sig6
        |  FROM daily JOIN st6 USING (event_type)),
        |ps AS (
        |  SELECT event_type, day, n_events, sig6,
        |    CAST(sum(d6) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p6
        |  FROM pd),
        |ss AS (
        |  SELECT event_type, day, n_events, sig6,
        |    p6 - least(0, CAST(min(p6) OVER (PARTITION BY event_type
        |      ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT)) AS s6
        |  FROM ps)
        |SELECT event_type, day, n_events,
        |  round(CAST(s6 AS DOUBLE) / 1000000.0, 6) AS cusum,
        |  s6 > 4 * sig6 AS flagged
        |FROM ss
        |ORDER BY event_type, day""".stripMargin,

    // qy: the oracle rebuilds the same lead() pairs with the same
    // (ts, event_id) tiebreak; the row-total join is a plain CTE.
    "qy_markov_transitions" ->
      """WITH nxt AS (
        |  SELECT event_type AS cur_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |pairs AS (
        |  SELECT cur_type, next_type,
        |    CAST(count(*) AS BIGINT) AS n_transitions
        |  FROM nxt WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT cur_type, CAST(sum(n_transitions) AS BIGINT) AS n_out
        |  FROM pairs GROUP BY 1)
        |SELECT cur_type, next_type, n_transitions, n_out,
        |  round(CAST(n_transitions AS DOUBLE) / n_out, 6) AS p_next
        |FROM pairs JOIN tot USING (cur_type)
        |ORDER BY cur_type, next_type""".stripMargin,

    "qw_retention" ->
      """WITH fs AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |sz AS (
        |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_cohort
        |  FROM fs GROUP BY 1),
        |act AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w
        |  FROM events),
        |cell AS (
        |  SELECT fs.cohort_week,
        |    CAST(datediff('day', fs.cohort_week, act.w) // 7 AS BIGINT)
        |      AS weeks_since,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM act JOIN fs USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT cohort_week, weeks_since, n_active, n_cohort,
        |  round(CAST(n_active AS DOUBLE) / n_cohort, 6) AS retention
        |FROM cell JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, weeks_since""".stripMargin,

    // qv: the oracle replays the greedy earliest-match chain as the
    // same per-step conditional-min CTE ladder — step i+1's min ts
    // strictly after step i's chosen ts and within the step-1 anchor
    // window.
    "qv_window_funnel" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS et, ts FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (
        |  SELECT u, min(ts) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.u, min(t1) AS t1, min(ts) AS t2
        |  FROM e JOIN s1 ON e.u = s1.u
        |  WHERE et = 'click' AND ts > t1
        |    AND ts <= t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.u, min(ts) AS t3
        |  FROM e JOIN s2 ON e.u = s2.u
        |  WHERE et = 'purchase' AND ts > t2
        |    AND ts <= t1 + INTERVAL 24 HOUR
        |  GROUP BY 1),
        |n AS (
        |  SELECT (SELECT count(*) FROM s1) AS n1,
        |         (SELECT count(*) FROM s2) AS n2,
        |         (SELECT count(*) FROM s3) AS n3)
        |SELECT step, event_type, n_users, conv_rate FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |    CAST(n1 AS BIGINT) AS n_users,
        |    round(CAST(n1 AS DOUBLE) / nullif(n1, 0), 6) AS conv_rate
        |  FROM n
        |  UNION ALL
        |  SELECT 2, 'click', CAST(n2 AS BIGINT),
        |    round(CAST(n2 AS DOUBLE) / nullif(n1, 0), 6) FROM n
        |  UNION ALL
        |  SELECT 3, 'purchase', CAST(n3 AS BIGINT),
        |    round(CAST(n3 AS DOUBLE) / nullif(n1, 0), 6) FROM n)
        |ORDER BY step""".stripMargin,

    "qu_cohort_ltv" ->
      """WITH fs AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY 1),
        |rev AS (
        |  SELECT fs.cohort_week,
        |    CAST(datediff('day', fs.cohort_week, date_trunc('week', e.ts)) // 7
        |      AS BIGINT) AS weeks_since,
        |    CAST(count(*) AS BIGINT) AS n_purchases,
        |    CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS revenue_cents
        |  FROM events e JOIN fs USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT cohort_week, weeks_since, n_purchases, revenue_cents,
        |  CAST(sum(revenue_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY weeks_since ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_revenue_cents
        |FROM rev ORDER BY cohort_week, weeks_since""".stripMargin,

    "qk_session_funnel" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, event_type,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
        |      AS session_seq
        |  FROM g),
        |starts AS (
        |  SELECT user_id, session_seq, min(ts) AS s_ts
        |  FROM sess GROUP BY 1, 2),
        |v AS (
        |  SELECT user_id, session_seq, min(ts) AS v_ts
        |  FROM sess WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (
        |  SELECT sess.user_id, sess.session_seq, min(sess.ts) AS c_ts
        |  FROM sess JOIN v USING (user_id, session_seq)
        |  WHERE event_type = 'click' AND sess.ts >= v.v_ts GROUP BY 1, 2),
        |p AS (
        |  SELECT sess.user_id, sess.session_seq, min(sess.ts) AS p_ts
        |  FROM sess JOIN c USING (user_id, session_seq)
        |  WHERE event_type = 'purchase' AND sess.ts >= c.c_ts GROUP BY 1, 2)
        |SELECT strftime(s_ts, '%Y-%m-%d') AS session_date,
        |  count(*) AS n_sessions,
        |  count(v_ts) AS n_view,
        |  count(c_ts) AS n_click_after_view,
        |  count(p_ts) AS n_purchase_funnel
        |FROM starts
        |LEFT JOIN v USING (user_id, session_seq)
        |LEFT JOIN c USING (user_id, session_seq)
        |LEFT JOIN p USING (user_id, session_seq)
        |GROUP BY 1 ORDER BY session_date""".stripMargin,

    "q13_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id AS key, session_seq,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY key, session_seq""".stripMargin,

    "q14_transitions" ->
      """WITH f AS (
        |  SELECT user_id, ts, event_id, (event_type = 'purchase') AS flag,
        |    lag(event_type = 'purchase') OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, flag FROM f
        |      WHERE prev IS NOT NULL AND prev <> flag),
        |v AS (
        |  SELECT user_id, ts, flag,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS dgap
        |  FROM c)
        |SELECT user_id AS key, ts AS time, flag FROM v
        |WHERE dgap IS NULL OR dgap > 3600000000
        |ORDER BY key, time""".stripMargin,

    "q15_matview_paths" ->
      """SELECT DISTINCT user_id AS key, strftime(ts_day, '%Y-%m-%d') AS day, path
        |FROM (
        |  SELECT user_id, CAST(ts AS DATE) AS ts_day,
        |    '{"type":"LineString","coordinates":[' ||
        |    string_agg(printf('[%.2f,%.2f]', value, CAST(props->>'k' AS DOUBLE)),
        |               ',' ORDER BY ts, event_id) || ']}' AS path
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
        |    AND ts < TIMESTAMP '2024-01-29 00:00:00'
        |  GROUP BY user_id, CAST(ts AS DATE))
        |ORDER BY key, day""".stripMargin,

    "q16_asof_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS c_user, max(event_id) AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.purchase_id, p.user_id, p.ts, c.click_id, c.click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.c_user AND p.ts >= c.click_ts
        |ORDER BY p.purchase_id""".stripMargin,

    "q18_json_props" ->
      """SELECT event_type,
        |  count(CAST(props->>'k' AS INT)) AS n_with_k,
        |  CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
        |  CAST(max(CAST(props->>'k' AS INT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q19_pivot_census" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q17_range_join" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events WHERE event_type = 'click'),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 43200000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
        |  FROM g),
        |sess AS (
        |  SELECT user_id AS key, session_seq,
        |         min(ts) AS session_start, max(ts) AS session_end
        |  FROM s GROUP BY 1, 2),
        |err AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
        |SELECT sess.key, sess.session_seq, sess.session_start,
        |       sess.session_end, count(*) AS n_errors
        |FROM sess JOIN err ON err.user_id = sess.key
        |  AND err.ts >= sess.session_start AND err.ts <= sess.session_end
        |GROUP BY 1, 2, 3, 4
        |ORDER BY key, session_seq""".stripMargin,

    // sk2: the identical KMV sketch rebuilt in SQL — same portable
    // hash, same k=64 rank cut, same integer floor division.
    "sk2_kmv_distinct" ->
      """WITH dh AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM dh),
        |pt AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |    max(h) AS hk
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |ex AS (
        |  SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact
        |  FROM events GROUP BY 1),
        |est_ AS (
        |  SELECT pt.event_type,
        |    CAST(CASE WHEN n_kept < 64 THEN n_kept
        |      ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) // hk
        |      END AS BIGINT) AS est,
        |    exact
        |  FROM pt JOIN ex USING (event_type))
        |SELECT event_type, est, exact,
        |  CAST(floor(abs(est - exact) * 1000000 / exact) AS BIGINT)
        |    AS err_ppm
        |FROM est_ ORDER BY event_type""".stripMargin,

    // HLL re-derived from scratch: same 60-bit hash, bucket split,
    // bin()-bitlength ρ, register max, and the exact-integer
    // harmonic sum (1::BIGINT << (53−M)); the α·m²·2⁵³ numerator is
    // inlined as the identical HUGEINT literal and the division is
    // HUGEINT floor-divide — bit-for-bit the Spark decimal path.
    "sk3_hll_distinct" ->
      """WITH dh AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |regs AS (
        |  SELECT event_type, h % 256 AS b,
        |    max(CASE WHEN h // 256 = 0 THEN 53
        |        ELSE 53 - length(bin(h // 256)) END) AS M
        |  FROM dh GROUP BY 1, 2),
        |pt AS (
        |  SELECT event_type,
        |    (sum((1::BIGINT << (53 - M))::HUGEINT)
        |      + (256 - count(*))::HUGEINT * 9007199254740992::HUGEINT)
        |      * 1000000::HUGEINT AS den
        |  FROM regs GROUP BY 1),
        |ex AS (
        |  SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact
        |  FROM events GROUP BY 1),
        |est_ AS (
        |  SELECT pt.event_type,
        |    CAST(423993542593778584572133376::HUGEINT // den AS BIGINT)
        |      AS est,
        |    exact
        |  FROM pt JOIN ex USING (event_type))
        |SELECT event_type, est, exact,
        |  CAST(floor(abs(est - exact) * 1000000 / exact) AS BIGINT)
        |    AS err_ppm
        |FROM est_ ORDER BY event_type""".stripMargin,

    // sk8: both estimate paths replayed — per-day registers merged
    // by max vs the one-pass registers — through the identical
    // HUGEINT estimator, plus the merge-equality bit itself.
    "sk8_hll_merge" ->
      """WITH dh AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |rho AS (
        |  SELECT event_type, day, h % 256 AS b,
        |    CASE WHEN h // 256 = 0 THEN 53
        |      ELSE 53 - length(bin(h // 256)) END AS rho
        |  FROM dh),
        |daily AS (
        |  SELECT event_type, day, b, max(rho) AS M
        |  FROM rho GROUP BY 1, 2, 3),
        |mreg AS (
        |  SELECT event_type, b, max(M) AS M FROM daily GROUP BY 1, 2),
        |dreg AS (
        |  SELECT event_type, b, max(rho) AS M FROM rho GROUP BY 1, 2),
        |mpt AS (
        |  SELECT event_type,
        |    (sum((1::BIGINT << (53 - M))::HUGEINT)
        |      + (256 - count(*))::HUGEINT * 9007199254740992::HUGEINT)
        |      * 1000000::HUGEINT AS den
        |  FROM mreg GROUP BY 1),
        |dpt AS (
        |  SELECT event_type,
        |    (sum((1::BIGINT << (53 - M))::HUGEINT)
        |      + (256 - count(*))::HUGEINT * 9007199254740992::HUGEINT)
        |      * 1000000::HUGEINT AS den
        |  FROM dreg GROUP BY 1),
        |days_ AS (
        |  SELECT event_type, CAST(count(DISTINCT day) AS BIGINT)
        |    AS n_days
        |  FROM dh GROUP BY 1),
        |ex AS (
        |  SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact
        |  FROM events GROUP BY 1),
        |est_ AS (
        |  SELECT m.event_type,
        |    CAST(423993542593778584572133376::HUGEINT // m.den AS BIGINT)
        |      AS est_merged,
        |    CAST(423993542593778584572133376::HUGEINT // d.den AS BIGINT)
        |      AS est_direct
        |  FROM mpt m JOIN dpt d USING (event_type))
        |SELECT e.event_type, n_days, est_merged, est_direct,
        |  (est_merged = est_direct) AS merge_equal, exact,
        |  CAST(floor(abs(est_merged - exact) * 1000000 / exact)
        |    AS BIGINT) AS err_ppm
        |FROM est_ e
        |JOIN days_ USING (event_type)
        |JOIN ex USING (event_type)
        |ORDER BY e.event_type""".stripMargin,

    // sk9: per-day registers, register-max over the trailing 7-day
    // window (the day×day range join), the identical HUGEINT
    // estimator per window, and the exact windowed re-scan audit.
    "sk9_hll_window" ->
      """WITH dh AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |daily AS (
        |  SELECT day, h % 256 AS b,
        |    max(CASE WHEN h // 256 = 0 THEN 53
        |      ELSE 53 - length(bin(h // 256)) END) AS M
        |  FROM dh GROUP BY 1, 2),
        |days_ AS (SELECT DISTINCT day FROM daily),
        |win AS (
        |  SELECT t.day, s.b, max(s.M) AS M
        |  FROM days_ t JOIN daily s
        |    ON s.day BETWEEN t.day - INTERVAL 6 DAY AND t.day
        |  GROUP BY 1, 2),
        |nw AS (
        |  SELECT t.day, CAST(count(DISTINCT s.day) AS BIGINT)
        |    AS n_days_window
        |  FROM days_ t JOIN daily s
        |    ON s.day BETWEEN t.day - INTERVAL 6 DAY AND t.day
        |  GROUP BY 1),
        |pt AS (
        |  SELECT day,
        |    (sum((1::BIGINT << (53 - M))::HUGEINT)
        |      + (256 - count(*))::HUGEINT * 9007199254740992::HUGEINT)
        |      * 1000000::HUGEINT AS den
        |  FROM win GROUP BY 1),
        |ex AS (
        |  SELECT t.day,
        |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_window
        |  FROM days_ t JOIN (
        |    SELECT CAST(ts AS DATE) AS eday, user_id FROM events) e
        |    ON e.eday BETWEEN t.day - INTERVAL 6 DAY AND t.day
        |  GROUP BY 1),
        |est_ AS (
        |  SELECT day,
        |    CAST(423993542593778584572133376::HUGEINT // den AS BIGINT)
        |      AS est_window
        |  FROM pt)
        |SELECT e.day, n_days_window, est_window, exact_window,
        |  CAST(floor(abs(est_window - exact_window) * 1000000
        |    / exact_window) AS BIGINT) AS err_ppm
        |FROM est_ e
        |JOIN nw USING (day)
        |JOIN ex USING (day)
        |ORDER BY e.day""".stripMargin,

    // sk10: the position set, the all-k membership test and the exact
    // semi-join audit rebuilt bit-for-bit.
    "sk10_bloom_membership" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id::VARCHAR AS uid
        |  FROM events),
        |d0 AS (SELECT min(day) AS day0 FROM e),
        |build AS (
        |  SELECT DISTINCT uid FROM e, d0 WHERE day = day0),
        |bits AS (
        |  SELECT DISTINCT
        |    ('0x' || substr(md5(uid || '#' || u.k), 1, 15))::BIGINT % 256
        |      AS pos
        |  FROM build, UNNEST(range(0, 2)) AS u(k)),
        |probes AS (
        |  SELECT DISTINCT day, uid FROM e, d0 WHERE day <> day0),
        |hits AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS bloom_hits FROM (
        |    SELECT p.day, p.uid
        |    FROM (SELECT day, uid, ('0x' || substr(md5(uid || '#' || u.k),
        |            1, 15))::BIGINT % 256 AS pos
        |          FROM probes, UNNEST(range(0, 2)) AS u(k)) p
        |    JOIN bits USING (pos)
        |    GROUP BY 1, 2 HAVING count(*) = 2)
        |  GROUP BY 1),
        |tm AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS true_members
        |  FROM probes p JOIN build b USING (uid) GROUP BY 1),
        |np AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_probes
        |  FROM probes GROUP BY 1)
        |SELECT np.day, np.n_probes,
        |  coalesce(h.bloom_hits, 0) AS bloom_hits,
        |  coalesce(t.true_members, 0) AS true_members,
        |  coalesce(h.bloom_hits, 0) - coalesce(t.true_members, 0)
        |    AS false_positives,
        |  CASE WHEN np.n_probes > coalesce(t.true_members, 0) THEN
        |    CAST((1000000 * (coalesce(h.bloom_hits, 0)
        |      - coalesce(t.true_members, 0)))
        |      // (np.n_probes - coalesce(t.true_members, 0)) AS BIGINT) END
        |    AS fp_ppm
        |FROM np
        |LEFT JOIN hits h USING (day)
        |LEFT JOIN tm t USING (day)
        |ORDER BY np.day""".stripMargin,

    // KMV set-intersection replayed with window functions: per-type
    // 64-minimum signatures, the pair-tagged union re-ranked to its
    // own 64 minimum, match counting, and sk2's HUGEINT floor-divide
    // union estimate; the audit side counts true pairwise overlap.
    "sk4_kmv_intersect" ->
      """WITH dh AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |kept AS (
        |  SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |    FROM dh) WHERE rn <= 64),
        |prs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM (SELECT DISTINCT event_type FROM kept) a
        |  JOIN (SELECT DISTINCT event_type FROM kept) b
        |    ON a.event_type < b.event_type),
        |tagged AS (
        |  SELECT ta, tb, h, 1 AS in_a, 0 AS in_b
        |  FROM kept JOIN prs ON event_type = ta
        |  UNION ALL
        |  SELECT ta, tb, h, 0 AS in_a, 1 AS in_b
        |  FROM kept JOIN prs ON event_type = tb),
        |u AS (
        |  SELECT ta, tb, h, max(in_a) AS in_a, max(in_b) AS in_b
        |  FROM tagged GROUP BY 1, 2, 3),
        |top_ AS (
        |  SELECT ta, tb,
        |    CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk,
        |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1
        |             ELSE 0 END) AS BIGINT) AS matches
        |  FROM (
        |    SELECT ta, tb, h, in_a, in_b,
        |      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS urn
        |    FROM u) WHERE urn <= 64 GROUP BY 1, 2),
        |est_ AS (
        |  SELECT ta, tb, matches,
        |    CAST(CASE WHEN n_kept < 64 THEN n_kept
        |      ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) // hk
        |      END AS BIGINT) AS union_est
        |  FROM top_),
        |ex AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb,
        |    CAST(count(*) AS BIGINT) AS exact
        |  FROM (SELECT DISTINCT event_type, user_id FROM events) x
        |  JOIN (SELECT DISTINCT event_type, user_id FROM events) y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT e.ta, e.tb, matches, union_est,
        |  CAST(floor(matches * union_est / 64) AS BIGINT) AS est,
        |  coalesce(exact, 0) AS exact,
        |  CAST(CASE WHEN coalesce(exact, 0) = 0
        |    THEN floor(matches * union_est / 64) * 1000000
        |    ELSE floor(abs(floor(matches * union_est / 64) - exact)
        |      * 1000000 / exact) END AS BIGINT) AS err_ppm
        |FROM est_ e LEFT JOIN ex ON e.ta = ex.ta AND e.tb = ex.tb
        |ORDER BY e.ta, e.tb""".stripMargin,

    // sk11: the a-not-b counters and both exact differences rebuilt
    // from the same union-sketch frame (sk4's estimator with the
    // exclusive-membership counters).
    "sk11_kmv_anotb" ->
      """WITH dh AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |kept AS (
        |  SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |    FROM dh) WHERE rn <= 64),
        |prs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM (SELECT DISTINCT event_type FROM kept) a
        |  JOIN (SELECT DISTINCT event_type FROM kept) b
        |    ON a.event_type < b.event_type),
        |tagged AS (
        |  SELECT ta, tb, h, 1 AS in_a, 0 AS in_b
        |  FROM kept JOIN prs ON event_type = ta
        |  UNION ALL
        |  SELECT ta, tb, h, 0 AS in_a, 1 AS in_b
        |  FROM kept JOIN prs ON event_type = tb),
        |u AS (
        |  SELECT ta, tb, h, max(in_a) AS in_a, max(in_b) AS in_b
        |  FROM tagged GROUP BY 1, 2, 3),
        |top_ AS (
        |  SELECT ta, tb,
        |    CAST(count(*) AS BIGINT) AS n_kept, max(h) AS hk,
        |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1
        |             ELSE 0 END) AS BIGINT) AS only_a,
        |    CAST(sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1
        |             ELSE 0 END) AS BIGINT) AS only_b
        |  FROM (
        |    SELECT ta, tb, h, in_a, in_b,
        |      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS urn
        |    FROM u) WHERE urn <= 64 GROUP BY 1, 2),
        |est_ AS (
        |  SELECT ta, tb, only_a, only_b,
        |    CAST(CASE WHEN n_kept < 64 THEN n_kept
        |      ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) // hk
        |      END AS BIGINT) AS union_est
        |  FROM top_),
        |du AS (SELECT DISTINCT event_type, user_id FROM events),
        |cnt AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM du GROUP BY 1),
        |inter AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb,
        |    CAST(count(*) AS BIGINT) AS iv
        |  FROM du x JOIN du y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT e.ta, e.tb, only_a, only_b, union_est,
        |    CAST(floor(only_a * union_est / 64) AS BIGINT)
        |      AS est_a_not_b,
        |    CAST(floor(only_b * union_est / 64) AS BIGINT)
        |      AS est_b_not_a,
        |    ca.n - coalesce(iv, 0) AS exact_a_not_b,
        |    cb.n - coalesce(iv, 0) AS exact_b_not_a
        |  FROM est_ e
        |  LEFT JOIN inter i ON e.ta = i.ta AND e.tb = i.tb
        |  JOIN cnt ca ON e.ta = ca.event_type
        |  JOIN cnt cb ON e.tb = cb.event_type)
        |SELECT ta, tb, only_a, only_b, union_est, est_a_not_b,
        |  est_b_not_a, exact_a_not_b, exact_b_not_a,
        |  CAST(CASE WHEN exact_a_not_b = 0 THEN est_a_not_b * 1000000
        |    ELSE floor(abs(est_a_not_b - exact_a_not_b) * 1000000
        |      / exact_a_not_b) END AS BIGINT) AS err_a_ppm,
        |  CAST(CASE WHEN exact_b_not_a = 0 THEN est_b_not_a * 1000000
        |    ELSE floor(abs(est_b_not_a - exact_b_not_a) * 1000000
        |      / exact_b_not_a) END AS BIGINT) AS err_b_ppm
        |FROM j ORDER BY ta, tb""".stripMargin,

    // HDR quantile sketch re-derived: identical integer bucketing
    // (bin()-bitlength, shift-based powers of two, floor-divides),
    // the one-pass bucket sketch, cumulative-count rank lookup at
    // the exact-integer ceil rank, and the true order statistic as
    // the audit.
    "sk5_hdr_quantiles" ->
      """WITH cents AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    CASE WHEN c < 8 THEN c
        |      ELSE (length(bin(c)) - 4) * 8
        |        + c // (1::BIGINT << (length(bin(c)) - 4)) END AS bid,
        |    CASE WHEN c < 8 THEN c
        |      ELSE (c // (1::BIGINT << (length(bin(c)) - 4)))
        |        * (1::BIGINT << (length(bin(c)) - 4)) END AS lb
        |  FROM cents),
        |sketch AS (
        |  SELECT event_type, bid, CAST(count(*) AS BIGINT) AS cnt,
        |    min(lb) AS lb
        |  FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bid, lb,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bid) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM sketch),
        |qs AS (
        |  SELECT event_type, q, min(lb) AS est_cents
        |  FROM cum, UNNEST([50, 90, 99]) AS u(q)
        |  WHERE cum >= (q * n + 99) // 100
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM cents),
        |ex AS (
        |  SELECT event_type, q, c AS exact_cents
        |  FROM ranked, UNNEST([50, 90, 99]) AS u(q)
        |  WHERE rn = (q * n + 99) // 100)
        |SELECT s.event_type, CAST(s.q AS BIGINT) AS q, est_cents,
        |  exact_cents,
        |  CAST(floor((exact_cents - est_cents) * 1000000 / exact_cents)
        |    AS BIGINT) AS err_ppm
        |FROM qs s JOIN ex USING (event_type, q)
        |ORDER BY event_type, q""".stripMargin
  )
}
