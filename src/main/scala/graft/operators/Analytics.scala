package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over `(user_id, event_type, ts)` streams — the
  * funnel / retention layer a product-analytics deployment runs on the same
  * event table the reference ingests (`cassandra_subscriber.py` writes events;
  * its dashboard counts them by hour). Both operators are pure conditional
  * aggregations: no window sorts, no per-user event materialization, so the
  * hot-user skew that breaks per-key sort plans costs only a map-side partial.
  *
  * 100 TB shape: per-user state is a handful of timestamps (one per funnel
  * stage / one per cohort), reduced with map-side combine before the single
  * user-keyed exchange; stage chaining re-aggregates the ALREADY user-sized
  * table, so each extra stage costs an exchange of |users| rows, never a
  * re-scan of events. */
object Analytics {

  /** Ordered-funnel completion: for the event-type sequence `stages`, count
    * users who reached each stage, where stage k counts only if it happens at
    * or after the user's stage k−1 time and within `maxSpanHours` of stage 1
    * entry. Returns `(stage_idx, stage, n_users)` with stage_idx 1-based —
    * n_users is non-increasing by construction.
    *
    * Stage-1 time is the user's FIRST stage-1 event; each later stage takes
    * the earliest qualifying event (the standard strict-funnel reading, fully
    * deterministic). Dataflow: one filtered min-agg per stage over events —
    * each stage's filter reaches the scan — joined user-keyed to the previous
    * stage's (user, t) table; the join side is always |users| rows. */
  def funnel(events: DataFrame, stages: Seq[String],
             maxSpanHours: Int = 168): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got ${stages.size}")
    require(maxSpanHours >= 1, s"maxSpanHours must be >= 1, got $maxSpanHours")
    val horizon = expr(s"INTERVAL $maxSpanHours HOURS")
    // stage 1: first entry per user
    var reached = events.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("ts")).as("t"))
      .select(col("user_id"), col("t").as("t0"), col("t"))
    val counts = Seq.newBuilder[(Int, String, DataFrame)]
    counts += ((1, stages.head, reached))
    stages.zipWithIndex.drop(1).foreach { case (st, i) =>
      // earliest qualifying event of this stage: >= previous stage time,
      // within the horizon of stage-1 entry
      reached = events.filter(col("event_type") === st)
        .join(reached.select(col("user_id"), col("t0"), col("t").as("t_prev")), "user_id")
        .filter(col("ts") >= col("t_prev") && col("ts") <= col("t0") + horizon)
        .groupBy("user_id")
        .agg(min(col("t0")).as("t0"), min(col("ts")).as("t"))
      counts += ((i + 1, st, reached))
    }
    counts.result().map { case (idx, st, df) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(idx).as("stage_idx"), lit(st).as("stage"), col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Per-key rolling time-series features — the lag/rolling-window projection
    * a feature-engineering pipeline materializes before model training:
    * `lag_1..lag_n` previous values and mean/min/max over the preceding
    * `rollWindow` rows, per key in (ts, tieBreak) order. Missing history is
    * null (the standard leading-edge contract). One shuffle on the key, then
    * a single per-key ordered pass computes every feature (all windows share
    * one sort); same skew caveat as any per-key ordered op — a key too hot to
    * sort on one task belongs in the streaming layer. */
  def rollingFeatures(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, tieBreak: String, nLags: Int = 2,
                      rollWindow: Int = 3): DataFrame = {
    require(nLags >= 1 && rollWindow >= 1,
      s"need nLags >= 1 and rollWindow >= 1, got $nLags/$rollWindow")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieBreak))
    val rw = w.rowsBetween(-rollWindow, -1)
    val lags = (1 to nLags).map(i => lag(col(valueCol), i).over(w).as(s"lag_$i"))
    events.select(
      (Seq(col(keyCol), col(tsCol), col(tieBreak), col(valueCol)) ++ lags ++ Seq(
        round(avg(col(valueCol)).over(rw), 6).as("roll_mean"),
        min(col(valueCol)).over(rw).as("roll_min"),
        max(col(valueCol)).over(rw).as("roll_max"))): _*)
  }

  /** Leave-one-out target (mean) encoding with Micci-Barreca smoothing — the
    * standard high-cardinality categorical feature: encode each row's key by
    * the mean of a numeric target over the key's OTHER rows (the
    * leave-one-out exclusion is what stops the feature leaking the row's own
    * label), shrunk toward the global mean by `smoothing`:
    *
    *   te = ((Σ_key − x) + α·globalMean) / (n_key − 1 + α)
    *
    * `smoothing = 0` and a singleton key → null (no information). The target
    * is fixed-point 2-decimal data (the fixture contract), summed exactly in
    * integer cents, so the encoding is bit-reproducible across engines and
    * partitionings.
    *
    * Scale shape: ONE map-side-combined (key → sum, count) aggregate,
    * `localCheckpoint`ed: the global totals DERIVE from the key stats
    * (exact long sums of long sums — no float drift), so the corpus is
    * scanned once for the stats and once for the encode pass instead of
    * paying a third scan for a separate global aggregate; the global mean is
    * a single-row broadcast; the encode re-join is key-keyed (broadcast when
    * the key table is small). No window over raw rows. */
  def targetEncodeLoo(df: DataFrame, keyCol: String, targetCol: String,
                      smoothing: Double = 0.0): DataFrame = {
    require(smoothing >= 0, s"smoothing must be >= 0, got $smoothing")
    val withC = df.withColumn("__c", round(col(targetCol) * 100).cast("long"))
    val stats = withC.groupBy(keyCol)
      .agg(sum(col("__c")).as("__s"), count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val glob = stats.agg(sum(col("__s")).as("__gs"), sum(col("__n")).as("__gn"))
    // One fused rational, ONE float division: every term is an exact integer
    // (or integer x integral-smoothing product) below 2^53, so both engines
    // derive the identical double and the 6-decimal round cannot straddle a
    // half-boundary differently (the multi-op form measurably did, 1 row in
    // 10k at the fixture).
    val denom = lit(100.0) * col("__gn") * (col("__n") - 1 + smoothing)
    withC
      .join(stats, keyCol)
      .crossJoin(broadcast(glob))
      .withColumn("te_loo",
        when(col("__n") - 1 + smoothing > 0, round(
          ((col("__s") - col("__c")) * col("__gn") +
            lit(smoothing) * col("__gs")) / denom, 6)))
      .drop("__c", "__s", "__n", "__gs", "__gn")
  }

  /** Hourly count anomalies per event type: z-score of each hour's count
    * against the trailing `trailingHours` OBSERVED hours' mean/stddev (rows
    * frame — missing hours are skipped, so a sparse series compares against
    * its own history, not zero-padding). Returns
    * `(event_type, hour, cnt, trailing_mean, zscore, is_anomaly)` with
    * zscore null (and is_anomaly false) until two trailing observations
    * exist or when the trailing window is constant.
    *
    * Scale shape: the events table reduces to (type, hour) counts in ONE
    * map-side-combined agg before anything else; the per-type window then
    * runs over types × hours rows — a day of 100 TB traffic is still only
    * 24 rows per type, so the window sort is structurally tiny. */
  def hourlyAnomalies(events: DataFrame, trailingHours: Int = 24,
                      zThreshold: Double = 3.0): DataFrame = {
    require(trailingHours >= 2, s"need >= 2 trailing hours, got $trailingHours")
    require(zThreshold > 0, s"zThreshold must be > 0, got $zThreshold")
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-trailingHours, -1)
    hourly
      .select(col("event_type"), col("hour"), col("cnt"),
        avg(col("cnt")).over(w).as("mu"), stddev_samp(col("cnt")).over(w).as("sd"))
      .select(col("event_type"), col("hour"), col("cnt"),
        round(col("mu"), 6).as("trailing_mean"),
        when(col("sd") > 0,
          round((col("cnt") - col("mu")) / col("sd"), 6)).as("zscore"))
      .withColumn("is_anomaly", coalesce(abs(col("zscore")) >= zThreshold, lit(false)))
  }

  /** Weekly retention cohorts: users grouped by the week of their FIRST event
    * (the cohort), counted as retained in every later week they produce any
    * event. Returns `(cohort_week, week_offset, n_users)` — offset 0 is the
    * cohort's own size.
    *
    * Two user-keyed exchanges: the first-event argmin (map-side combined) and
    * the distinct (user, week) activity reduction; the final
    * (cohort, offset) count aggregates a table already reduced to one row per
    * user-week. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firstSeen = events.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    active.join(firstSeen, "user_id")
      .select(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }
}
