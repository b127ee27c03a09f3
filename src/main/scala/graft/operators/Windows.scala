package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time windowing over the `events` table (SURVEY §2 X6), batch
  * flavor — the identical expressions run under Structured Streaming
  * with `withWatermark` (see graft.streaming); stream/batch unification
  * means one implementation serves both.
  *
  * Window starts are emitted as epoch microseconds (bigint) for oracle
  * parity (DuckDB `epoch_us`). Aggregates shuffle once on
  * (window, key) with map-side partial aggregation.
  */
object Windows {

  /** Tumbling 1-hour windows per event type. */
  def tumbling(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour windows every 30 minutes (each event lands in 2). */
  def sliding(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Analytics.exactAvg(col("value")).as("avg_value"))
      .select(unix_micros(col("w.start")).as("ws_us"), col("event_type"),
        col("n"), col("avg_value"))

  /** Tumbling 1-hour windows with an EXACT distinct aggregation —
    * active users per hour. `count(distinct)` plans as a two-stage
    * aggregate: (window, user_id) pairs partially deduplicate map-side
    * before the shuffle, then the second aggregation counts per window
    * — no all-rows-to-one-reducer stage and no per-group set state
    * beyond the distinct keys themselves. At 100 TB swap in
    * `approx_count_distinct` (HLL, constant memory per window) when
    * ±2% error is acceptable; the exact form stays the oracle. */
  def activeUsers(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("ws_us"),
        col("n_users"), col("n_events"))

  /** X6 windowed RATE-ANOMALY detection — hours whose event count sits
    * `threshold` population standard deviations from that event type's
    * own hourly mean (traffic spike / outage / bot-burst detection over
    * the observed windows; empty hours are absent from both the counts
    * and the baseline, so the report reads "unusual among active
    * hours"). The z-score is computed from EXACT integer moments:
    * z = (n·C − S) / sqrt(Q·C − S²) with C = windows, S = Σn,
    * Q = Σn² — algebraically (n − mean)/σ but with the numerator and
    * radicand folded into exact int64 arithmetic, so the only float
    * ops are one correctly-rounded sqrt and one division: bit-identical
    * on any engine, no operand-order hazard. Zero-variance types are
    * excluded by the integer guard Q·C − S² > 0 (also the div-by-zero
    * guard); flagging uses the ROUNDED score, the house selection rule.
    *
    * Scale shape: one (type, window) partial+final count, one
    * O(types)-row moment aggregation broadcast back onto the counts —
    * the raw event stream is never revisited and nothing shuffles
    * twice. */
  def rateAnomaly(events: DataFrame, threshold: Double = 2.0): DataFrame =
    rateAnomalyAgainst(events, rateBaseline(events), threshold)

  /** The per-type hourly-rate BASELINE — the stored model artifact of
    * [[rateAnomaly]] (the unigram-model / IVF-centroid pattern): one
    * O(types) row of exact integer moments (C = windows, S = Σn,
    * Q = Σn²) per event type, trained once on a trusted period and
    * then scoring every later slice through [[rateAnomalyAgainst]]
    * without revisiting history. Integer moments make the artifact
    * mergeable: tomorrow's (C,S,Q) ADDS to today's — a streaming
    * maintainer is one `sum` per field. */
  def rateBaseline(events: DataFrame): DataFrame =
    hourlyCounts(events).groupBy(col("event_type"))
      .agg(count(lit(1)).as("c"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("q"))

  /** Serve path of [[rateAnomaly]]: score a batch's hourly counts
    * against a PRETRAINED [[rateBaseline]] — no history rescan; the
    * O(types) baseline broadcasts into the batch counts. Types absent
    * from the baseline are unscorable and drop out (inner join — an
    * unknown type is a schema event, not a rate anomaly). */
  def rateAnomalyAgainst(events: DataFrame, baseline: DataFrame,
                         threshold: Double = 2.0): DataFrame =
    rateScored(hourlyCounts(events).join(broadcast(baseline), Seq("event_type")),
      threshold)

  /** The z step of [[rateAnomalyAgainst]] over (event_type, ws_us, n)
    * counts carrying their type's (c, s, q) moments: the integer
    * Q·C − S² > 0 guard, the rounded z, and the |z| ≥ threshold
    * filter. `StreamPipeline.anomalyStream` runs it on a stream. */
  private[graft] def rateScored(counts: DataFrame, threshold: Double): DataFrame =
    counts
      .filter(col("q") * col("c") - col("s") * col("s") > 0)
      .withColumn("z", round((col("n") * col("c") - col("s")).cast("double") /
        sqrt((col("q") * col("c") - col("s") * col("s")).cast("double")), 4))
      .filter(abs(col("z")) >= threshold)
      .select(col("event_type"), col("ws_us"), col("n"), col("z"))

  private def hourlyCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), unix_micros(col("w.start")).as("ws_us"), col("n"))

  /** Session windows per user with a fixed inactivity gap, batch
    * gaps-and-islands formulation: a session starts where the gap from
    * the previous event exceeds `gap`; the running sum of starts
    * numbers the sessions. Streaming equivalent: `session_window(ts,
    * gap)` (see [[graft.streaming.StreamPipeline.sessionCounts]]). One
    * shuffle on user_id. */
  def sessions(events: DataFrame, gapMinutes: Int = 5): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(unix_micros(col("ts"))).as("session_start_us"),
        max(unix_micros(col("ts"))).as("session_end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** X6 session PATH mining — the most common event-type transitions
    * inside sessions (which step follows which): sessionize with the
    * same gaps-and-islands rule as [[sessions]], order each session's
    * events by exact event time (event_id tie-break), pair each event
    * with its successor via `lead`, and count global (from, to)
    * transitions — the navigation-flow / funnel-discovery report.
    * Both windows partition per user (bounded per-key volume, the
    * same contract as [[sessions]]); the transition count is one
    * partial+final aggregation on O(types²) keys, and the top-k ranks
    * on the exact integer count with full lexicographic tie-breaks. */
  def sessionPaths(events: DataFrame, gapMinutes: Int = 5, k: Int = 10): DataFrame =
    transitionCounts(events, gapMinutes)
      .orderBy(col("n_transitions").desc, col("from_type"), col("to_type"))
      .limit(k)

  /** Shared core of [[sessionPaths]] and [[sessionTransitions]]: the
    * full within-session (from, to) transition-count frame — O(types²)
    * rows after one partial+final aggregation. */
  private def transitionCounts(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    val bySession = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("to_type", lead(col("event_type"), 1).over(bySession))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** X6 session MARKOV TRANSITION MATRIX — [[sessionPaths]]'s
    * transition counts normalized into next-step probabilities
    * P(to | from) = n(from,to) / Σ_to n(from,·): the first-order
    * behavioral model behind "what do users do after an error?" and
    * the generator for expected-path simulation. The normalizing
    * window runs over the ALREADY-AGGREGATED O(types²) frame (at most
    * |types| rows per partition), never over raw events; counts stay
    * exact int64 on both engines so the single rounded division is
    * the only float. Full matrix, no top-k — downstream consumers
    * need the row-stochastic property (each from-row sums to 1). */
  def sessionTransitions(events: DataFrame, gapMinutes: Int = 5): DataFrame = {
    val byFrom = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    transitionCounts(events, gapMinutes)
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        round(col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(byFrom).cast("double"), 6).as("p_next"))
  }

  /** X6 NEXT-BEST-ACTION read — per from_type, the single most likely
    * next event inside a session: rank 1 of [[sessionTransitions]] by
    * the EXACT integer count (never the rounded probability — equal
    * counts round equal, and the house rule ranks on what can't
    * drift) with the full to_type tie-break. The product surface a
    * recommender polls ("user just did X — prefetch what?"); one
    * row_number window over the O(types²) matrix. */
  def sessionNextBest(events: DataFrame, gapMinutes: Int = 5): DataFrame = {
    val byFrom = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
      .orderBy(col("n_transitions").desc, col("to_type"))
    sessionTransitions(events, gapMinutes)
      .withColumn("rk", row_number().over(byFrom))
      .filter(col("rk") === 1)
      .select(col("from_type"), col("to_type").as("next_type"),
        col("n_transitions"), col("p_next"))
  }

  /** X6 COHORT RETENTION matrix — for each acquisition cohort (users
    * whose FIRST event fell on day D), how many came back k days
    * later (the product-analytics retention triangle; for a training
    * corpus the same shape reads "how much of each crawl generation
    * is still contributing documents k snapshots on"). Day identity
    * is the exact integer `unix_micros div 86_400_000_000` — never a
    * float epoch division, so both engines bucket midnight-boundary
    * events identically. Output: (cohort_day, offset_days, n_users,
    * retention = n_users / cohort size, rounded 6).
    *
    * Scale shape: raw events collapse to distinct (user, day) pairs
    * FIRST (two-stage, map-side partial dedup — a user's thousandth
    * event that day never crosses the wire), cohort day is a
    * user-keyed min over that already-small frame, and the matrix is
    * one (cohort, offset) partial+final count. Cohort sizes derive
    * from the O(users) cohort frame itself (a user is always active
    * on their own day 0) and broadcast back onto the O(days²) cells —
    * the pair frame is never re-aggregated. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day_idx"))
      .distinct()
    val cohorts = days.groupBy(col("user_id")).agg(min(col("day_idx")).as("cohort_day"))
    val cells = days.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day_idx") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = cohorts.groupBy(col("cohort_day")).agg(count(lit(1)).as("n_cohort"))
    cells.join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("offset_days"), col("n_users"),
        round(col("n_users").cast("double") / col("n_cohort"), 6).as("retention"))
  }

  /** X6 COHORT VALUE (LTV triangle) — the revenue companion to
    * [[cohortRetention]]: per (first-active-day cohort, age-in-days)
    * cell, event count and payload-value total — the lifetime-value
    * triangle finance models read cumulative along each row. Same
    * user-keyed first-day derivation and (cohort, age) rollup as the
    * retention matrix; value sums round to 4 (the house tumbling-sum
    * convention) so the fold order never shows. */
  def cohortValue(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"), col("value"))
    val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** X6 ACTIVITY STREAKS — per user, the longest run of CONSECUTIVE
    * active days (the engagement-streak metric), via the
    * gaps-and-islands identity: on the distinct (user, day) frame
    * ordered by day, `day − row_number()` is constant exactly within
    * a consecutive run, so runs fall out of one grouping — no
    * iterative chasing, no self-join. Output per user: active days,
    * number of streaks, longest streak, and its start day (ties →
    * earliest, via the max_by struct rule).
    *
    * Scale shape: distinct pairs first (map-side partial dedup), then
    * a user-partitioned window whose input is each user's ACTIVE DAYS
    * (bounded by the calendar, not event volume), then two keyed
    * aggregations. Day identity is the exact integer µs division. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"), sum(col("len")).as("n_days"),
        max(col("len")).as("max_streak"),
        max_by(col("start_day"), struct(col("len"), -col("start_day")))
          .as("best_start"))
  }

  /** X6 activity heatmap: hour-of-day × day-of-week traffic matrix —
    * the load-shape report behind capacity planning and anomaly
    * baselines. Time cells come from PURE integer epoch arithmetic
    * (dow = (epoch_day + 4) % 7 with 0 = Sunday — 1970-01-01 was a
    * Thursday; hour = epoch_hour % 24), never engine calendar
    * functions, whose week-start and timezone conventions differ
    * across engines. One map-side-combined aggregation; output is
    * O(168) rows at any scale. */
  def activityHeatmap(events: DataFrame): DataFrame =
    events.select(
        ((expr("unix_micros(ts) div 86400000000") + 4) % 7).as("dow"),
        (expr("unix_micros(ts) div 3600000000") % 24).as("hour"),
        col("value"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** X6 ROLLING 7-DAY ACTIVE USERS — per day, distinct users active in
    * the trailing week [day−6, day]: the rolling-WAU curve (and at 30
    * the rolling-MAU) product health tracks daily. Each (user, day)
    * DISTINCT row fans out to the ≤ 7 report days it contributes to
    * (`explode(sequence())` — map-side, never a self-join of day
    * ranges), then one distinct-count per report day; cost is
    * window·|du|, independent of raw event volume. Days with no
    * trailing activity simply have no row — and the first window−1
    * days aggregate a partial window by construction. The 100 TB swap
    * is [[graft.operators.Profiling.hllRegisters]]: OR-fold 7 stored
    * day sketches per report day instead of re-counting. */
  def rollingActive(events: DataFrame, window: Int = 7): DataFrame = {
    val du = events.select(
        expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .distinct()
    du.select(col("user_id"),
        explode(sequence(col("day"), col("day") + (window - 1))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(du.select(col("day")).distinct(), Seq("day"), "left_semi")
  }

  /** X6 NEW-vs-RETURNING daily split — per day, how many of its
    * distinct users are seen for the FIRST time (their minimum active
    * day is this day) vs returning: the growth-vs-retention
    * decomposition of the DAU curve. Two user-keyed aggregations
    * (distinct day set, then per-user first day broadcast back via an
    * equi join on user_id) and one day rollup — all map-side-combined,
    * O(users) intermediate, O(days) out. */
  def newVsReturning(events: DataFrame): DataFrame = {
    val du = events.select(
        expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .distinct()
    val first = du.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    du.join(first, "user_id")
      .groupBy(col("day"))
      .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning"))
  }

  /** X6 DAU/WAU STICKINESS — per day, the day's distinct users over
    * the distinct users of its EPOCH week (`day div 7` — the
    * [[activityHeatmap]] integer-arithmetic discipline, never engine
    * calendar-week functions with divergent week-start conventions):
    * the engagement ratio product analytics tracks ("what share of
    * the weekly audience shows up on a given day"). Two
    * distinct-count aggregations at day and week grain; the O(weeks)
    * frame broadcasts back onto the O(days) one. Exact distincts
    * because the ratio IS the audit — the 100 TB form feeds both
    * grains from [[graft.operators.Profiling.hllRegisters]] sketches
    * instead (registers fold from day to week for free). */
  def stickiness(events: DataFrame): DataFrame = {
    val du = events.select(
        expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = events.select(
        expr("unix_micros(ts) div 86400000000 div 7").as("week"),
        col("user_id"))
      .distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("wau"))
    dau.withColumn("week", expr("day div 7"))
      .join(broadcast(wau), "week")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
  }

  /** X6 WEEK-over-WEEK CHURN — per epoch week (`day div 7`, the
    * integer-arithmetic discipline), the audience decomposed against
    * the PREVIOUS week: users active in both (retained), active now
    * but not last week (gained — brand-new or resurrected; the
    * first-ever/resurrected split is [[newVsReturning]]'s at day
    * grain), and active last week but gone now (churned). The
    * retention/churn ledger product teams reconcile weekly growth
    * with. No self-join of week frames: each distinct (user, week)
    * row fans out map-side to the two report weeks it informs (its
    * own as "current", week+1 as "previous"), then one (user, week)
    * flag-OR aggregation and one O(weeks) rollup classify every
    * user-week — the [[rollingActive]] fan-out shape, cost 2·|uw|
    * regardless of raw event volume. Report rows only for weeks with
    * activity (the week after the corpus ends is not reported). */
  def weeklyChurn(events: DataFrame): DataFrame = {
    val uw = events.select(
        expr("unix_micros(ts) div 86400000000 div 7").as("week"),
        col("user_id"))
      .distinct()
    val tagged = uw.select(col("user_id"), col("week"), lit(1L).as("cur"),
        lit(0L).as("prev"))
      .unionAll(uw.select(col("user_id"), (col("week") + 1L).as("week"),
        lit(0L).as("cur"), lit(1L).as("prev")))
    tagged.groupBy(col("user_id"), col("week"))
      .agg(max(col("cur")).as("cur"), max(col("prev")).as("prev"))
      .groupBy(col("week"))
      .agg(sum(when(col("cur") === 1L && col("prev") === 1L, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("cur") === 1L && col("prev") === 0L, 1L).otherwise(0L))
          .as("n_gained"),
        sum(when(col("cur") === 0L && col("prev") === 1L, 1L).otherwise(0L))
          .as("n_churned"))
      .join(uw.select(col("week")).distinct(), Seq("week"), "left_semi")
  }

  /** X6 DAILY VOLUME TREND per event type — OLS slope/intercept of
    * the per-day event count on the day index (offset from each
    * type's first active day, so the moments stay small and the
    * intercept is "volume at day 0"): the capacity-planning /
    * drift-detection line product and infra teams fit weekly, and
    * the [[zipfSlope]] integer-OLS discipline applied to time. All
    * four moment sums are exact int64 over (day-offset, count)
    * pairs; slope and intercept are each ONE division of exact
    * integers ((nΣxy−ΣxΣy)/(nΣxx−Σx²) and (ΣyΣxx−ΣxΣxy)/same), so
    * both engines emit identical doubles. One (type, day) count
    * aggregation (map-side combined), an O(types) min-day broadcast
    * back, and an O(types) rollup; types with a single active day
    * have no slope and are dropped. */
  def dailyTrend(events: DataFrame): DataFrame = {
    val c = events.select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    val mins = c.groupBy(col("event_type")).agg(min(col("day")).as("d0"))
    c.join(broadcast(mins), "event_type")
      .select(col("event_type"), (col("day") - col("d0")).as("x"),
        col("n").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_days") >= 2)
      .select(col("event_type"), col("n_days"), col("sy").as("n_events"),
        round((col("n_days") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("intercept"))
  }

  /** X6 DETRENDED VOLUME ANOMALY — per (type, day), the residual of
    * the daily count against [[dailyTrend]]'s fitted line, z-scored
    * within the type: the drift-aware alarm [[rateAnomaly]] cannot
    * give (a steadily growing service trips a raw-moment z weekly;
    * the residual z only fires when a day leaves the TREND). The
    * residual is computed from the trend's ROUNDED slope/intercept
    * with identical operand order (`y − (slope·x + intercept)`), so
    * both engines produce bit-identical doubles, then quantizes to
    * 1e-4 units for exact int64 residual moments and the
    * `(n·q − S)/√(n·Q − S²)` z form. Costs one extra pass over the
    * O(types·days) count frame; the O(types) fit broadcasts. */
  def trendAnomaly(events: DataFrame, zBar: Double = 2.0): DataFrame = {
    val c = events.select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))
    val mins = c.groupBy(col("event_type")).agg(min(col("day")).as("d0"))
    val fit = dailyTrend(events)
      .select(col("event_type"), col("slope"), col("intercept"))
    val r = c.join(broadcast(mins), "event_type")
      .join(broadcast(fit), "event_type")
      .select(col("event_type"), col("day"), col("n"),
        floor((col("n") - (col("slope") * (col("day") - col("d0")) +
          col("intercept"))) * 10000 + 0.5).cast("long").as("rq"))
    val m = r.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nn"), sum(col("rq")).as("s"),
        sum(col("rq") * col("rq")).as("s2"))
      .filter(col("nn") * col("s2") - col("s") * col("s") > 0L)
    r.join(broadcast(m), "event_type")
      .select(col("event_type"), col("day"), col("n"),
        round(col("rq").cast("double") / lit(1e4), 4).as("resid"),
        round((col("nn") * col("rq") - col("s")).cast("double") /
          sqrt((col("nn") * col("s2") - col("s") * col("s")).cast("double")), 4)
          .as("z"))
      .withColumn("anomaly", when(abs(col("z")) > zBar, 1L).otherwise(0L))
  }

  /** X6 INTER-EVENT GAP HISTOGRAM — the distribution of consecutive
    * same-user event gaps in power-of-two second buckets
    * (`length(bin(gap_s))`, the [[graft.operators.TextAnalysis
    * .lengthHistogram]] bucketing — identical string-op semantics in
    * both engines): the data-driven way to CHOOSE [[sessions]]'
    * inactivity gap — the histogram's valley between the
    * within-session mode and the between-visit mode IS the
    * threshold, read from data instead of folklore. One lag window
    * per USER partition (keyed, never global; ties break on
    * event_id so the lag is deterministic), then an O(buckets)
    * rollup. */
  def gapHistogram(events: DataFrame): DataFrame =
    gapSeconds(events)
      .groupBy(length(bin(col("gap_s"))).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_gaps"), min(col("gap_s")).as("min_gap_s"),
        max(col("gap_s")).as("max_gap_s"))

  /** The same-user inter-event gap stream (whole seconds) shared by
    * [[gapHistogram]] and the log-width histogram sketch family
    * ([[graft.operators.Profiling.histLogSketch]]): one lag window
    * per USER partition (keyed, never global; ties break on event_id
    * so the lag is deterministic), first event per user dropped. */
  def gapSeconds(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events.select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(expr("(us - prev) div 1000000").as("gap_s"))
  }

  /** [[gapSeconds]] tagged with the day of the gap-CLOSING event —
    * the grain of the daily log-sketch family: a gap "happens" when
    * its later event arrives, so day cuts can never change the gap
    * values themselves (the same reason the merge law shards by
    * user). Same single keyed lag window. */
  def gapSecondsByDay(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events.select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(expr("us div 86400000000").as("day"),
        expr("(us - prev) div 1000000").as("gap_s"))
  }

  /** X6 USER LIFETIME features — the per-user RFM-style profile
    * (first/last active day, calendar span, active days, events,
    * distinct types, activity density = active/span): the feature
    * table churn models and audience segmentation consume, and the
    * per-user companion to [[weeklyChurn]]'s aggregate ledger. One
    * user-keyed aggregation over the slim (user, day, type)
    * projection — countDistinct plans as two-phase partial
    * aggregation, O(users) out; density is one rounded division. */
  def userLifetime(events: DataFrame): DataFrame =
    events.select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"),
        countDistinct(col("day")).as("n_active_days"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
      .select(col("user_id"), col("first_day"), col("last_day"),
        (col("last_day") - col("first_day") + 1L).as("span_days"),
        col("n_active_days"), col("n_events"), col("n_types"),
        round(col("n_active_days").cast("double") /
          (col("last_day") - col("first_day") + 1L).cast("double"), 6)
          .as("activity_density"))

  /** X6 DAILY TRENDING values — per day, the top-k payload values by
    * event count with their rank (the "what is hot today" leaderboard
    * over a semi-structured property bag). The value is pulled out of
    * the raw `props` JSON string with a regex valid in both Java and
    * RE2 (no backslash escapes — the house oracle-parity rule);
    * unparseable bags become null and are excluded (they are a schema
    * observation, not a trending value). All ranking is on exact
    * integers with the value itself as tie-break.
    *
    * Scale shape: one narrow extract projection, one (day, value)
    * partial+final count, then a rank window PARTITIONED BY DAY — its
    * input is the aggregated frame, bounded per partition by the
    * day's distinct value count, never by raw event volume. */
  def trendingProps(events: DataFrame, k: Int = 3): DataFrame = {
    val extracted = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    val byDay = events
      .select(expr("unix_micros(ts) div 86400000000").as("day_idx"),
        when(length(extracted) > 0, extracted.cast("long")).as("prop_k"))
      .filter(col("prop_k").isNotNull)
      .groupBy(col("day_idx"), col("prop_k")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day_idx")).orderBy(col("n").desc, col("prop_k"))
    byDay.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("day_idx"), col("prop_k"), col("n"), col("rank"))
  }

  /** X6 A/B EXPERIMENT ANALYSIS — per event type, the two-sample
    * Welch z-test between hash-assigned cohorts (variant =
    * `md5-hash60(user_id) % 2`, the SAME house assignment rule as
    * `x1_sample_split` — how real platforms assign: deterministic,
    * reproducible under retries, uncorrelated with user-id assignment
    * order, where a naive `user_id % 2` parity inherits any
    * odd/even structure in id allocation): arm sizes, arm means, the
    * z statistic, and the significance flag at `zBar` — the readout
    * every experimentation platform serves. Values quantize to exact
    * 1e-2 int64 units
    * (cents) so the per-arm moments (n, Σv, Σv²) are EXACT integer
    * sums; the z formula then runs in doubles with IDENTICAL operand
    * order on both engines (each IEEE op is correctly rounded, so
    * fixed order ⇒ bit-identical), and the flag tests the ROUNDED z
    * (house rule). Arms with fewer than 2 observations or zero
    * pooled variance drop (z undefined). One partial+final moment
    * aggregation over events, then an O(types) self-join — raw
    * events cross the wire once. At extreme corpus scale the Σv²
    * moment outgrows int64 and moves to a wider type; the shape
    * (mergeable integer moments per arm) is what survives. */
  def abTest(events: DataFrame, zBar: Double = 1.96): DataFrame =
    abTestFromMoments(abMoments(events), zBar)

  /** The per-(event_type, variant) moment grain under [[abTest]]. On
    * a streaming frame it is the incremental maintainer (state =
    * O(types·2) counter rows forever) whose sink table
    * [[abTestFromMoments]] serves. */
  def abMoments(events: DataFrame): DataFrame = {
    val vq = floor(col("value") * 100 + 0.5).cast("long")
    val arm = Sampling.hash60(col("user_id")) % 2
    events
      .select(col("event_type"), arm.as("variant"), vq.as("v"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"))
  }

  /** [[abTest]] over a PRECOMPUTED (event_type, variant, n, s, q)
    * moment table — the serve form over a streaming-maintained or
    * stored moment state: the readout touches O(types·2) counter
    * rows, raw events were consumed once in the maintainer. */
  def abTestFromMoments(m: DataFrame, zBar: Double = 1.96): DataFrame = {
    val a = m.filter(col("variant") === 0).select(col("event_type"),
      col("n").as("n_a"), col("s").as("s_a"), col("q").as("q_a"))
    val b = m.filter(col("variant") === 1).select(col("event_type"),
      col("n").as("n_b"), col("s").as("s_b"), col("q").as("q_b"))
    def sq(n: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column,
           q: org.apache.spark.sql.Column) =
      (n * q - s * s).cast("double") /
        (n.cast("double") * n.cast("double") * (n - 1).cast("double"))
    a.join(b, "event_type")
      .filter(col("n_a") > 1 && col("n_b") > 1 &&
        (col("n_a") * col("q_a") - col("s_a") * col("s_a") > 0 ||
          col("n_b") * col("q_b") - col("s_b") * col("s_b") > 0))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("s_a").cast("double") / (col("n_a").cast("double") * 100), 4)
          .as("mean_a"),
        round(col("s_b").cast("double") / (col("n_b").cast("double") * 100), 4)
          .as("mean_b"),
        round((col("s_a").cast("double") / col("n_a").cast("double") -
            col("s_b").cast("double") / col("n_b").cast("double")) /
          sqrt(sq(col("n_a"), col("s_a"), col("q_a")) +
            sq(col("n_b"), col("s_b"), col("q_b"))), 4).as("z"))
      .withColumn("significant", when(abs(col("z")) > zBar, 1L).otherwise(0L))
  }

  /** X6 ITEM CO-VISITATION — "users who touched item X also touched
    * item Y": distinct-user co-occurrence counts over the payload item
    * ids ([[trendingProps]]'s extraction), the statistic behind every
    * "also viewed" shelf and the item-item edge weight collaborative
    * filters start from.
    *
    * Scale shape: the ONLY safe way to build this at corpus scale is
    * to bound the per-user fan-out BEFORE pairing — a power user with
    * 10⁴ distinct items would alone emit 5·10⁷ pairs. Items rank per
    * user by interaction count (exact ints, item tie-break) and only
    * the top `capPerUser` survive into the USER-KEYED equi self-join
    * (never a cross join): pairs are bounded at C(cap,2) per user
    * forever. `a.item < b.item` canonicalizes the unordered pair; it
    * rides the user-keyed hash join as a post-filter, not a join
    * strategy. `minSupport` prunes the long noise tail before the
    * pair frame is stored or served. */
  def covisit(events: DataFrame, capPerUser: Int = 20,
              minSupport: Int = 2): DataFrame =
    covisitPairs(events, capPerUser).filter(col("n_users") >= minSupport)

  /** The capped per-user item set feeding [[covisitPairs]] and
    * [[itemLift]]'s marginals — one row per surviving (user, item). */
  private def cappedItems(events: DataFrame, capPerUser: Int): DataFrame = {
    val extracted = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    val ui = events.select(col("user_id"),
        when(length(extracted) > 0, extracted.cast("long")).as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id"), col("item")).agg(count(lit(1)).as("cnt"))
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("cnt").desc, col("item"))
    ui.withColumn("rk", row_number().over(byUser))
      .filter(col("rk") <= capPerUser).select(col("user_id"), col("item"))
  }

  /** [[covisit]]'s UNTHRESHOLDED pair counts — the mergeable artifact:
    * each user contributes its indicator to a pair's count, so pair
    * tables from USER-DISJOINT shards fold by plain addition
    * ([[covisitMerge]]); the support threshold must apply only AFTER
    * the fold (a pair at 1+1 across shards is support-2). */
  def covisitPairs(events: DataFrame, capPerUser: Int = 20): DataFrame = {
    // pair generation is MAP-SIDE over the per-user capped item SET
    // (items are distinct by construction, so the double generator +
    // a<b filter emits exactly the old equi-self-join's pair multiset,
    // order-free regardless of collect order): the capped-items
    // subtree — two full event-table window passes — runs ONCE
    // instead of twice and the pair-side join shuffle disappears;
    // only the final (item_a, item_b) rollup (partial-agg'd, the
    // skew-safe shape SkewSpec pins) exchanges anything.
    val capped = cappedItems(events, capPerUser)
    capped.groupBy(col("user_id")).agg(collect_list(col("item")).as("items"))
      .select(explode(col("items")).as("item_a"), col("items"))
      .select(col("item_a"), explode(col("items")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_users"))
  }

  /** X6 SESSION-SCOPED CO-VISITATION — [[covisit]] at the grain real
    * "also viewed" shelves start from: items co-occurring within the
    * SAME SESSION (the user's one sitting), not merely in the same
    * lifetime history — a pair the user touched months apart says
    * nothing about intent; a pair inside one 5-minute-gap session
    * does. Sessions come from the [[sessions]] gaps-and-islands rule
    * over the FULL event stream (non-item events still glue a session
    * together), items from [[trendingProps]]'s extraction; the
    * cap-before-pairing discipline moves one grain down — items rank
    * per (user, session) by exact count with item tie-break, only the
    * top `capPerSession` survive into the (user, session)-KEYED equi
    * self-join, so pairs stay bounded at C(cap,2) per session forever
    * and a cross-session pair can never form (the key includes
    * session_seq). `n_sessions` counts co-occurrence CONTEXTS (each
    * session votes once per pair), mergeable by addition across
    * user-disjoint shards like [[covisitPairs]]; the support threshold
    * applies after aggregation. */
  def covisitSession(events: DataFrame, gapMinutes: Int = 5,
                     capPerSession: Int = 20, minSupport: Int = 2): DataFrame =
    covisitSessionPairs(events, gapMinutes, capPerSession)
      .filter(col("n_sessions") >= minSupport)

  /** [[covisitSession]]'s UNTHRESHOLDED pair counts — the mergeable
    * artifact at the session grain: sessions are PER-USER (the
    * [[sessions]] key), so a user-disjoint shard cut can never split
    * a session, and pair tables fold by plain addition
    * ([[covisitSessionMerge]]) with the support threshold after the
    * fold — the [[covisitPairs]] merge law carried down one grain. */
  def covisitSessionPairs(events: DataFrame, gapMinutes: Int = 5,
                          capPerSession: Int = 20): DataFrame = {
    // same map-side pair generation as [[covisitPairs]], keyed one
    // grain down: the sessionization subtree (two event-table window
    // passes) runs once, the (user, session)-keyed self-join shuffle
    // disappears, and the a<b filter over the distinct per-session
    // item set reproduces the join's pair multiset exactly.
    val capped = cappedSessionItems(events, gapMinutes, capPerSession)
    capped.groupBy(col("user_id"), col("session_seq"))
      .agg(collect_list(col("item")).as("items"))
      .select(explode(col("items")).as("item_a"), col("items"))
      .select(col("item_a"), explode(col("items")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_sessions"))
  }

  /** Fold user-shard [[covisitSessionPairs]] tables — counter addition
    * by pair, thresholding after (a pair at 1+1 across shards is
    * support-2; valid only for USER-disjoint shards — an item or TIME
    * shard would sever within-session pairs). */
  def covisitSessionMerge(shards: Seq[DataFrame], minSupport: Int = 2): DataFrame =
    shards.reduce(_ unionByName _)
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("n_sessions")).as("n_sessions"))
      .filter(col("n_sessions") >= minSupport)

  /** X6 SESSION "ALSO VIEWED" shelf — [[alsoViewed]] read from the
    * SESSION-scoped pair table: per item, the top-k co-visited items
    * by the exact same-session context count (item tie-break).
    * [[covisitSession]]'s canonical pairs symmetrize (each pair serves
    * both endpoints) and one rank window runs over the aggregated
    * O(pairs) frame — raw events were consumed once, in the session
    * covisit build; this is the grain production shelves actually
    * rank on. */
  def alsoViewedSession(events: DataFrame, k: Int = 3, gapMinutes: Int = 5,
                        capPerSession: Int = 20, minSupport: Int = 2): DataFrame =
    alsoViewedSessionFrom(
      covisitSession(events, gapMinutes, capPerSession, minSupport), k)

  /** [[alsoViewedSession]] over a PRECOMPUTED (item_a, item_b,
    * n_sessions) pair table — the serve form at the session grain
    * ([[alsoViewedFrom]]'s contract one grain down): the shelf read
    * touches only the stored O(pairs) artifact; raw events were
    * consumed once, in the session covisit build (or never on the
    * serving cluster — the pair table is the nightly artifact, and
    * it merges by addition across user-disjoint shards via
    * [[covisitSessionMerge]] before the threshold). */
  def alsoViewedSessionFrom(pairs: DataFrame, k: Int = 3): DataFrame = {
    val sym = pairs
      .select(col("item_a").as("item"), col("item_b").as("rec"), col("n_sessions"))
      .unionByName(pairs.select(col("item_b").as("item"), col("item_a").as("rec"),
        col("n_sessions")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("n_sessions").desc, col("rec"))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** [[cappedItems]] one grain down: the capped per-(user, session)
    * item set feeding [[covisitSession]] — sessionize first (the
    * [[sessions]] windows), then rank items within each session. */
  private def cappedSessionItems(events: DataFrame, gapMinutes: Int,
                                 capPerSession: Int): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    val extracted = regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
    val ui = events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("user_id"), col("session_seq"),
        when(length(extracted) > 0, extracted.cast("long")).as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id"), col("session_seq"), col("item"))
      .agg(count(lit(1)).as("cnt"))
    val bySess = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("cnt").desc, col("item"))
    ui.withColumn("rk", row_number().over(bySess))
      .filter(col("rk") <= capPerSession)
      .select(col("user_id"), col("session_seq"), col("item"))
  }

  /** Fold user-shard [[covisitPairs]] tables — counter addition by
    * pair, thresholding after (the sketch-family merge law on the
    * co-occurrence domain; valid only for USER-disjoint shards — an
    * item shard would sever within-user pairs). */
  def covisitMerge(shards: Seq[DataFrame], minSupport: Int = 2): DataFrame =
    shards.reduce(_ unionByName _)
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("n_users")).as("n_users"))
      .filter(col("n_users") >= minSupport)

  /** X6 MARKET-BASKET RULE STATS — per qualifying pair, the classic
    * association-rule triple over the capped item sets: support
    * (co-occurring users), confidence P(b | a) = n_ab/n_a, and lift
    * n_ab·N/(n_a·n_b) (how much more often the pair co-occurs than
    * independence predicts — lift > 1 is the "frequently bought
    * together" signal, < 1 substitution). Marginals and N come from
    * the SAME capped frame as the pairs (internal consistency: a rule
    * is judged against the universe that generated it). All counts
    * exact int64; the two rounded divisions are the only floats. The
    * O(items) marginal table broadcasts into the pair frame; N is one
    * broadcast scalar row. */
  def itemLift(events: DataFrame, capPerUser: Int = 20,
               minSupport: Int = 2): DataFrame = {
    val capped = cappedItems(events, capPerUser)
    val ma = capped.groupBy(col("item")).agg(count(lit(1)).as("n_i"))
    val nn = capped.agg(countDistinct(col("user_id")).as("n_u"))
    covisit(events, capPerUser, minSupport)
      .join(broadcast(ma.select(col("item").as("item_a"), col("n_i").as("n_a"))),
        Seq("item_a"))
      .join(broadcast(ma.select(col("item").as("item_b"), col("n_i").as("n_b"))),
        Seq("item_b"))
      .crossJoin(broadcast(nn))
      .select(col("item_a"), col("item_b"), col("n_users").as("n_ab"),
        col("n_a"), col("n_b"),
        round(col("n_users").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence"),
        round(col("n_users").cast("double") * col("n_u").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
  }

  /** X6 "ALSO VIEWED" read — per item, the top-k co-visited items by
    * the EXACT distinct-user count (item-id tie-break): [[covisit]]'s
    * canonical pairs symmetrized (each pair serves both endpoints)
    * then one rank window over the aggregated pair frame — raw events
    * were consumed once, in the covisit build. */
  def alsoViewed(events: DataFrame, k: Int = 3, capPerUser: Int = 20,
                 minSupport: Int = 2): DataFrame =
    alsoViewedFrom(covisit(events, capPerUser, minSupport), k)

  /** [[alsoViewed]] over a PRECOMPUTED (item_a, item_b, n_users) pair
    * table — the serve form: the shelf read touches only the stored
    * O(pairs) artifact, raw events were consumed once in its build. */
  def alsoViewedFrom(pairs: DataFrame, k: Int = 3): DataFrame = {
    val sym = pairs
      .select(col("item_a").as("item"), col("item_b").as("rec"), col("n_users"))
      .unionByName(
        pairs.select(col("item_b").as("item"), col("item_a").as("rec"), col("n_users")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item")).orderBy(col("n_users").desc, col("rec"))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** X6 ordered event funnel — per user, the earliest STRICTLY
    * event-time-ordered completion of stage1 → stage2 → stage3 (the
    * product-analytics "view → click → purchase" question: not "did
    * the user ever purchase" but "did a purchase follow a click that
    * followed a view"). Output per user: the three stage timestamps
    * (later stages null where the chain breaks) and the funnel depth
    * reached; users who never hit stage1 are not in the funnel.
    *
    * Scale shape: each stage is a user-keyed partial+final min
    * aggregation over only ITS events (the event-type filter prunes
    * first), and each later stage joins the previous stage's ONE ROW
    * PER USER frame — hash joins on user_id, no window over raw
    * events, no per-user event buffering. Three stages = three
    * user-cardinality shuffles, each input strictly smaller than the
    * last. The earliest-completion semantics are the greedy ones:
    * first stage1, then the first stage2 after it, then the first
    * stage3 after that — each min is conditioned only on the previous
    * stage's time, so the chain is computable stage by stage (greedy
    * is optimal here: taking the earliest valid event at each stage
    * never excludes a later completion). */
  def funnel(events: DataFrame,
             stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.length == 3, "funnel is three-stage")
    val s1 = events.filter(col("event_type") === stages(0))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = events.filter(col("event_type") === stages(1))
      .join(s1.select(col("user_id"), col("t1")), "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = events.filter(col("event_type") === stages(2))
      .join(s2.select(col("user_id"), col("t2")), "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"),
        unix_micros(col("t1")).as("t1_us"),
        unix_micros(col("t2")).as("t2_us"),
        unix_micros(col("t3")).as("t3_us"),
        (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
          + when(col("t3").isNotNull, 1L).otherwise(0L)).as("depth"))
  }

  /** X6 funnel CONVERSION rates — the stage rollup every funnel chart
    * draws: per stage, how many users reached it and the conversion
    * rate from the PREVIOUS stage (the drop-off localizer; overall
    * conversion is the product). One aggregation over [[funnel]]'s
    * O(users) frame; rates are one rounded division each, null (not
    * ∞/NaN) when the previous stage is empty. */
  def funnelRates(events: DataFrame,
                  stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame =
    funnelRatesFrom(funnel(events, stages), stages)

  /** [[funnelRates]] over a precomputed funnel frame — the reuse form
    * (one funnel build serves depth, latency, and rate reads). */
  def funnelRatesFrom(f: DataFrame,
                      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    val c = f.agg(count(lit(1)).as("n1"),
      sum(when(col("t2_us").isNotNull, 1L).otherwise(0L)).as("n2"),
      sum(when(col("t3_us").isNotNull, 1L).otherwise(0L)).as("n3"))
    val r1 = c.select(lit(1).as("stage"), lit(stages(0)).as("stage_name"),
      col("n1").as("n_reached"), round(lit(1.0), 6).as("conv_rate"))
    val r2 = c.select(lit(2).as("stage"), lit(stages(1)).as("stage_name"),
      col("n2").as("n_reached"),
      round(col("n2").cast("double") / expr("nullif(n1, 0)"), 6).as("conv_rate"))
    val r3 = c.select(lit(3).as("stage"), lit(stages(2)).as("stage_name"),
      col("n3").as("n_reached"),
      round(col("n3").cast("double") / expr("nullif(n2, 0)"), 6).as("conv_rate"))
    r1.unionByName(r2).unionByName(r3)
  }

  /** The (event_type, day) count grain under the dow family. Day
    * identity is the integer `unix_micros div 86_400_000_000` (the
    * [[dailyTrend]] rule); dow is `(day + 4) % 7` so 0 = Sunday (epoch
    * day 0 was a Thursday), and the per-(type, dow) moments over these
    * counts are exact int64 sums. On a streaming frame it is the
    * incremental maintainer (state = O(types·days) rows) whose sink
    * table [[dowBaselineFromDaily]] folds. */
  def dailyCounts(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))

  private def dailyDowCounts(events: DataFrame): DataFrame =
    dailyCounts(events).withColumn("dow", (col("day") + 4) % 7)

  /** The per-(event_type, day-of-week) moment BASELINE — the stored
    * model artifact of [[dowAnomaly]] ([[rateBaseline]]'s pattern one
    * grain up): O(types·7) rows of exact integer moments (n_days, Σn,
    * Σn²), trained once on a trusted period and then scoring any later
    * slice through [[dowAnomalyAgainst]] without revisiting history.
    * Integer moments keep the artifact mergeable — next week's
    * (n_days, S, Q) ADDS to this week's. */
  def dowBaseline(events: DataFrame): DataFrame =
    dowBaselineFromDaily(dailyCounts(events))

  /** [[dowBaseline]] folded from a PRECOMPUTED (event_type, day, n)
    * daily-count table — the serve form over a streaming-maintained
    * daily state (fold O(days·types) stored rows, re-scan nothing). */
  def dowBaselineFromDaily(daily: DataFrame): DataFrame =
    daily.withColumn("dow", (col("day") + 4) % 7)
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("s2"))

  /** X6 WEEKLY SEASONALITY PROFILE — per (event_type, day-of-week):
    * observed days, total events, mean daily count, and the share of
    * the type's weekly volume landing on that weekday. The flat-share
    * null is 1/7 ≈ 0.142857; a dow whose share sits far from it IS
    * the seasonality (traffic that dips every Sunday, crawls that
    * batch on Mondays). Two partial+final aggregations (events →
    * daily counts → dow moments) plus one window over the O(types·7)
    * profile frame — raw events cross the wire once. */
  def dowProfile(events: DataFrame): DataFrame = {
    val byType = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    val g = dowBaseline(events)
    g.select(col("event_type"), col("dow"), col("n_days"),
      col("s").as("n_events"),
      round(col("s").cast("double") / col("n_days").cast("double"), 4)
        .as("mean_daily"),
      round(col("s").cast("double") / sum(col("s")).over(byType).cast("double"), 6)
        .as("share"))
  }

  /** X6 DOW-AWARE VOLUME ANOMALY — per (event_type, day): the z-score
    * of the daily count against ITS OWN WEEKDAY's distribution within
    * the type. [[trendAnomaly]] detrends growth but still pages every
    * Sunday on weekly-seasonal traffic — comparing Sundays only to
    * Sundays is the classic false-alarm killer. Counts are integers,
    * so the z is computed in the exact-int64 `(n·q − S)/√(n·Q − S²)`
    * form ([[trendAnomaly]]'s recipe, no quantization needed) and
    * rounded once; groups with zero variance or a single day are
    * excluded (z undefined). Joins the O(types·7) moment frame back
    * by broadcast — the daily frame is never re-shuffled. */
  def dowAnomaly(events: DataFrame, zBar: Double = 2.0): DataFrame =
    dowAnomalyAgainst(events, dowBaseline(events), zBar)

  /** Serve path of [[dowAnomaly]]: score a batch's daily counts
    * against a PRETRAINED [[dowBaseline]] — no history rescan; the
    * O(types·7) baseline broadcasts into the batch's daily counts.
    * (type, dow) cells absent from the baseline, or with zero
    * variance / a single observed day, are unscorable and drop
    * (inner join — an unknown weekday cell is a coverage event, not
    * a seasonal anomaly). */
  def dowAnomalyAgainst(events: DataFrame, baseline: DataFrame,
                        zBar: Double = 2.0): DataFrame = {
    val m = baseline.filter(col("n_days") * col("s2") - col("s") * col("s") > 0L)
    dailyDowCounts(events).join(broadcast(m), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        round((col("n_days") * col("n") - col("s")).cast("double") /
          sqrt((col("n_days") * col("s2") - col("s") * col("s")).cast("double")), 4)
          .as("z"))
      .withColumn("anomaly", when(abs(col("z")) > zBar, 1L).otherwise(0L))
  }

  /** X6 MULTI-TOUCH REVENUE ATTRIBUTION — credit each purchase's value
    * to the view/click touches that preceded it within a lookback
    * window, under the three standard models side by side: first-touch
    * (all credit to the earliest touch), last-touch (to the latest),
    * and linear (value/n to each touch). Purchases with no touch in
    * the window surface as one 'unattributed' row. Conservation (the
    * audit downstream marketing mix runs): first/last/unattributed
    * credit sums equal attributed revenue EXACTLY; the linear model
    * quantizes each value/n share to 1e-4 units independently, so a
    * purchase split n ways can leave up to ~(n−1)·0.5e-4 of residue
    * (e.g. 0.01 split 3 ways sums to 0.0099) — conservation holds to
    * that quantization bound, not to the last unit.
    *
    * Scale shape: the touch↔purchase join is USER-KEYED equi (the
    * [[sessions]] contract — per-user volume is bounded) with the
    * time-range predicate applied post-join; first/last rank and the
    * touch count are windows over the per-PURCHASE partition (bounded
    * by per-user touches in the window). Credit sums are exact: each
    * per-row credit (value, or value/n for linear) quantizes to 1e-4
    * int64 units BEFORE summing ([[trendAnomaly]]'s half-up recipe),
    * so the totals are addition-order-independent and bit-identical
    * across engines — a raw double sum over thousands of rows is NOT
    * (the 1e-4 rounding boundary flips on reorder). */
  private def purchases(events: DataFrame, convType: String): DataFrame =
    events.filter(col("event_type") === convType)
      .select(col("event_id").as("p_id"), unix_micros(col("ts")).as("p_us"),
        col("user_id"), col("value"))

  /** Shared head of [[attribution]] and [[attributionDecay]]: every
    * (purchase, preceding touch) pair inside the lookback window —
    * USER-keyed equi-join with the time-range predicate post-join. */
  private def touchPairs(events: DataFrame, lookbackDays: Int,
                         touchTypes: Seq[String], convType: String): DataFrame = {
    val winUs = lookbackDays * 86400L * 1000000L
    val tch = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id").as("t_user"), col("event_id").as("t_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type").as("touch_type"))
    purchases(events, convType)
      .join(tch, col("t_user") === col("user_id") &&
        col("t_us") < col("p_us") && col("p_us") - col("t_us") <= winUs)
      .select(col("p_id"), col("p_us"), col("value"), col("touch_type"),
        col("t_us"), col("t_id"))
  }

  def attribution(events: DataFrame, lookbackDays: Int = 7,
                  touchTypes: Seq[String] = Seq("view", "click"),
                  convType: String = "purchase"): DataFrame = {
    val p = purchases(events, convType)
    val j = touchPairs(events, lookbackDays, touchTypes, convType)
    val byP = org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))
    val fl = j.select(col("p_id"), col("value"), col("touch_type"),
      row_number().over(byP.orderBy(col("t_us"), col("t_id"))).as("rk_first"),
      row_number().over(byP.orderBy(col("t_us").desc, col("t_id").desc)).as("rk_last"),
      count(lit(1)).over(byP).as("n_t"))
    def vq(c: org.apache.spark.sql.Column) = floor(c * 10000 + 0.5).cast("long")
    def credit(qsum: org.apache.spark.sql.Column) =
      round(qsum.cast("double") / lit(1e4), 4).as("credit")
    val first = fl.filter(col("rk_first") === 1).groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"), credit(sum(vq(col("value")))))
      .select(lit("first_touch").as("model"), col("touch_type"),
        col("n_conversions"), col("credit"))
    val last = fl.filter(col("rk_last") === 1).groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"), credit(sum(vq(col("value")))))
      .select(lit("last_touch").as("model"), col("touch_type"),
        col("n_conversions"), col("credit"))
    val linear = fl.groupBy(col("touch_type"))
      .agg(countDistinct(col("p_id")).as("n_conversions"),
        credit(sum(vq(col("value") / col("n_t")))))
      .select(lit("linear").as("model"), col("touch_type"),
        col("n_conversions"), col("credit"))
    val direct = p.join(j.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_conversions"), credit(sum(vq(col("value")))))
      .select(lit("unattributed").as("model"), lit("none").as("touch_type"),
        col("n_conversions"), col("credit"))
    first.unionByName(last).unionByName(linear).unionByName(direct)
  }

  /** X6 TIME-DECAY ATTRIBUTION — [[attribution]]'s fourth model, split
    * out because its weights are position-free: each touch's credit
    * share is ∝ 2^(−age_days), so a touch the day before the purchase
    * carries 2× the weight of one two days before and 2^7× one at the
    * lookback horizon — the industry-standard exponential-decay model
    * with the half-life pinned to ONE DAY so the weight is an EXACT
    * int64 (`1 << (lookback − age)`, age = integer-div days): the
    * per-purchase share w/Σw is an exact rational, never a libm
    * `pow(0.5, age/halflife)` whose last ulp differs across engines.
    * Credit quantizes to 1e-4 int64 units per row BEFORE summing (the
    * [[attribution]] recipe) — totals are addition-order-independent.
    * Same USER-keyed join shape as [[attribution]]; the per-purchase
    * weight sum is one window over the bounded touch partition. */
  def attributionDecay(events: DataFrame, lookbackDays: Int = 7,
                       touchTypes: Seq[String] = Seq("view", "click"),
                       convType: String = "purchase"): DataFrame = {
    val w = touchPairs(events, lookbackDays, touchTypes, convType)
      .withColumn("w", expr(s"shiftleft(CAST(1 AS BIGINT), " +
        s"CAST($lookbackDays - (p_us - t_us) div 86400000000 AS INT))"))
    val sw = w.withColumn("sw",
      sum(col("w")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))))
    sw.groupBy(col("touch_type"))
      .agg(countDistinct(col("p_id")).as("n_conversions"),
        round(sum(floor(col("value") * col("w").cast("double") /
            col("sw").cast("double") * 10000 + 0.5).cast("long")).cast("double") /
          lit(1e4), 4).as("credit"))
  }
}
