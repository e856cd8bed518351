"""Temporal-join queries (as-of / range) over the activity log, with
DuckDB oracles (ASOF JOIN / inequality join are native there, which
makes these the strongest cross-engine checks of the custom
operators)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from threat_detection_nosql_spark.operators.etl import (
    ACTIVITY_LOG_ORACLE_SQL,
    activity_log,
)
from threat_detection_nosql_spark.operators.temporal_joins import (
    asof_backward_join,
    range_pair_counts,
)
from threat_detection_nosql_spark.sources.readers import load_table

_LOG_CTE = f"WITH log AS ({ACTIVITY_LOG_ORACLE_SQL})"


def time_since_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threat feature via as-of join: for every event, microseconds
    since the user's most recent 'error' event (NULL before the first
    error). Right side deduped to (user, ts) so ties are impossible."""
    log = activity_log(spark, sf_dir)
    errors = (log.filter(F.col("activity") == "error")
              .select("user", "ts").distinct()
              .withColumn("err_ts", F.col("ts")))
    left = log.select("event_id", "user", "ts")
    out = asof_backward_join(left, errors, key="user", ts="ts",
                             payload="err_ts")
    return out.select(
        "event_id", "user", "ts",
        F.col("asof_err_ts").alias("last_error_ts"),
        (F.unix_micros("ts") - F.unix_micros("asof_err_ts"))
        .alias("us_since_error"))


_ASOF_SQL = f"""
{_LOG_CTE},
errors AS (SELECT DISTINCT user, ts FROM log WHERE activity = 'error')
SELECT e.event_id, e.user, e.ts, er.ts AS last_error_ts,
       epoch_us(e.ts) - epoch_us(er.ts) AS us_since_error
FROM log e ASOF LEFT JOIN errors er
  ON e.user = er.user AND e.ts >= er.ts
"""


def burst_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per user, ordered event pairs within a 5-minute
    band — a burstiness signal. The bucketed candidate join keeps the
    pair generation bounded by events-per-bucket."""
    log = activity_log(spark, sf_dir)
    return range_pair_counts(log, key="user", ts="ts", band_seconds=300)


_RANGE_SQL = f"""
{_LOG_CTE}
SELECT a.user, CAST(count(*) AS BIGINT) AS n_pairs
FROM log a JOIN log b
  ON a.user = b.user
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
GROUP BY a.user
"""


def hourly_event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time histogram: events + distinct users per wall-clock
    hour bucket (`date_trunc`) — the time-series the reference's
    temporal plots consume, as one map-combinable aggregation. The
    bucket count is bounded by the time span, so the shuffle is tiny
    regardless of corpus size."""
    log = activity_log(spark, sf_dir)
    return (log.groupBy(F.date_trunc("hour", "ts").alias("hour_bucket"))
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user").alias("n_users")))


_HISTOGRAM_SQL = f"""
{_LOG_CTE}
SELECT date_trunc('hour', ts) AS hour_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user) AS BIGINT) AS n_users
FROM log
GROUP BY date_trunc('hour', ts)
"""


_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def sessionize(log: DataFrame) -> DataFrame:
    """The sessionizer every session query reads (gaps-and-islands): a
    session breaks after more than 30 min of user inactivity. Returns
    (user, ts, event_id, activity, is_new, session_id): the gap is an
    exact integer-µs lag over the user's (ts, event_id) total order and
    ``session_id`` the running sum of ``is_new`` over the same order,
    so both windows share one per-user sort."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("user").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (log.select(
        "user", "ts", "event_id", "activity",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0)
        .alias("is_new"))
        .withColumn("session_id", F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0))))


def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: one row per ``sessionize`` session. Both
    windows partition by user, so the sort is per-user and the stage
    scales horizontally; the session summary is a map-combinable
    re-aggregation of the same shuffle."""
    return (sessionize(activity_log(spark, sf_dir))
            .groupBy("user", "session_id")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count("*").alias("n_events"),
                 (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                 .alias("duration_us")))


_SESSIONS_SQL = f"""
{_LOG_CTE},
l AS (SELECT user, ts, event_id,
             CASE WHEN lag(ts) OVER uw IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER uw)
                       > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM log
      WINDOW uw AS (PARTITION BY user ORDER BY ts, event_id)),
s AS (SELECT user, ts,
             CAST(sum(is_new) OVER (PARTITION BY user ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM l)
SELECT user, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM s GROUP BY user, session_id
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel view → click → purchase: a user converts a
    stage only with an event STRICTLY AFTER reaching the previous stage
    (the classic ordered-funnel semantics, not mere set membership).

    One shuffle total: all three stage timestamps are conditional mins
    over the same user partition — the dependency chain (t2 needs t1)
    is expressed as three stacked window projections on one partitioning,
    so Catalyst plans a single sort+exchange, then scans the partition
    three times in memory. A 100 TB log shuffles once, by user.
    """
    log = activity_log(spark, sf_dir)
    per_user = funnel_stage_times(log, ["view", "click", "purchase"])
    return per_user.agg(
        F.count(F.col("t1")).alias("viewed"),
        F.count(F.col("t2")).alias("clicked_after_view"),
        F.count(F.col("t3")).alias("purchased_after_click"))


def funnel_stage_times(log: DataFrame, stages: list[str],
                       key: str | list[str] = "user", ts: str = "ts",
                       act: str = "activity",
                       max_gap_us: int | None = None) -> DataFrame:
    """Per-key ordered-funnel stage times: t1 = first stages[0] event,
    t_i = first stages[i-1] event strictly after t_{i-1} (NULL once a
    stage is never reached). ``key`` may be composite (e.g.
    [user, session]). With ``max_gap_us`` set, a stage only counts
    within that many microseconds of the previous stage (the marketing
    "conversion window"; an exact integer epoch-µs compare, so both
    engines agree bit-for-bit) — NOTE the window anchors at the
    ACCEPTED previous stage time, the standard greedy semantics: a
    click 25h after t1 never converts even if a later view would have
    put it in range. One exchange on the key with |stages| stacked
    windows (tests/test_plans.py pins the single shuffle);
    property-tested against a brute-force reference on arbitrary
    inputs (tests/test_property_funnel.py)."""
    from pyspark.sql.window import Window
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys)
    out = log
    prev = None
    for i, stage in enumerate(stages, start=1):
        cond = F.col(act) == stage
        if prev is not None:
            cond = cond & (F.col(ts) > F.col(prev))
            if max_gap_us is not None:
                cond = cond & (F.unix_micros(F.col(ts))
                               - F.unix_micros(F.col(prev))
                               <= F.lit(max_gap_us))
        out = out.withColumn(
            f"t{i}", F.min(F.when(cond, F.col(ts))).over(w))
        prev = f"t{i}"
    cols = [f"t{i}" for i in range(1, len(stages) + 1)]
    return out.groupBy(*keys).agg(
        *[F.first(c).alias(c) for c in cols])


_FUNNEL_SQL = f"""
{_LOG_CTE},
w1 AS (SELECT user, ts, activity,
              min(CASE WHEN activity = 'view' THEN ts END)
                OVER (PARTITION BY user) AS t1
       FROM log),
w2 AS (SELECT *, min(CASE WHEN activity = 'click' AND ts > t1 THEN ts END)
                   OVER (PARTITION BY user) AS t2
       FROM w1),
w3 AS (SELECT *, min(CASE WHEN activity = 'purchase' AND ts > t2 THEN ts END)
                   OVER (PARTITION BY user) AS t3
       FROM w2),
pu AS (SELECT user, any_value(t1) AS t1, any_value(t2) AS t2,
              any_value(t3) AS t3
       FROM w3 GROUP BY user)
SELECT CAST(count(t1) AS BIGINT) AS viewed,
       CAST(count(t2) AS BIGINT) AS clicked_after_view,
       CAST(count(t3) AS BIGINT) AS purchased_after_click
FROM pu
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-cohort retention triangle: users grouped by first-activity
    day; for each (cohort_day, day_offset), how many came back. Two
    aggregations on the same user key — the (user, day) dedup and the
    cohort min reuse one shuffle; the final matrix is bounded by
    span² / 2 rows regardless of corpus size."""
    log = activity_log(spark, sf_dir)
    user_days = (log.select("user", F.date_trunc("day", "ts").alias("day"))
                 .distinct())
    cohorts = (user_days.groupBy("user")
               .agg(F.min("day").alias("cohort_day")))
    return (user_days.join(cohorts, "user")
            .groupBy("cohort_day",
                     F.datediff("day", "cohort_day").alias("day_offset"))
            .agg(F.countDistinct("user").alias("n_users")))


_COHORT_SQL = f"""
{_LOG_CTE},
user_days AS (SELECT DISTINCT user,
                     CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
              FROM log),
cohorts AS (SELECT user, min(day) AS cohort_day FROM user_days GROUP BY user)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
       CAST(count(DISTINCT ud.user) AS BIGINT) AS n_users
FROM user_days ud JOIN cohorts c ON ud.user = c.user
GROUP BY cohort_day, date_diff('day', cohort_day, day)
"""


QUERIES = {
    "time_since_last_error": time_since_last_error,
    "burst_pair_counts": burst_pair_counts,
    "hourly_event_histogram": hourly_event_histogram,
    "event_sessions": event_sessions,
    "funnel_conversion": funnel_conversion,
    "cohort_retention": cohort_retention,
}

ORACLES = {
    "time_since_last_error": _ASOF_SQL,
    "burst_pair_counts": _RANGE_SQL,
    "hourly_event_histogram": _HISTOGRAM_SQL,
    "event_sessions": _SESSIONS_SQL,
    "funnel_conversion": _FUNNEL_SQL,
    "cohort_retention": _COHORT_SQL,
}


def weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue delta: weekly rollup (map-combined, one
    tiny exchange on the truncated week) then lag over the ordered
    week series — the standard KPI time-series shape. The lag window
    is a single global partition, but over |weeks| rows, not |orders|:
    aggregate first, window the aggregate."""
    from pyspark.sql.window import Window as W

    from threat_detection_nosql_spark.sources.readers import load_table
    orders = load_table(spark, sf_dir, "orders")
    weekly = (orders
              .groupBy(F.date_trunc("week", "o_orderdate").alias("week"))
              .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"),
                   F.count("*").alias("n_orders")))
    w = W.orderBy("week")
    prev = F.lag("revenue").over(w)
    return (weekly
            .withColumn("prev_revenue", prev)
            .withColumn("wow_pct",
                        F.round(100.0 * (F.col("revenue") - prev)
                                / prev, 6)))


_WOW_SQL = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week,
         round(sum(o_totalprice), 4) AS revenue,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1)
SELECT week, revenue, n_orders,
       lag(revenue) OVER (ORDER BY week) AS prev_revenue,
       round(100.0 * (revenue - lag(revenue) OVER (ORDER BY week))
             / lag(revenue) OVER (ORDER BY week), 6) AS wow_pct
FROM weekly
"""


QUERIES["weekly_revenue_wow"] = weekly_revenue_wow
ORACLES["weekly_revenue_wow"] = _WOW_SQL


def session_funnel_conversion(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Within-session ordered funnel: the view→click→purchase chain
    must complete INSIDE one 30-minute session (the product-analytics
    definition of a converting visit, stricter than the lifetime
    funnel above). Sessionization and the stacked stage windows share
    one user-keyed sort: the session id is a running sum over the same
    (user, ts) ordering the funnel windows use."""
    per_session = funnel_stage_times(
        sessionize(activity_log(spark, sf_dir)),
        ["view", "click", "purchase"], key=["user", "session_id"])
    return per_session.agg(
        F.count("*").alias("sessions"),
        F.count(F.col("t1")).alias("viewed"),
        F.count(F.col("t2")).alias("clicked_after_view"),
        F.count(F.col("t3")).alias("purchased_after_click"))


_SESSION_FUNNEL_SQL = f"""
{_LOG_CTE},
l AS (SELECT user, ts, event_id, activity,
             CASE WHEN lag(ts) OVER uw IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER uw)
                       > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM log
      WINDOW uw AS (PARTITION BY user ORDER BY ts, event_id)),
s AS (SELECT user, ts, activity,
             sum(is_new) OVER (PARTITION BY user ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM l),
w1 AS (SELECT *, min(CASE WHEN activity = 'view' THEN ts END)
                   OVER sw AS t1
       FROM s WINDOW sw AS (PARTITION BY user, session_id)),
w2 AS (SELECT *, min(CASE WHEN activity = 'click' AND ts > t1 THEN ts END)
                   OVER sw AS t2
       FROM w1 WINDOW sw AS (PARTITION BY user, session_id)),
w3 AS (SELECT *, min(CASE WHEN activity = 'purchase' AND ts > t2 THEN ts
                     END) OVER sw AS t3
       FROM w2 WINDOW sw AS (PARTITION BY user, session_id)),
ps AS (SELECT user, session_id, any_value(t1) AS t1, any_value(t2) AS t2,
              any_value(t3) AS t3
       FROM w3 GROUP BY user, session_id)
SELECT CAST(count(*) AS BIGINT) AS sessions,
       CAST(count(t1) AS BIGINT) AS viewed,
       CAST(count(t2) AS BIGINT) AS clicked_after_view,
       CAST(count(t3) AS BIGINT) AS purchased_after_click
FROM ps
"""


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent preceding click (the as-of backward join again, with a
    different payload), rolled up per user — n_purchases, how many had
    an attributable click, and the mean click→purchase gap."""
    from threat_detection_nosql_spark.operators.temporal_joins import (
        asof_backward_join,
    )
    log = activity_log(spark, sf_dir)
    purchases = (log.filter(F.col("activity") == "purchase")
                 .select("event_id", "user", "ts"))
    clicks = (log.filter(F.col("activity") == "click")
              .select("user", "ts").distinct()
              .withColumn("click_ts", F.col("ts")))
    att = asof_backward_join(purchases, clicks, key="user", ts="ts",
                             payload="click_ts")
    gap = F.unix_micros("ts") - F.unix_micros("asof_click_ts")
    return (att.groupBy("user")
            .agg(F.count("*").alias("n_purchases"),
                 F.count("asof_click_ts").alias("n_attributed"),
                 # floor-form half-away rounding (see
                 # customer_value_ntiles): the mean of exact integer
                 # micros can land exactly on the 4th-digit .5 boundary
                 (F.floor(F.avg(gap) / 1e6 * 1e4 + 0.5) / 1e4)
                 .alias("mean_gap_s")))


_ATTRIBUTION_SQL = f"""
{_LOG_CTE},
p AS (SELECT event_id, user, ts FROM log WHERE activity = 'purchase'),
c AS (SELECT DISTINCT user, ts FROM log WHERE activity = 'click'),
att AS (SELECT p.user, p.ts, c.ts AS click_ts
        FROM p ASOF LEFT JOIN c
          ON p.user = c.user AND p.ts >= c.ts)
SELECT user, CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(click_ts) AS BIGINT) AS n_attributed,
       floor(avg(epoch_us(ts) - epoch_us(click_ts)) / 1e6 * 1e4 + 0.5)
         / 1e4 AS mean_gap_s
FROM att GROUP BY user
"""


QUERIES["session_funnel_conversion"] = session_funnel_conversion
QUERIES["purchase_attribution"] = purchase_attribution
ORACLES["session_funnel_conversion"] = _SESSION_FUNNEL_SQL
ORACLES["purchase_attribution"] = _ATTRIBUTION_SQL


def time_to_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for every event, microseconds until the
    user's NEXT 'purchase' event (NULL after the last one) — the
    time-to-conversion feature, mirror of time_since_last_error.
    Same one-shuffle union+window shape; the DuckDB oracle uses the
    native forward ASOF JOIN (e.ts <= p.ts)."""
    from threat_detection_nosql_spark.operators.temporal_joins import (
        asof_forward_join,
    )
    log = activity_log(spark, sf_dir)
    purchases = (log.filter(F.col("activity") == "purchase")
                 .select("user", "ts").distinct()
                 .withColumn("next_ts", F.col("ts")))
    left = log.select("event_id", "user", "ts")
    out = asof_forward_join(left, purchases, key="user", ts="ts",
                            payload="next_ts")
    return out.select(
        "event_id", "user", "ts",
        F.col("asof_next_ts").alias("next_purchase_ts"),
        (F.unix_micros("asof_next_ts") - F.unix_micros("ts"))
        .alias("us_to_purchase"))


_ASOF_FWD_SQL = f"""
{_LOG_CTE},
purchases AS (SELECT DISTINCT user, ts FROM log
              WHERE activity = 'purchase')
SELECT e.event_id, e.user, e.ts, p.ts AS next_purchase_ts,
       epoch_us(p.ts) - epoch_us(e.ts) AS us_to_purchase
FROM log e ASOF LEFT JOIN purchases p
  ON e.user = p.user AND e.ts <= p.ts
"""


QUERIES_TAIL = {"time_to_next_purchase": time_to_next_purchase}
ORACLES_TAIL = {"time_to_next_purchase": _ASOF_FWD_SQL}


def activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (day-of-week × hour) activity matrix behind the reference's
    temporal heatmap plots (`analyse_caracteristiques.png`; the plot
    layer itself is out of scope per SURVEY §2.8, the data is not):
    per cell, event count, distinct users, and the cell's share of all
    events. One map-combined aggregation (≤ 168 cells), total rides a
    broadcast scalar."""
    log = activity_log(spark, sf_dir)
    cells = (log.groupBy("day_of_week", "hour_of_day")
             .agg(F.count("*").alias("n_events"),
                  F.countDistinct("user").alias("n_users")))
    tot = cells.agg(F.sum("n_events").alias("n_total"))
    return (cells.crossJoin(F.broadcast(tot))
            .select("day_of_week", "hour_of_day", "n_events", "n_users",
                    F.round(F.col("n_events") / F.col("n_total"), 6)
                    .alias("share")))


_HEATMAP_SQL = f"""
{_LOG_CTE},
cells AS (
  SELECT day_of_week, hour_of_day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user) AS BIGINT) AS n_users
  FROM log GROUP BY day_of_week, hour_of_day),
tot AS (SELECT sum(n_events) AS n_total FROM cells)
SELECT day_of_week, hour_of_day, n_events, n_users,
       round(n_events / n_total, 6) AS share
FROM cells CROSS JOIN tot
"""


QUERIES_TAIL = {**globals().get("QUERIES_TAIL", {}),
                "activity_heatmap": activity_heatmap}
ORACLES_TAIL = {**globals().get("ORACLES_TAIL", {}),
                "activity_heatmap": _HEATMAP_SQL}


# -- calendar-spine gap fill + LOCF ------------------------------------------

def user_daily_gap_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily activity resampled onto a dense calendar spine:
    every day in the user's own [first, last] active range gets a row,
    absent days carry n_events = 0 and a last-observation-carried-
    forward value — the regularization step every time-series feature
    pipeline needs before windowed models (irregular event logs don't
    difference/lag correctly).

    Shape: one (user, day) hash agg off the fact table; the spine
    unfolds MAP-SIDE from each user's min/max bounds
    (explode(sequence(...)) — ≤ span-days rows per user, no join
    against a calendar table); one left join back to the sparse
    dailies (co-partitioned on user — the same key as the window that
    follows); one LOCF window (`last(value, ignorenulls=True)` over
    rows-unbounded-preceding). LOCF carries the ROUNDED daily value,
    so the carried number is bit-identical in both engines regardless
    of each engine's avg() summation order."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.col("user_id").alias("user"),
                        F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("n_events"),
                  F.round(F.avg("value"), 6).alias("day_avg")))
    bounds = daily.groupBy("user").agg(F.min("day").alias("d0"),
                                       F.max("day").alias("d1"))
    spine = bounds.select(
        "user", F.explode(F.sequence("d0", "d1")).alias("day"))
    grid = (spine.join(daily, ["user", "day"], "left")
            .withColumn("n_events",
                        F.coalesce(F.col("n_events"), F.lit(0))))
    from pyspark.sql.window import Window as W
    locf = W.partitionBy("user").orderBy("day") \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    return grid.select(
        "user", "day", "n_events", "day_avg",
        F.last("day_avg", ignorenulls=True).over(locf).alias("locf_value"),
        F.when(F.col("day_avg").isNull(), 1).otherwise(0).alias("is_gap"))


_GAP_FILL_SQL = """
WITH daily AS (
  SELECT user_id AS "user", CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         round(avg(value), 6) AS day_avg
  FROM events GROUP BY 1, 2),
bounds AS (SELECT "user", min(day) AS d0, max(day) AS d1
           FROM daily GROUP BY 1),
spine AS (SELECT "user",
                 CAST(unnest(generate_series(d0, d1,
                                             INTERVAL 1 DAY)) AS DATE)
                   AS day
          FROM bounds),
grid AS (SELECT s."user", s.day,
                COALESCE(d.n_events, 0) AS n_events, d.day_avg
         FROM spine s LEFT JOIN daily d
           ON d."user" = s."user" AND d.day = s.day)
SELECT "user", day, n_events, day_avg,
       last_value(day_avg IGNORE NULLS) OVER (
         PARTITION BY "user" ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
       CASE WHEN day_avg IS NULL THEN 1 ELSE 0 END AS is_gap
FROM grid
"""

QUERIES_TAIL["user_daily_gap_filled"] = user_daily_gap_filled
ORACLES_TAIL["user_daily_gap_filled"] = _GAP_FILL_SQL


# -- EWMA baseline + burst flag ----------------------------------------------

_EWMA_ALPHA = 0.3
# (1-α)^-t = 1.4286^t overflows double near t≈1990; past this bound the
# closed-form EWMA would emit NaN in BOTH engines (parity holds, values
# are garbage) — so both raise instead.  1800 leaves headroom for the
# n_events factor inside the running sum.
_EWMA_MAX_T = 1800


def user_daily_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily event counts against their exponentially-weighted
    moving average (α = 0.3, s₁ = x₁, sₜ = α·xₜ + (1-α)·sₜ₋₁) with a
    burst flag where the day's count exceeds 2× the PRIOR day's EWMA —
    the classic streaming-friendly anomaly baseline (Roberts 1959 EWMA
    control chart — public knowledge).

    The recursion is evaluated CLOSED-FORM so it stays one window
    expression instead of a driver loop: with t the per-user day rank
    and w₁ = 1, wₖ = α (k>1), sₜ = (1-α)ᵗ · Σₖ₌₁..ₜ wₖ·xₖ·(1-α)⁻ᵏ —
    i.e. one running windowed sum over a weighted series, map-side
    after the (user, day) agg, shuffling once on user. The spine span
    is ≤ the log's day range, so (1-α)⁻ᵏ stays far from overflow for
    any plausible log; past ~1990 active days per user (1-α)⁻ᵗ would
    overflow double and the EWMA would silently go NaN, so BOTH engines
    raise at t > _EWMA_MAX_T instead of emitting garbage (the rebase-
    every-K refactor is the fix if a real corpus ever trips it). The
    burst comparison uses the ROUNDED lagged EWMA so the flag can't
    flip on ulps."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W
    daily = (ev.groupBy(F.col("user_id").alias("user"),
                        F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("n_events")))
    order = W.partitionBy("user").orderBy("day")
    frame = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    t_raw = F.row_number().over(order)
    t = F.when(t_raw <= _EWMA_MAX_T, t_raw).otherwise(F.raise_error(F.lit(
        f"user_daily_ewma: per-user day rank exceeds {_EWMA_MAX_T}; "
        "closed-form (1-a)^-t would overflow double — rebase the "
        "exponent every K rows before rerunning")))
    decay = 1.0 - _EWMA_ALPHA
    wk = F.when(t == 1, 1.0).otherwise(_EWMA_ALPHA)
    z = wk * F.col("n_events") * F.pow(F.lit(1.0 / decay), t)
    ewma = F.round(F.pow(F.lit(decay), t) * F.sum(z).over(frame), 6)
    scored = (daily
              .withColumn("ewma", ewma))
    prev = F.round(F.lag("ewma").over(order), 6)
    return scored.select(
        "user", "day", "n_events", "ewma",
        F.when(F.col("n_events") > 2.0 * prev, 1).otherwise(0)
        .alias("is_burst"))


_EWMA_SQL = f"""
WITH daily AS (
  SELECT user_id AS "user", CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT "user", day, n_events,
         row_number() OVER (PARTITION BY "user" ORDER BY day) AS t
  FROM daily),
weighted AS (
  SELECT "user", day, n_events, t,
         CASE WHEN t > {_EWMA_MAX_T}
              THEN error('user_daily_ewma: day rank exceeds overflow bound')
              ELSE CASE WHEN t = 1 THEN 1.0 ELSE {_EWMA_ALPHA} END
                   * n_events * pow(1.0 / (1.0 - {_EWMA_ALPHA}), t)
         END AS z
  FROM ranked),
scored AS (
  SELECT "user", day, n_events,
         round(pow(1.0 - {_EWMA_ALPHA}, t)
               * sum(z) OVER (PARTITION BY "user" ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW), 6) AS ewma
  FROM weighted)
SELECT "user", day, n_events, ewma,
       CASE WHEN n_events > 2.0 * round(lag(ewma) OVER (
              PARTITION BY "user" ORDER BY day), 6)
            THEN 1 ELSE 0 END AS is_burst
FROM scored
"""

QUERIES_TAIL["user_daily_ewma"] = user_daily_ewma
ORACLES_TAIL["user_daily_ewma"] = _EWMA_SQL


# -- seasonality-adjusted z-score --------------------------------------------

def seasonal_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 events whose ``value`` deviates most from their OWN
    seasonal cell — the (day-of-week × hour) slot the activity heatmap
    established — measured as a z-score against that cell's mean/std.
    Raw global z-scores flag every busy-hour event; conditioning on the
    seasonal cell is what makes the flag mean "unusual for a Tuesday
    9am", the production form of calendar-aware anomaly detection.

    One (dow, hour) aggregate (168 cells max — broadcast), one join
    back to the fact table, pure expressions after. The z denominator
    uses the population std via sqrt(E[x²] − E[x]²) computed identically
    in both engines, and the top-20 cut orders by the ROUNDED |z| with
    event_id tie-break."""
    log = activity_log(spark, sf_dir)
    cells = (log.groupBy("day_of_week", "hour_of_day")
             .agg(F.count("*").alias("n"),
                  F.sum("value").alias("s"),
                  F.sum(F.col("value") * F.col("value")).alias("s2"))
             .filter(F.col("n") >= 2))
    mean = F.col("s") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    stats = cells.select(
        "day_of_week", "hour_of_day",
        mean.alias("cell_mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("cell_std"))
    joined = (log.join(F.broadcast(stats), ["day_of_week", "hour_of_day"])
              .filter(F.col("cell_std") > 0))
    z = (F.col("value") - F.col("cell_mean")) / F.col("cell_std")
    return (joined.select(
                "event_id", "user", "value",
                "day_of_week", "hour_of_day",
                F.round(z, 6).alias("zscore"),
                F.round(F.abs(z), 6).alias("abs_z"))
            .orderBy(F.desc("abs_z"), F.asc("event_id"))
            .limit(20))


_SEASONAL_Z_SQL = f"""
{_LOG_CTE},
cells AS (SELECT day_of_week, hour_of_day,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(value) AS s, sum(value * value) AS s2
          FROM log GROUP BY 1, 2 HAVING count(*) >= 2),
stats AS (SELECT day_of_week, hour_of_day,
                 s / n AS cell_mean,
                 sqrt(greatest(s2 / n - (s / n) * (s / n), 0.0))
                   AS cell_std
          FROM cells)
SELECT event_id, "user", value, day_of_week, hour_of_day,
       round((value - cell_mean) / cell_std, 6) AS zscore,
       round(abs((value - cell_mean) / cell_std), 6) AS abs_z
FROM log JOIN stats USING (day_of_week, hour_of_day)
WHERE cell_std > 0
ORDER BY abs_z DESC, event_id ASC
LIMIT 20
"""

QUERIES_TAIL["seasonal_zscore_anomalies"] = seasonal_zscore_anomalies
ORACLES_TAIL["seasonal_zscore_anomalies"] = _SEASONAL_Z_SQL


# -- per-user activity trend (closed-form OLS) --------------------------------

def user_activity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity drift: ordinary-least-squares slope of daily
    event count over the day index, the "is this account ramping up"
    feature behind every usage-trend triage. Closed-form OLS from five
    per-user sums — n, Σx, Σy, Σxy, Σx² with x the 0-based day offset
    from the user's first active day and y the day's count. Every sum
    is EXACT BIGINT arithmetic (integer days × integer counts), so
    both engines agree bit-for-bit all the way to the single final
    division; users active on one day only are emitted with NULL slope
    (undefined fit) rather than dropped. One (user, day) agg + one
    per-user re-agg, both map-combinable; no window, no sort."""
    ols = daily_count_ols(activity_log(spark, sf_dir))
    slope = F.round("b", 6)
    return ols.select(
        "user", "n", slope.alias("slope"),
        F.round((F.col("sy") - F.col("b") * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
        F.when(slope > 0.05, F.lit("up"))
        .when(slope < -0.05, F.lit("down"))
        .when(slope.isNotNull(), F.lit("flat")).alias("trend"))


def daily_count_ols(log: DataFrame) -> DataFrame:
    """Per user: the OLS fit of daily event count y over the day offset
    x from the user's first active day, as (user, n, sx, sy, b) with
    ``b`` the unrounded slope, NULL when the fit is undefined (one
    active day). n, Σx, Σy, Σxy and Σx² are exact BIGINT sums, so the
    one division is the only float step."""
    from pyspark.sql.window import Window as W
    daily = (log.groupBy("user", F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("y")))
    x = F.datediff(F.col("day"),
                   F.min("day").over(W.partitionBy("user"))).cast("long")
    sums = (daily.select("user", x.alias("x"), "y")
            .groupBy("user")
            .agg(F.count("*").alias("n"),
                 F.sum("x").alias("sx"),
                 F.sum("y").alias("sy"),
                 F.sum(F.col("x") * F.col("y")).alias("sxy"),
                 F.sum(F.col("x") * F.col("x")).alias("sxx")))
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "user", "n", "sx", "sy",
        F.when(denom > 0,
               (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
               * 1.0 / denom).alias("b"))


_TREND_SQL = """
WITH daily AS (
  SELECT user_id AS "user", CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
xy AS (
  SELECT "user",
         CAST(day - min(day) OVER (PARTITION BY "user") AS BIGINT) AS x,
         y
  FROM daily),
sums AS (
  SELECT "user", CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY 1)
SELECT "user", n,
       CASE WHEN n * sxx - sx * sx > 0
            THEN round((n * sxy - sx * sy) * 1.0
                       / (n * sxx - sx * sx), 6) END AS slope,
       CASE WHEN n * sxx - sx * sx > 0
            THEN round((sy - ((n * sxy - sx * sy) * 1.0
                              / (n * sxx - sx * sx)) * sx) / n, 6)
            END AS intercept,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         CASE WHEN round((n * sxy - sx * sy) * 1.0
                         / (n * sxx - sx * sx), 6) > 0.05 THEN 'up'
              WHEN round((n * sxy - sx * sy) * 1.0
                         / (n * sxx - sx * sx), 6) < -0.05 THEN 'down'
              ELSE 'flat' END END AS trend
FROM sums
"""

QUERIES_TAIL["user_activity_trend"] = user_activity_trend
ORACLES_TAIL["user_activity_trend"] = _TREND_SQL


# -- behavioral transition matrix --------------------------------------------

def activity_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    (previous activity → activity) pair, the global transition count
    and conditional probability — the sequence-mining view of the log
    ("what follows a login?") that single-event frequency queries
    can't see, and the base model for sequence-anomaly scoring.

    One lag window per user (ordered by ts with event_id tie-break —
    a total order, so both engines pair the same neighbors), one
    (prev, next) hash agg, one per-prev re-agg for the denominator;
    probabilities are integer-count ratios rounded at the end, so the
    only float is the final division. Scales as one shuffle by user
    plus two map-combinable aggs."""
    return transition_model(transition_pairs(activity_log(spark, sf_dir)))


def transition_pairs(log: DataFrame) -> DataFrame:
    """(user, prev_activity, activity) for every event after a user's
    first, paired by a lag over the (ts, event_id) total order."""
    from pyspark.sql.window import Window as W
    w = W.partitionBy("user").orderBy("ts", "event_id")
    return (log.select("user",
                       F.lag("activity").over(w).alias("prev_activity"),
                       F.col("activity"))
            .filter(F.col("prev_activity").isNotNull()))


def transition_model(pairs: DataFrame) -> DataFrame:
    """The global first-order model of ``transition_pairs``:
    (prev_activity, activity, n, p), p the rounded share of n among
    the transitions leaving prev_activity."""
    counts = (pairs.groupBy("prev_activity", "activity")
              .agg(F.count("*").alias("n")))
    totals = (counts.groupBy("prev_activity")
              .agg(F.sum("n").alias("n_from")))
    return (counts.join(totals, "prev_activity")
            .select("prev_activity", "activity", "n",
                    F.round(F.col("n") * 1.0 / F.col("n_from"), 6)
                    .alias("p")))


_TRANSITION_SQL = f"""
{_LOG_CTE},
pairs AS (
  SELECT lag(activity) OVER (PARTITION BY user
                             ORDER BY ts, event_id) AS prev_activity,
         activity
  FROM log),
counts AS (
  SELECT prev_activity, activity, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE prev_activity IS NOT NULL
  GROUP BY 1, 2),
totals AS (SELECT prev_activity, CAST(sum(n) AS BIGINT) AS n_from
           FROM counts GROUP BY 1)
SELECT counts.prev_activity, activity, n,
       round(n * 1.0 / n_from, 6) AS p
FROM counts JOIN totals USING (prev_activity)
"""

QUERIES_TAIL["activity_transition_matrix"] = activity_transition_matrix
ORACLES_TAIL["activity_transition_matrix"] = _TRANSITION_SQL


# -- sequence surprise: who behaves improbably? -------------------------------

# Fewer gaps or transitions than this, and a user's dispersion or
# surprise is NULL: the statistic would not be meaningful.
_MIN_SAMPLES = 50


def sequence_surprise_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by behavioral sequence surprise: the mean negative
    log transition probability of their activity sequence under the
    GLOBAL first-order Markov model (``activity_transition_matrix``) —
    users whose action ORDER is improbable even when each individual
    action is common, the sequence-level anomaly signal.

    The model probabilities are the matrix's ROUNDED p (both engines
    ln() the identical rounded number — no cross-engine drift enters
    the logs); the per-user mean is a rounded float agg with ≥ 50
    transitions required so the score is statistically meaningful; the
    cut orders by the rounded score. Shape: one lag window pairs each
    user's events, the matrix (25-row result — broadcast) aggregates
    those same pairs, one join on the (prev, next) pair, one per-user
    avg."""
    return (sequence_surprise(activity_log(spark, sf_dir))
            .filter(F.col("n_transitions") >= _MIN_SAMPLES)
            .orderBy(F.desc("surprise"), F.asc("user"))
            .limit(10))


def sequence_surprise(log: DataFrame) -> DataFrame:
    """Per user: ``n_transitions`` and ``surprise``, the rounded mean
    −ln p of their transitions under the global ``transition_model``
    built from the same pairs; NULL below ``_MIN_SAMPLES``."""
    pairs = transition_pairs(log)
    model = transition_model(pairs).select("prev_activity", "activity", "p")
    n = F.count("*")
    return (pairs.join(F.broadcast(model), ["prev_activity", "activity"])
            .groupBy("user")
            .agg(n.alias("n_transitions"),
                 F.when(n >= _MIN_SAMPLES,
                        F.round(F.avg(-F.log("p")), 6)).alias("surprise")))


_SURPRISE_SQL = f"""
{_LOG_CTE},
pairs AS (
  SELECT user,
         lag(activity) OVER (PARTITION BY user
                             ORDER BY ts, event_id) AS prev_activity,
         activity
  FROM log),
np AS (SELECT * FROM pairs WHERE prev_activity IS NOT NULL),
counts AS (SELECT prev_activity, activity, CAST(count(*) AS BIGINT) AS n
           FROM np GROUP BY 1, 2),
totals AS (SELECT prev_activity, CAST(sum(n) AS BIGINT) AS n_from
           FROM counts GROUP BY 1),
model AS (SELECT counts.prev_activity, activity,
                 round(n * 1.0 / n_from, 6) AS p
          FROM counts JOIN totals USING (prev_activity))
SELECT "user", CAST(count(*) AS BIGINT) AS n_transitions,
       round(avg(-ln(p)), 6) AS surprise
FROM np JOIN model USING (prev_activity, activity)
GROUP BY "user"
HAVING count(*) >= 50
ORDER BY surprise DESC, "user" ASC
LIMIT 10
"""

QUERIES_TAIL["sequence_surprise_top10"] = sequence_surprise_top10
ORACLES_TAIL["sequence_surprise_top10"] = _SURPRISE_SQL


# -- streak detection (gaps-and-islands on the calendar) ----------------------

def longest_after_hours_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user LONGEST run of consecutive calendar days with at least
    one after-hours event — persistence is what separates a habit from
    an incident, and streak length is the classic sustained-behavior
    feature (the gaps-and-islands pattern applied to the calendar
    instead of the row sequence).

    Island id = day − row_number-th day: consecutive days share the
    (day MINUS dense index) anchor, an all-INTEGER construction both
    engines compute identically. One distinct (user, active day)
    projection, one row_number window, two map-combinable aggs. Users
    with after-hours activity on isolated days only get streak 1 —
    present, not dropped."""
    from pyspark.sql.window import Window as W
    log = activity_log(spark, sf_dir)
    days = (log.filter(F.col("is_after_hours") == 1)
            .select("user", F.to_date("ts").alias("day"))
            .distinct())
    w = W.partitionBy("user").orderBy("day")
    anchored = days.select(
        "user", "day",
        F.date_sub("day", F.row_number().over(w)).alias("island"))
    runs = (anchored.groupBy("user", "island")
            .agg(F.count("*").alias("run_len"),
                 F.min("day").alias("run_start")))
    best = (runs.groupBy("user")
            .agg(F.max("run_len").alias("longest_streak")))
    first_best = (runs.join(best, "user")
                  .filter(F.col("run_len") == F.col("longest_streak"))
                  .groupBy("user", "longest_streak")
                  .agg(F.min("run_start").alias("streak_start")))
    return first_best.orderBy(F.desc("longest_streak"), F.asc("user"))


_STREAK_SQL = f"""
{_LOG_CTE},
days AS (SELECT DISTINCT user, CAST(ts AS DATE) AS day
         FROM log WHERE is_after_hours = 1),
anchored AS (
  SELECT user, day,
         day - CAST(row_number() OVER (PARTITION BY user ORDER BY day)
                    AS INT) AS island
  FROM days),
runs AS (SELECT user, island, CAST(count(*) AS BIGINT) AS run_len,
                min(day) AS run_start
         FROM anchored GROUP BY 1, 2),
best AS (SELECT user, max(run_len) AS longest_streak
         FROM runs GROUP BY 1)
SELECT runs.user, longest_streak, min(run_start) AS streak_start
FROM runs JOIN best ON best.user = runs.user
                   AND runs.run_len = best.longest_streak
GROUP BY 1, 2
ORDER BY longest_streak DESC, runs.user ASC
"""

QUERIES_TAIL["longest_after_hours_streak"] = longest_after_hours_streak
ORACLES_TAIL["longest_after_hours_streak"] = _STREAK_SQL


# -- burstiness as a number: index of dispersion ------------------------------

def arrival_burstiness_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by arrival burstiness: the index of dispersion
    (variance/mean) of their inter-event gaps in whole seconds — ≈1
    for Poisson-like arrivals, ≫1 for burst-idle-burst behavior (the
    scripted-job / exfiltration-burst signature that rate averages
    hide; the distributional complement of ``burst_pair_counts``).

    Gaps are floor-divided to whole seconds so every moment is EXACT
    BIGINT: dispersion = (n·Σg² − (Σg)²) / (n·Σg) keeps all arithmetic
    integer until the single final division — bit-identical across
    engines up to that point. One lag window over the (ts, event_id)
    total order, one per-user agg; ≥ 50 gaps required so the statistic
    is meaningful; cut on the rounded value."""
    return (gap_dispersion(activity_log(spark, sf_dir))
            .filter(F.col("dispersion").isNotNull())
            .orderBy(F.desc("dispersion"), F.asc("user"))
            .limit(10))


def gap_dispersion(log: DataFrame) -> DataFrame:
    """Per user: ``n`` inter-event gaps (whole seconds, lag over the
    (ts, event_id) total order) and their rounded ``dispersion``
    (n·Σg² − (Σg)²) / (n·Σg); NULL below ``_MIN_SAMPLES`` gaps or when
    no gap is positive."""
    from pyspark.sql.window import Window as W
    w = W.partitionBy("user").orderBy("ts", "event_id")
    gaps = (log.select(
                "user",
                ((F.unix_micros("ts")
                  - F.unix_micros(F.lag("ts").over(w)))
                 / F.lit(1_000_000)).cast("long").alias("g"))
            .filter(F.col("g").isNotNull()))
    sums = (gaps.groupBy("user")
            .agg(F.count("*").alias("n"),
                 F.sum("g").alias("sg"),
                 F.sum(F.col("g") * F.col("g")).alias("sg2")))
    disp = ((F.col("n") * F.col("sg2") - F.col("sg") * F.col("sg"))
            * 1.0 / (F.col("n") * F.col("sg")))
    return sums.select(
        "user", "n",
        F.when((F.col("n") >= _MIN_SAMPLES) & (F.col("sg") > 0),
               F.round(disp, 6)).alias("dispersion"))


_BURSTINESS_SQL = f"""
{_LOG_CTE},
gaps AS (
  SELECT user,
         CAST((epoch_us(ts) - epoch_us(lag(ts) OVER (
              PARTITION BY user ORDER BY ts, event_id))) // 1000000
           AS BIGINT) AS g
  FROM log),
sums AS (SELECT user, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(g) AS BIGINT) AS sg,
                CAST(sum(g * g) AS BIGINT) AS sg2
         FROM gaps WHERE g IS NOT NULL GROUP BY 1)
SELECT "user", n,
       round((n * sg2 - sg * sg) * 1.0 / (n * sg), 6) AS dispersion
FROM sums
WHERE n >= 50 AND sg > 0
ORDER BY dispersion DESC, "user" ASC
LIMIT 10
"""

QUERIES_TAIL["arrival_burstiness_top10"] = arrival_burstiness_top10
ORACLES_TAIL["arrival_burstiness_top10"] = _BURSTINESS_SQL


def activity_trigram_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common length-3 activity sequences (per-user
    ordered trigrams) with their share of all trigrams — the pattern-
    mining extension of the transition matrix from pairs to motifs
    ("view→click→purchase" vs "login→error→login" tell different
    stories at a glance). Two stacked lag windows over ONE (user, ts,
    event_id) sort — Catalyst plans a single exchange — then one hash
    agg; the share is an integer-count ratio rounded once. Cut on
    count (integer) so the top-10 is trivially engine-stable."""
    from pyspark.sql.window import Window as W
    log = activity_log(spark, sf_dir)
    w = W.partitionBy("user").orderBy("ts", "event_id")
    tri = (log.select(
               F.lag("activity", 2).over(w).alias("a1"),
               F.lag("activity", 1).over(w).alias("a2"),
               F.col("activity").alias("a3"))
           .filter(F.col("a1").isNotNull()))
    counts = tri.groupBy("a1", "a2", "a3").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("tot"))
    return (counts.crossJoin(F.broadcast(total))
            .select("a1", "a2", "a3", "n",
                    F.round(F.col("n") * 1.0 / F.col("tot"), 6)
                    .alias("share"))
            .orderBy(F.desc("n"), F.asc("a1"), F.asc("a2"), F.asc("a3"))
            .limit(10))


_TRIGRAM_SQL = f"""
{_LOG_CTE},
tri AS (
  SELECT lag(activity, 2) OVER uw AS a1,
         lag(activity, 1) OVER uw AS a2,
         activity AS a3
  FROM log
  WINDOW uw AS (PARTITION BY user ORDER BY ts, event_id)),
counts AS (SELECT a1, a2, a3, CAST(count(*) AS BIGINT) AS n
           FROM tri WHERE a1 IS NOT NULL GROUP BY 1, 2, 3),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts)
SELECT a1, a2, a3, n, round(n * 1.0 / tot, 6) AS share
FROM counts CROSS JOIN tot
ORDER BY n DESC, a1 ASC, a2 ASC, a3 ASC
LIMIT 10
"""

QUERIES_TAIL["activity_trigram_top10"] = activity_trigram_top10
ORACLES_TAIL["activity_trigram_top10"] = _TRIGRAM_SQL


def conversion_latency_quartiles(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """How long conversion takes, not just whether it happens:
    quartiles of view→purchase latency (whole seconds) across users
    who completed the ordered funnel, plus the converting-user count —
    the follow-up question to ``funnel_conversion``'s how-many.

    Composes the shared ``funnel_stage_times`` (one exchange on user,
    strictly-ordered stage mins) with a discrete-percentile aggregate:
    latencies floor to INTEGER seconds and percentile_disc picks
    observed elements, so every output is exact in both engines — no
    interpolation, no float aggregation anywhere."""
    log = activity_log(spark, sf_dir)
    stages = funnel_stage_times(log, ["view", "click", "purchase"])
    lat = (stages.filter(F.col("t3").isNotNull())
           .select(((F.unix_micros("t3") - F.unix_micros("t1"))
                    / F.lit(1_000_000)).cast("long").alias("lat_s")))
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY lat_s)")
        .cast("long").alias("q1_s"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_s)")
        .cast("long").alias("median_s"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY lat_s)")
        .cast("long").alias("q3_s"))


_CONV_LATENCY_SQL = f"""
{_LOG_CTE},
w1 AS (SELECT user,
              min(CASE WHEN activity = 'view' THEN ts END) AS t1
       FROM log GROUP BY user),
w2 AS (SELECT log.user, t1,
              min(CASE WHEN activity = 'click' AND ts > t1 THEN ts END)
                AS t2
       FROM log JOIN w1 ON w1.user = log.user GROUP BY log.user, t1),
w3 AS (SELECT log.user, t1, t2,
              min(CASE WHEN activity = 'purchase' AND ts > t2 THEN ts END)
                AS t3
       FROM log JOIN w2 ON w2.user = log.user GROUP BY log.user, t1, t2),
lat AS (SELECT CAST((epoch_us(t3) - epoch_us(t1)) // 1000000 AS BIGINT)
                 AS lat_s
        FROM w3 WHERE t3 IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       CAST(quantile_disc(lat_s, 0.25) AS BIGINT) AS q1_s,
       CAST(quantile_disc(lat_s, 0.5) AS BIGINT) AS median_s,
       CAST(quantile_disc(lat_s, 0.75) AS BIGINT) AS q3_s
FROM lat
"""

QUERIES_TAIL["conversion_latency_quartiles"] = conversion_latency_quartiles
ORACLES_TAIL["conversion_latency_quartiles"] = _CONV_LATENCY_SQL


def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily engagement stickiness: DAU, trailing-7-day WAU, and the
    DAU/WAU ratio per day — the standard "how habitual is usage"
    metric (ratio → 1 means the weekly audience shows up daily).

    Distinct-users-over-a-sliding-window has no direct window form
    (count distinct isn't frame-able), so WAU is computed the
    scale-honest way: the distinct (day, user) projection joins a
    day spine on a 7-day band (a RANGE JOIN whose output is bounded by
    7·Σ DAU — linear in the data, not quadratic) and re-aggregates
    distinct users per anchor day. Ratios are integer-count divisions
    rounded once."""
    ev = load_table(spark, sf_dir, "events")
    du = (ev.select(F.to_date("ts").alias("day"),
                    F.col("user_id").alias("user"))
          .distinct())
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.countDistinct("user").alias("dau"))
    anchored = (days.alias("a")
                .join(du.alias("b"),
                      (F.col("b.day") >= F.date_sub(F.col("a.day"), 6))
                      & (F.col("b.day") <= F.col("a.day")))
                .select(F.col("a.day").alias("day"), "b.user"))
    wau = anchored.groupBy("day").agg(F.countDistinct("user").alias("wau"))
    return (dau.join(wau, "day")
            .select("day", "dau", "wau",
                    F.round(F.col("dau") * 1.0 / F.col("wau"), 6)
                    .alias("stickiness"))
            .orderBy("day"))


_DAU_WAU_SQL = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS "user"
            FROM events),
days AS (SELECT DISTINCT day FROM du),
dau AS (SELECT day, CAST(count(DISTINCT "user") AS BIGINT) AS dau
        FROM du GROUP BY 1),
wau AS (SELECT a.day, CAST(count(DISTINCT b."user") AS BIGINT) AS wau
        FROM days a JOIN du b
          ON b.day >= a.day - INTERVAL 6 DAY AND b.day <= a.day
        GROUP BY 1)
SELECT day, dau, wau, round(dau * 1.0 / wau, 6) AS stickiness
FROM dau JOIN wau USING (day)
ORDER BY day
"""

QUERIES_TAIL["dau_wau_stickiness"] = dau_wau_stickiness
ORACLES_TAIL["dau_wau_stickiness"] = _DAU_WAU_SQL


def worst_error_windows_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO triage: the 10 worst DAYS by error RATE (errors over total
    events, minimum 20 events so a near-empty bucket can't top the
    list — day grain keeps every SF above the floor where hourly
    buckets go degenerate at sf0.001) — the "when did it hurt" view
    behind every incident review, as one conditional aggregation over
    date buckets. Ratio is an integer-count division rounded once; the
    cut orders by the rounded rate then the bucket."""
    log = activity_log(spark, sf_dir)
    return (log.groupBy(F.to_date("ts").alias("day_bucket"))
            .agg(F.count("*").alias("n_events"),
                 F.sum((F.col("activity") == "error").cast("long"))
                 .alias("n_errors"))
            .filter(F.col("n_events") >= 20)
            .select("day_bucket", "n_events", "n_errors",
                    F.round(F.col("n_errors") * 1.0 / F.col("n_events"), 6)
                    .alias("error_rate"))
            .orderBy(F.desc("error_rate"), F.asc("day_bucket"))
            .limit(10))


_WORST_ERRORS_SQL = f"""
{_LOG_CTE}
SELECT CAST(ts AS DATE) AS day_bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN activity = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors,
       round(sum(CASE WHEN activity = 'error' THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS error_rate
FROM log
GROUP BY 1
HAVING count(*) >= 20
ORDER BY error_rate DESC, day_bucket ASC
LIMIT 10
"""

QUERIES_TAIL["worst_error_windows_top10"] = worst_error_windows_top10
ORACLES_TAIL["worst_error_windows_top10"] = _WORST_ERRORS_SQL


def new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, how many active users are NEW
    (first-ever activity) vs RETURNING — the decomposition behind
    every "are we growing or churning" chart. A user's first day is a
    min over the distinct (user, day) projection; each active day then
    classifies by comparison — integer dates and counts throughout.
    One distinct projection, one per-user min (broadcast back), one
    day agg."""
    ev = load_table(spark, sf_dir, "events")
    du = (ev.select(F.col("user_id").alias("user"),
                    F.to_date("ts").alias("day"))
          .distinct())
    first = du.groupBy("user").agg(F.min("day").alias("first_day"))
    j = du.join(F.broadcast(first), "user")
    return (j.groupBy("day")
            .agg(F.sum((F.col("day") == F.col("first_day")).cast("long"))
                 .alias("new_users"),
                 F.sum((F.col("day") > F.col("first_day")).cast("long"))
                 .alias("returning_users"))
            .orderBy("day"))


_NEW_RETURNING_SQL = """
WITH du AS (SELECT DISTINCT user_id AS "user", CAST(ts AS DATE) AS day
            FROM events),
first AS (SELECT "user", min(day) AS first_day FROM du GROUP BY 1)
SELECT day,
       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users
FROM du JOIN first USING ("user")
GROUP BY day
ORDER BY day
"""

QUERIES_TAIL["new_vs_returning_users"] = new_vs_returning_users
ORACLES_TAIL["new_vs_returning_users"] = _NEW_RETURNING_SQL


def session_activity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket on behavior: for every activity PAIR, the lift
    P(a,b)/(P(a)·P(b)) over session baskets — lift > 1 means the two
    actions co-occur in a session more than chance, the association
    signal behind "users who X in a session also Y". Reuses the
    30-minute sessionization; baskets are distinct activities per
    session, pairs unfold map-side from the sorted basket array (the
    co-purchase expansion shape), and every probability is an
    integer-count ratio over the session total — one division chain,
    rounded once."""
    baskets = (sessionize(activity_log(spark, sf_dir))
               .groupBy("user", "session_id")
               .agg(F.sort_array(F.collect_set("activity")).alias("acts")))
    n_sessions = baskets.count()
    singles = (baskets.select(F.explode("acts").alias("activity"))
               .groupBy("activity").agg(F.count("*").alias("n_a")))
    pair_arr = F.flatten(F.transform(
        F.col("acts"),
        lambda x, i: F.transform(
            F.slice(F.col("acts"), i + F.lit(2), F.size(F.col("acts"))),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    pairs = (baskets.select(F.explode(pair_arr).alias("p"))
             .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
             .agg(F.count("*").alias("n_ab")))
    n = F.lit(float(n_sessions))
    lift = (F.col("n_ab") / n) / ((F.col("n_a") / n) * (F.col("n_b") / n))
    return (pairs
            .join(F.broadcast(singles.select(F.col("activity").alias("a"),
                                             F.col("n_a"))), "a")
            .join(F.broadcast(singles.select(F.col("activity").alias("b"),
                                             F.col("n_a").alias("n_b"))),
                  "b")
            .select("a", "b", "n_ab",
                    F.round(lift, 6).alias("lift"))
            .orderBy(F.desc("n_ab"), F.asc("a"), F.asc("b")))


_SESSION_LIFT_SQL = f"""
{_LOG_CTE},
l AS (SELECT user, ts, event_id, activity,
             CASE WHEN lag(ts) OVER uw IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER uw)
                       > {{gap}}
                  THEN 1 ELSE 0 END AS is_new
      FROM log
      WINDOW uw AS (PARTITION BY user ORDER BY ts, event_id)),
s AS (SELECT user, activity,
             sum(is_new) OVER (PARTITION BY user ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM l),
baskets AS (SELECT user, session_id, list_sort(list(DISTINCT activity))
              AS acts
            FROM s GROUP BY 1, 2),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM baskets),
singles AS (SELECT activity, count(*) AS n_a
            FROM (SELECT unnest(acts) AS activity FROM baskets) u
            GROUP BY 1),
pairs AS (SELECT acts[i] AS a, acts[j] AS b,
                 CAST(count(*) AS BIGINT) AS n_ab
          FROM baskets,
               LATERAL (SELECT unnest(range(1, len(acts) + 1)) AS i) ii,
               LATERAL (SELECT unnest(range(1, len(acts) + 1)) AS j) jj
          WHERE i < j
          GROUP BY 1, 2)
SELECT a, b, n_ab,
       round((n_ab / n) / ((sa.n_a / n) * (sb.n_a / n)), 6) AS lift
FROM pairs
JOIN singles sa ON sa.activity = a
JOIN singles sb ON sb.activity = b
CROSS JOIN ns
ORDER BY n_ab DESC, a ASC, b ASC
""".replace("{gap}", str(_SESSION_GAP_US))

QUERIES_TAIL["session_activity_lift"] = session_activity_lift
ORACLES_TAIL["session_activity_lift"] = _SESSION_LIFT_SQL


# -- CUSUM drift detection ----------------------------------------------------

_CUSUM_K = 0.5   # slack, in units of the per-user daily mean
_CUSUM_H = 4.0   # decision threshold, same units


def user_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection on per-user daily counts (Page
    1954 — public knowledge): S_t = max(0, S_{t-1} + (x_t − μ − k·μ)),
    alert when S_t > h·μ (k = 0.5, h = 4) — the control chart that
    catches a SUSTAINED small upward shift EWMA's single-day burst
    flag misses. μ is the user's own IN-CONTROL baseline — the mean of
    the FIRST 7 active days — as CUSUM practice requires: a full-series
    mean absorbs the very shift being hunted (a long 1.5× shift sits
    exactly at the slack line and never accumulates). Users need ≥ 10
    active days (7 baseline + monitored tail).

    The recursion has no direct window form, but the classic identity
    S_t = C_t − min(0, min_{j≤t} C_j) (C = running sum of deviations)
    turns it into TWO stacked windows over one per-user day ordering.
    EXACTNESS: running float sums accumulate in engine-specific order,
    so the whole chain runs in integer HALF-MICRO units — μ_u =
    floor(μ·1e6 + 0.5) is BIGINT (integer mean of integers is an
    exact double in both engines), each deviation is the exact BIGINT
    2·x·1e6 − 3·μ_u, and every cumulative/min/max/compare stays
    integer; the one division back to real units divides the same
    BIGINT by the same constant, which is IEEE-identical. ≥ 7 active
    days required."""
    from pyspark.sql.window import Window as W
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.col("user_id").alias("user"),
                        F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("x")))
    order0 = W.partitionBy("user").orderBy("day")
    ranked = daily.withColumn("rn", F.row_number().over(order0))
    mu = (ranked.groupBy("user")
          .agg(F.floor(F.avg(F.when(F.col("rn") <= 7, F.col("x")))
                       * 1e6 + F.lit(0.5)).cast("long").alias("mu_u"),
               F.count("*").alias("n_days")))
    j = (ranked.join(F.broadcast(mu), "user")
         .filter(F.col("n_days") >= 10))
    dev2 = (2_000_000 * F.col("x") - 3 * F.col("mu_u"))
    order = W.partitionBy("user").orderBy("day")
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    cums = j.withColumn("c2", F.sum(dev2).over(run))
    scored = cums.withColumn(
        "s2", F.col("c2") - F.least(F.min("c2").over(run), F.lit(0)))
    alert = F.col("s2") > 8 * F.col("mu_u")   # s > 4·μ in half-micros
    flagged = scored.withColumn("is_alert", alert.cast("int"))
    return (flagged.groupBy("user", "mu_u")
            .agg(F.max("s2").alias("peak2"),
                 F.sum("is_alert").alias("n_alert_days"),
                 F.min(F.when(alert, F.col("day")))
                 .alias("first_alert_day"))
            .select("user",
                    (F.col("mu_u") / F.lit(1_000_000.0)).alias("mu"),
                    (F.col("peak2") / F.lit(2_000_000.0))
                    .alias("peak_cusum"),
                    "n_alert_days", "first_alert_day")
            .orderBy("user"))


_CUSUM_SQL = """
WITH daily AS (
  SELECT user_id AS "user", CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
ranked AS (SELECT "user", day, x,
                  row_number() OVER (PARTITION BY "user"
                                     ORDER BY day) AS rn
           FROM daily),
mu AS (SELECT "user",
              CAST(floor(avg(CASE WHEN rn <= 7 THEN x END) * 1e6 + 0.5)
                   AS BIGINT) AS mu_u,
              CAST(count(*) AS BIGINT) AS n_days
       FROM ranked GROUP BY 1),
j AS (SELECT ranked."user", day, x, mu_u
      FROM ranked JOIN mu USING ("user") WHERE n_days >= 10),
cums AS (
  SELECT "user", day, mu_u,
         sum(2000000 * x - 3 * mu_u) OVER w AS c2
  FROM j
  WINDOW w AS (PARTITION BY "user" ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
runs AS (
  SELECT "user", day, mu_u, c2,
         min(c2) OVER (PARTITION BY "user" ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cmin2
  FROM cums),
scored AS (SELECT "user", day, mu_u,
                  c2 - least(cmin2, 0) AS s2
           FROM runs)
SELECT "user", mu_u / 1000000.0 AS mu,
       CAST(max(s2) AS BIGINT) / 2000000.0 AS peak_cusum,
       CAST(sum(CASE WHEN s2 > 8 * mu_u THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alert_days,
       min(CASE WHEN s2 > 8 * mu_u THEN day END) AS first_alert_day
FROM scored
GROUP BY "user", mu_u
ORDER BY "user"
"""

QUERIES_TAIL["user_cusum_alerts"] = user_cusum_alerts
ORACLES_TAIL["user_cusum_alerts"] = _CUSUM_SQL


def user_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's daily event counts —
    positive means momentum (busy days follow busy days: batch jobs,
    campaigns), negative means alternation (catch-up/backoff
    rhythms), ≈0 means memoryless — the one-number persistence summary
    the trend slope doesn't capture (a flat-trend user can still be
    strongly autocorrelated).

    Pearson r over the (xₜ, xₜ₊₁) lag pairs from one lag window per
    user; all five moments are EXACT BIGINT (integer counts), so both
    engines compute the identical double in the single closed-form
    expression at the end. Degenerate spans (either margin constant)
    emit NULL; ≥ 10 lag pairs required."""
    from pyspark.sql.window import Window as W
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.col("user_id").alias("user"),
                        F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("x")))
    w = W.partitionBy("user").orderBy("day")
    pairs = (daily.select("user", F.col("x").alias("a"),
                          F.lead("x").over(w).alias("b"))
             .filter(F.col("b").isNotNull()))
    s = (pairs.groupBy("user")
         .agg(F.count("*").alias("n"),
              F.sum("a").alias("sa"), F.sum("b").alias("sb"),
              F.sum(F.col("a") * F.col("b")).alias("sab"),
              F.sum(F.col("a") * F.col("a")).alias("saa"),
              F.sum(F.col("b") * F.col("b")).alias("sbb")))
    va = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    vb = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    cov = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    return (s.filter(F.col("n") >= 10)
            .select("user", "n",
                    F.when((va > 0) & (vb > 0),
                           F.round(cov / F.sqrt(va * vb), 6))
                    .alias("lag1_autocorr"))
            .orderBy("user"))


_AUTOCORR_SQL = """
WITH daily AS (
  SELECT user_id AS "user", CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT "user", x AS a,
         lead(x) OVER (PARTITION BY "user" ORDER BY day) AS b
  FROM daily),
s AS (SELECT "user", CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
             CAST(sum(a * b) AS BIGINT) AS sab,
             CAST(sum(a * a) AS BIGINT) AS saa,
             CAST(sum(b * b) AS BIGINT) AS sbb
      FROM pairs WHERE b IS NOT NULL GROUP BY 1)
SELECT "user", n,
       CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
            THEN round((n * sab - sa * sb)
                       / sqrt((n * saa - sa * sa)
                              * (n * sbb - sb * sb)), 6) END
         AS lag1_autocorr
FROM s
WHERE n >= 10
ORDER BY "user"
"""

QUERIES_TAIL["user_daily_autocorr"] = user_daily_autocorr
ORACLES_TAIL["user_daily_autocorr"] = _AUTOCORR_SQL


def daily_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift as a TIME SERIES: per day, the Jensen-Shannon divergence
    (nats) between that day's activity-type mix and the previous
    day's — the day-over-day behavioral-drift monitor that turns the
    one-shot drift gates (PSI, per-user JSD) into a trend you can
    alarm on. Cells missing on one side contribute only their present
    side's term (the standard JSD zero-cell handling).

    Shape: one (day, activity) agg, a self FULL-OUTER join on
    (previous calendar day, activity) — day keys, so the join is
    date-arithmetic co-located — day totals broadcast back, one
    per-day sum ordered on the rounded divergence's day. Probabilities
    are integer-count ratios; sum-order ulps collapse at the rounded
    6th digit."""
    ev = load_table(spark, sf_dir, "events")
    c = (ev.groupBy(F.to_date("ts").alias("day"),
                    F.col("event_type").alias("activity"))
         .agg(F.count("*").alias("n")))
    t = c.groupBy("day").agg(F.sum("n").alias("tot"))
    today = c.select("day", "activity", F.col("n").alias("na"))
    prev = c.select(F.date_add("day", 1).alias("day"), "activity",
                    F.col("n").alias("nb"))
    # day totals attach AFTER the cell outer-join, independently of
    # which side a cell appeared on — a one-sided cell must keep its
    # present side's term, not be dropped with the missing side's total
    cells = (today.join(prev, ["day", "activity"], "full_outer")
             .join(F.broadcast(t.select("day", F.col("tot").alias("ta"))),
                   "day")
             .join(F.broadcast(t.select(F.date_add("day", 1).alias("day"),
                                        F.col("tot").alias("tb"))),
                   "day"))
    p = F.col("na") * 1.0 / F.col("ta")
    q = F.col("nb") * 1.0 / F.col("tb")
    m = (F.coalesce(p, F.lit(0.0)) + F.coalesce(q, F.lit(0.0))) / 2.0
    contrib = (0.5 * F.when(F.col("na").isNotNull(), p * F.log(p / m))
               .otherwise(0.0)
               + 0.5 * F.when(F.col("nb").isNotNull(), q * F.log(q / m))
               .otherwise(0.0))
    return (cells.groupBy("day")
            .agg(F.round(F.sum(contrib), 6).alias("jsd_vs_prev_day"))
            .orderBy("day"))


_DAILY_DRIFT_SQL = """
WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type AS activity,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
t AS (SELECT day, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
today AS (SELECT day, activity, n AS na FROM c),
prev AS (SELECT CAST(day + INTERVAL 1 DAY AS DATE) AS day,
                activity, n AS nb FROM c),
joined AS (SELECT COALESCE(today.day, prev.day) AS day,
                  COALESCE(today.activity, prev.activity) AS activity,
                  na, nb
           FROM today FULL OUTER JOIN prev
             ON today.day = prev.day AND today.activity = prev.activity),
cells AS (SELECT j.day, na, ta.tot AS ta, nb, tb.tot AS tb
          FROM joined j
          JOIN t ta ON ta.day = j.day
          JOIN t tb ON CAST(tb.day + INTERVAL 1 DAY AS DATE)
                       = j.day),
terms AS (SELECT day,
                 0.5 * CASE WHEN na IS NOT NULL
                            THEN (na * 1.0 / ta)
                                 * ln((na * 1.0 / ta)
                                      / ((COALESCE(na * 1.0 / ta, 0.0)
                                          + COALESCE(nb * 1.0 / tb, 0.0))
                                         / 2.0))
                            ELSE 0.0 END
                 + 0.5 * CASE WHEN nb IS NOT NULL
                              THEN (nb * 1.0 / tb)
                                   * ln((nb * 1.0 / tb)
                                        / ((COALESCE(na * 1.0 / ta, 0.0)
                                            + COALESCE(nb * 1.0 / tb, 0.0))
                                           / 2.0))
                              ELSE 0.0 END AS contrib
          FROM cells)
SELECT day, round(sum(contrib), 6) AS jsd_vs_prev_day
FROM terms GROUP BY day
ORDER BY day
"""

QUERIES_TAIL["daily_mix_drift"] = daily_mix_drift
ORACLES_TAIL["daily_mix_drift"] = _DAILY_DRIFT_SQL


def error_recovery_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTTR-style recovery analysis: for every error event, the time
    until the user's next NON-error event, summarized per user as
    count / mean / discrete-median recovery seconds — "how fast do
    users resume work after failures", the operational complement to
    the error-rate views (errors with no later activity are excluded
    as unresolved, and reported in their own column).

    The "next non-error" lookup is a CONDITIONAL forward window —
    min(CASE WHEN non-error THEN ts END) over rows-1-following-to-end
    — one window over the per-user (ts, event_id) total order, no
    self-join. Recovery floors to integer seconds; mean is an
    integer-sum ratio rounded once; the median is percentile_disc."""
    from pyspark.sql.window import Window as W
    log = activity_log(spark, sf_dir)
    w = (W.partitionBy("user").orderBy("ts", "event_id")
         .rowsBetween(1, W.unboundedFollowing))
    nxt = F.min(F.when(F.col("activity") != "error",
                       F.col("ts"))).over(w)
    errs = (log.withColumn("next_ok_ts", nxt)
            .filter(F.col("activity") == "error"))
    rec = errs.select(
        "user",
        F.when(F.col("next_ok_ts").isNotNull(),
               ((F.unix_micros("next_ok_ts") - F.unix_micros("ts"))
                / F.lit(1_000_000)).cast("long")).alias("rec_s"))
    return (rec.groupBy("user")
            .agg(F.sum(F.col("rec_s").isNotNull().cast("long"))
                 .alias("n_recovered"),
                 F.sum(F.col("rec_s").isNull().cast("long"))
                 .alias("n_unresolved"),
                 F.round(F.sum("rec_s") * 1.0
                         / F.greatest(F.sum(F.col("rec_s").isNotNull()
                                            .cast("long")), F.lit(1)), 6)
                 .alias("mean_recovery_s"),
                 F.expr("percentile_disc(0.5) WITHIN GROUP "
                        "(ORDER BY rec_s)").cast("long")
                 .alias("median_recovery_s"))
            .orderBy("user"))


_RECOVERY_SQL = f"""
{_LOG_CTE},
marked AS (
  SELECT user, ts, activity,
         min(CASE WHEN activity <> 'error' THEN ts END)
           OVER (PARTITION BY user ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_ok_ts
  FROM log),
rec AS (SELECT "user",
               CASE WHEN next_ok_ts IS NOT NULL
                    THEN CAST((epoch_us(next_ok_ts) - epoch_us(ts))
                              // 1000000 AS BIGINT) END AS rec_s
        FROM marked WHERE activity = 'error')
SELECT "user",
       CAST(sum(CASE WHEN rec_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_recovered,
       CAST(sum(CASE WHEN rec_s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unresolved,
       round(sum(rec_s) * 1.0
             / greatest(sum(CASE WHEN rec_s IS NOT NULL THEN 1 ELSE 0
                            END), 1), 6) AS mean_recovery_s,
       CAST(quantile_disc(rec_s, 0.5) AS BIGINT) AS median_recovery_s
FROM rec
GROUP BY "user"
ORDER BY "user"
"""

QUERIES_TAIL["error_recovery_stats"] = error_recovery_stats
ORACLES_TAIL["error_recovery_stats"] = _RECOVERY_SQL


# -- Kaplan-Meier time-to-first-purchase curve --------------------------------

def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve (public knowledge — Kaplan & Meier
    1958) for time-to-first HIGH-VALUE purchase (value >= 150, ~the
    top fifth of purchases — rare enough that a real censored
    population exists at every SF): per user, the duration in whole
    hours from their first event to their first qualifying purchase
    (event) or to their last event (right-censored — the estimator's
    whole point vs a naive conversion histogram, which silently drops
    or biases the never-converted ~55%). Emits one row per distinct event time:
    n_risk, n_events, n_censored and the KM survival estimate
    S(t) = prod_{t_i <= t, d_i > 0} (1 - d_i/n_i).

    Exactness: durations are integer hours (exact micros arithmetic
    floor-divided); n_risk is total minus an exact cumulative BIGINT;
    the product is exp of the cumulative window sum of
    ln(1 - d_i/n_i) — runtime ln/exp is house precedent (bm25,
    unigram_logprob) and the cumulative window sum has a FIXED
    summation order (duration ASC) in both engines, so the rounded
    emission agrees. A d_i = n_i terminal time would send ln to
    -inf (DuckDB errors): a cumulative zero-factor counter emits
    exact 0.0 from that time on and the ln term is guarded out.

    Scale shape: one scan -> per-user conditional-min/max agg (map
    combinable) -> per-duration agg (bounded by the time grid) ->
    ordered window over the tiny duration frame. The window is
    single-partition over DISTINCT DURATIONS (grid-sized, not
    user-sized) — the curve itself is the small thing."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.min("ts").alias("first_ts"),
                     F.max("ts").alias("last_ts"),
                     F.min(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") >= 150),
                                  F.col("ts"))).alias("purch_ts")))
    hours = lambda a, b: ((F.unix_micros(a) - F.unix_micros(b))  # noqa: E731
                          / F.lit(3600000000)).cast("long")
    subj = per_user.select(
        F.when(F.col("purch_ts").isNotNull(),
               hours(F.col("purch_ts"), F.col("first_ts")))
         .otherwise(hours(F.col("last_ts"), F.col("first_ts")))
        .alias("t_hours"),
        F.col("purch_ts").isNotNull().cast("long").alias("converted"))
    grid = (subj.groupBy("t_hours")
            .agg(F.sum("converted").alias("n_events"),
                 F.sum(F.lit(1) - F.col("converted")).alias("n_censored"))
            .localCheckpoint())  # tiny; total + window share one build
    total = grid.agg(F.sum(F.col("n_events") + F.col("n_censored"))
                     .alias("n_total"))
    w = (Window.orderBy("t_hours")
         .rowsBetween(Window.unboundedPreceding, 0))
    left = F.sum(F.col("n_events") + F.col("n_censored")).over(w)
    cum = (grid.crossJoin(F.broadcast(total))
           .withColumn("n_risk", F.col("n_total") - left
                       + F.col("n_events") + F.col("n_censored")))
    factor_ln = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
        F.log(F.lit(1.0) - F.col("n_events").cast("double")
              / F.col("n_risk"))).otherwise(F.lit(0.0))
    dead = F.sum((F.col("n_events") == F.col("n_risk")).cast("int")).over(w)
    surv = F.when(dead > 0, F.lit(0.0)).otherwise(
        F.exp(F.sum(factor_ln).over(w)))
    return (cum.select("t_hours", "n_risk", "n_events", "n_censored",
                       F.round(surv, 6).alias("survival"))
            .orderBy("t_hours"))


_KM_SQL = """
WITH per_user AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
         min(CASE WHEN event_type = 'purchase' AND value >= 150
                  THEN ts END) AS purch_ts
  FROM events GROUP BY user_id),
subj AS (
  SELECT CASE WHEN purch_ts IS NOT NULL
              THEN (epoch_us(purch_ts) - epoch_us(first_ts)) // 3600000000
              ELSE (epoch_us(last_ts) - epoch_us(first_ts)) // 3600000000
         END AS t_hours,
         CAST(purch_ts IS NOT NULL AS BIGINT) AS converted
  FROM per_user),
grid AS (
  SELECT t_hours, CAST(sum(converted) AS BIGINT) AS n_events,
         CAST(sum(1 - converted) AS BIGINT) AS n_censored
  FROM subj GROUP BY t_hours),
tot AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n_total
        FROM grid),
cum AS (
  SELECT t_hours, n_events, n_censored,
         n_total
           - CAST(sum(n_events + n_censored) OVER
                  (ORDER BY t_hours ROWS UNBOUNDED PRECEDING) AS BIGINT)
           + n_events + n_censored AS n_risk
  FROM grid CROSS JOIN tot),
curve AS (
  SELECT t_hours, n_risk, n_events, n_censored,
         CAST(sum(CAST(n_events = n_risk AS INT)) OVER
              (ORDER BY t_hours ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS dead,
         sum(CASE WHEN n_events > 0 AND n_events < n_risk
                  THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_risk)
                  ELSE 0.0 END) OVER
             (ORDER BY t_hours ROWS UNBOUNDED PRECEDING) AS lnsum
  FROM cum)
SELECT t_hours, n_risk, n_events, n_censored,
       round(CASE WHEN dead > 0 THEN 0.0 ELSE exp(lnsum) END, 6)
         AS survival
FROM curve
ORDER BY t_hours
"""

QUERIES_TAIL["kaplan_meier_conversion"] = kaplan_meier_conversion
ORACLES_TAIL["kaplan_meier_conversion"] = _KM_SQL


# -- T9: sweep-line interval concurrency -------------------------------------

def peak_concurrency_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per event type: every event opens a
    30-minute half-open interval [ts, ts+30m); the classic +1/−1
    boundary sweep with a running sum finds, per type, the maximum
    number of simultaneously-open intervals and the earliest instant
    it is reached — the load-sizing query behind "how many concurrent
    sessions must the system hold?".

    Exactness: boundaries are exact timestamps; the running sum is
    INTEGER. Ordering (t, delta ASC) closes intervals before opening
    new ones at the same instant (half-open semantics), and within an
    equal-(t, delta) tie block the rows are identical, so the multiset
    of (t, running) pairs — hence the peak and its earliest time — is
    deterministic under any tie permutation in either engine. peak_at
    is emitted as a formatted string so both engines hash the same
    bytes.

    Scale shape: the sweep window is PARTITIONED BY event_type —
    per-type ordered scan, never a global sort. At 100 TB the per-type
    stream is still one partition; the documented swap is day-chunked
    sweeps with a carry-in prefix (two-phase: per-(type,day) end-count
    agg, prefix-sum over the tiny day grid, broadcast back) since no
    interval spans more than 30 minutes across a chunk boundary."""
    from pyspark.sql.window import Window as W
    ev = load_table(spark, sf_dir, "events")
    opens = ev.select(F.col("event_type"), F.col("ts").alias("t"),
                      F.lit(1).alias("delta"))
    closes = ev.select(
        F.col("event_type"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"))
    bounds = opens.unionByName(closes)
    w = (W.partitionBy("event_type").orderBy("t", "delta")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    run = bounds.withColumn("run", F.sum("delta").over(w))
    stats = (run.groupBy("event_type")
             .agg(F.max("run").alias("peak_concurrency"),
                  F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
                  .cast("long").alias("n_intervals")))
    peak_rows = (run.join(F.broadcast(stats), "event_type")
                 .filter(F.col("run") == F.col("peak_concurrency"))
                 .groupBy("event_type")
                 .agg(F.min("t").alias("peak_t"),
                      F.first("peak_concurrency").alias("peak_concurrency"),
                      F.first("n_intervals").alias("n_intervals")))
    return (peak_rows.select(
        "event_type", "n_intervals", "peak_concurrency",
        F.date_format("peak_t", "yyyy-MM-dd HH:mm:ss").alias("peak_at"))
        .orderBy("event_type"))


_PEAK_SQL = """
WITH bounds AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS delta
  FROM events),
run AS (
  SELECT event_type, t, delta,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta
                          ROWS UNBOUNDED PRECEDING) AS run
  FROM bounds),
stats AS (
  SELECT event_type, CAST(max(run) AS BIGINT) AS peak_concurrency,
         CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_intervals
  FROM run GROUP BY event_type)
SELECT r.event_type, s.n_intervals, s.peak_concurrency,
       strftime(min(r.t), '%Y-%m-%d %H:%M:%S') AS peak_at
FROM run r JOIN stats s ON r.event_type = s.event_type
          AND r.run = s.peak_concurrency
GROUP BY r.event_type, s.n_intervals, s.peak_concurrency
ORDER BY r.event_type
"""

QUERIES_TAIL["peak_concurrency_by_type"] = peak_concurrency_by_type
ORACLES_TAIL["peak_concurrency_by_type"] = _PEAK_SQL


# -- T10: time-weighted average value (TWAP) ---------------------------------

def user_twap_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average event value — the TWAP estimator
    (each observation weighted by how long it was "current": until the
    user's next event that day). The unweighted mean over-counts burst
    activity; TWAP is the standard fix in pricing/telemetry rollups.
    Weights stop at the day boundary (the last event of a user-day
    carries no weight), so a quiet overnight gap cannot dominate.

    Exactness: value is cents-exact in this corpus (×100 rounds to an
    integer — asserted in tests); weight = microseconds to the next
    same-day event, an exact BIGINT from lead(); the numerator
    Σ cents·Δus runs in DECIMAL(38,0)/HUGEINT so nothing rounds
    before the single final division. Users with no weighted events
    (≤1 event every active day) are excluded — their TWAP is 0/0.

    Scale shape: one lead() window per (user, day) — the natural
    event-log partitioning, no global sort — then one hash agg per
    user. Output is entity-grain (one row per qualifying user)."""
    from pyspark.sql.window import Window as W
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("user_id").alias("user"),
        F.to_date("ts").alias("d"),
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    w = W.partitionBy("user", "d").orderBy("us", "event_id")
    wt = base.withColumn("delta", F.lead("us").over(w) - F.col("us"))
    per = (wt.filter(F.col("delta").isNotNull())
           .groupBy("user")
           .agg(F.count("*").alias("n_weighted_events"),
                F.countDistinct("d").alias("n_active_days"),
                F.sum("delta").alias("active_us"),
                F.sum(F.col("cents").cast("decimal(38,0)")
                      * F.col("delta")).alias("num")))
    return (per.select(
        "user", "n_weighted_events", "n_active_days", "active_us",
        F.round(F.col("num").cast("double")
                / F.col("active_us").cast("double") / 100.0, 6)
        .alias("twap_value"))
        .orderBy("user"))


_TWAP_SQL = """
WITH base AS (
  SELECT user_id AS "user", CAST(ts AS DATE) AS d,
         epoch_us(ts) AS us, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events),
wt AS (
  SELECT "user", d, cents,
         lead(us) OVER (PARTITION BY "user", d
                        ORDER BY us, event_id) - us AS delta
  FROM base),
per AS (
  SELECT "user", CAST(count(*) AS BIGINT) AS n_weighted_events,
         CAST(count(DISTINCT d) AS BIGINT) AS n_active_days,
         CAST(sum(delta) AS BIGINT) AS active_us,
         sum(CAST(cents AS HUGEINT) * delta) AS num
  FROM wt WHERE delta IS NOT NULL GROUP BY "user")
SELECT "user", n_weighted_events, n_active_days, active_us,
       round(CAST(num AS DOUBLE) / CAST(active_us AS DOUBLE) / 100.0, 6)
         AS twap_value
FROM per
ORDER BY "user"
"""

QUERIES_TAIL["user_twap_value"] = user_twap_value
ORACLES_TAIL["user_twap_value"] = _TWAP_SQL


# -- T11: OHLC bars ----------------------------------------------------------

def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type over the value stream —
    open/close are the first/last values in (ts, event_id) order
    within the bar, high/low the extremes, volume the row count. The
    canonical time-series downsampling shape (financial bars,
    telemetry rollups).

    Exactness: values are exact CENTS; open/close are picked by
    row_number over the unique (ts, event_id) total order — no
    min_by/arg_min tie ambiguity, both engines replay the same rows.

    Scale shape: one row_number window per (type, hour) — bounded
    partitions that shrink as data grows finer — then one hash agg;
    conditional max() pulls open/close through the same pass as
    high/low. No joins."""
    from pyspark.sql.window import Window as W
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_format(F.date_trunc("hour", F.col("ts")),
                      "yyyy-MM-dd HH:00").alias("bar"),
        "ts", "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    fw = W.partitionBy("event_type", "bar").orderBy("ts", "event_id")
    lw = W.partitionBy("event_type", "bar").orderBy(
        F.desc("ts"), F.desc("event_id"))
    rn = base.withColumn("rf", F.row_number().over(fw)) \
             .withColumn("rl", F.row_number().over(lw))
    return (rn.groupBy("event_type", "bar")
            .agg(F.max(F.when(F.col("rf") == 1, F.col("cents")))
                 .alias("open_cents"),
                 F.max("cents").alias("high_cents"),
                 F.min("cents").alias("low_cents"),
                 F.max(F.when(F.col("rl") == 1, F.col("cents")))
                 .alias("close_cents"),
                 F.count("*").alias("volume"))
            .orderBy("event_type", "bar"))


_OHLC_SQL = """
WITH base AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bar,
         ts, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events),
rn AS (
  SELECT event_type, bar, cents,
         row_number() OVER (PARTITION BY event_type, bar
                            ORDER BY ts, event_id) AS rf,
         row_number() OVER (PARTITION BY event_type, bar
                            ORDER BY ts DESC, event_id DESC) AS rl
  FROM base)
SELECT event_type, bar,
       CAST(max(CASE WHEN rf = 1 THEN cents END) AS BIGINT)
         AS open_cents,
       CAST(max(cents) AS BIGINT) AS high_cents,
       CAST(min(cents) AS BIGINT) AS low_cents,
       CAST(max(CASE WHEN rl = 1 THEN cents END) AS BIGINT)
         AS close_cents,
       CAST(count(*) AS BIGINT) AS volume
FROM rn
GROUP BY event_type, bar
ORDER BY event_type, bar
"""

QUERIES_TAIL["ohlc_hourly_bars"] = ohlc_hourly_bars
ORACLES_TAIL["ohlc_hourly_bars"] = _OHLC_SQL


# -- T12: clickstream path analysis ------------------------------------------

def session_path_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session-opening paths: the first three activities of
    every 30-min-gap session, joined 'a>b>c', ranked by session count
    — the classic clickstream entry-path analytic ("what do users do
    first?"). Shorter sessions contribute their 1- or 2-step prefix.

    Exactness: sessionization is the same gaps-and-islands plan as
    event_sessions (integer microsecond gap vs threshold); step
    positions come from row_number over the unique (ts, event_id)
    order; the path string is concat_ws over the three conditional
    maxes (concat_ws skips the NULL steps of short sessions
    identically in both engines); the top-10 cut orders by exact
    (n_sessions DESC, path ASC).

    Scale shape: two per-user windows (shared shuffle with the
    sessionizer), a rn<=3 filter BEFORE the path agg — the group-by
    carries at most 3 rows per session — then a count agg over the
    tiny path domain and a TakeOrdered 10."""
    from pyspark.sql.window import Window
    sw = Window.partitionBy("user", "session_id").orderBy("ts",
                                                          "event_id")
    steps = (sessionize(activity_log(spark, sf_dir))
             .withColumn("rn", F.row_number().over(sw))
             .filter(F.col("rn") <= 3))
    paths = (steps.groupBy("user", "session_id")
             .agg(F.concat_ws(
                 ">",
                 F.max(F.when(F.col("rn") == 1, F.col("activity"))),
                 F.max(F.when(F.col("rn") == 2, F.col("activity"))),
                 F.max(F.when(F.col("rn") == 3, F.col("activity"))))
                 .alias("path")))
    return (paths.groupBy("path")
            .agg(F.count("*").alias("n_sessions"))
            .orderBy(F.desc("n_sessions"), "path")
            .limit(10))


_SESSION_PATH_SQL = f"""
{_LOG_CTE},
l AS (SELECT user, ts, event_id, activity,
             CASE WHEN lag(ts) OVER uw IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER uw)
                       > {{gap}}
                  THEN 1 ELSE 0 END AS is_new
      FROM log
      WINDOW uw AS (PARTITION BY user ORDER BY ts, event_id)),
s AS (SELECT user, ts, event_id, activity,
             CAST(sum(is_new) OVER (PARTITION BY user
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM l),
st AS (SELECT user, session_id, activity,
              row_number() OVER (PARTITION BY user, session_id
                                 ORDER BY ts, event_id) AS rn
       FROM s QUALIFY rn <= 3),
p AS (SELECT user, session_id,
             concat_ws('>',
                       max(CASE WHEN rn = 1 THEN activity END),
                       max(CASE WHEN rn = 2 THEN activity END),
                       max(CASE WHEN rn = 3 THEN activity END))
               AS path
      FROM st GROUP BY user, session_id)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 10
"""

QUERIES_TAIL["session_path_top10"] = session_path_top10
ORACLES_TAIL["session_path_top10"] = _SESSION_PATH_SQL.replace(
    "{gap}", str(_SESSION_GAP_US))


# -- Theil-Sen robust trend (robust twin of user_activity_trend) --------------

def theil_sen_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust activity trend per user: the MEDIAN of all
    pairwise day-over-day slopes of the daily event count (public
    knowledge: Theil 1950, Sen 1968 — 29.3% breakdown point, the
    robust twin of user_activity_trend's OLS slope, which one burst
    day can drag arbitrarily). Top-20 ramping users.

    Exactness: each pairwise slope is one int/int IEEE division
    (identical operand order both engines — no accumulated error); the
    median is percentile_disc, always an OBSERVED slope, so both
    engines pick the same element; ordering totals out on (slope DESC,
    user ASC) over bit-identical doubles.

    Scale shape: the pair frame is a per-user self-join on the DAILY
    grain — pairs per user ≤ span²/2 where span is the calendar
    coverage in days, a constant set by retention policy, NOT by data
    volume (100× more events widens days-per-user toward the same
    span cap; it does not add quadratic blowup). One shuffle by user
    feeds the daily agg, the self-join, and the median re-agg."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.col("user_id").alias("user"),
                        F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("y")))
    a = daily.select("user", F.col("day").alias("d1"), F.col("y").alias("y1"))
    b = daily.select("user", F.col("day").alias("d2"), F.col("y").alias("y2"))
    pairs = (a.join(b, "user")
             .filter(F.col("d1") < F.col("d2"))
             .select("user",
                     ((F.col("y2") - F.col("y1")).cast("double")
                      / F.datediff("d2", "d1").cast("double"))
                     .alias("slope")))
    stats = (pairs.groupBy("user")
             .agg(F.count("*").alias("n_pairs"),
                  F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)")
                  .alias("sen")))
    ndays = daily.groupBy("user").agg(F.count("*").alias("n_days"))
    return (stats.join(ndays, "user")
            .filter(F.col("n_days") >= 10)
            .select("user", "n_days", "n_pairs",
                    F.round("sen", 6).alias("sen_slope"))
            .orderBy(F.desc("sen_slope"), F.asc("user"))
            .limit(20))


_THEIL_SEN_SQL = """
WITH daily AS (SELECT user_id AS user, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS y
               FROM events GROUP BY user_id, CAST(ts AS DATE)),
pairs AS (SELECT a.user,
                 CAST(b.y - a.y AS DOUBLE)
                 / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
          FROM daily a JOIN daily b
            ON a.user = b.user AND a.day < b.day),
stats AS (SELECT user, CAST(count(*) AS BIGINT) AS n_pairs,
                 quantile_disc(slope, 0.5) AS sen
          FROM pairs GROUP BY user),
nd AS (SELECT user, CAST(count(*) AS BIGINT) AS n_days
       FROM daily GROUP BY user)
SELECT s.user, n.n_days, s.n_pairs, round(s.sen, 6) AS sen_slope
FROM stats s JOIN nd n USING (user)
WHERE n.n_days >= 10
ORDER BY round(s.sen, 6) DESC, s.user ASC
LIMIT 20
"""

QUERIES_TAIL["theil_sen_user_trend"] = theil_sen_user_trend
ORACLES_TAIL["theil_sen_user_trend"] = _THEIL_SEN_SQL


# -- seasonal-naive forecast backtest ------------------------------------------

def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest of daily event value under the seasonal-naive
    model forecast(d) = actual(d − 7 days) — the standard baseline
    every demand-forecasting stack must beat (public knowledge:
    Hyndman & Athanasopoulos, 'Forecasting: Principles and Practice',
    the M-competition baseline). Scored over the last 14 days of the
    data's span, one row per day.

    Exactness: daily actuals are exact BIGINT cents (per-event
    round-to-cents, then integer sum); the forecast is an equi-join on
    date_add (no window, no ordering); abs error is integer; APE is
    truncating integer ppm (Spark ``DIV`` == DuckDB ``//``). Zero
    floats anywhere.

    Scale shape: one events scan → day-grain hash agg (map-combinable;
    the grid is calendar-bounded) → a self-equi-join on the day grain
    → a broadcast max-day anchor. The 7-day lag never explodes: it is
    a key join on the ≤|days| grid, not a range join."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                  .alias("cents")))
    anchor = daily.agg(F.max("day").alias("max_day"))
    lag = daily.select(F.date_add(F.col("day"), 7).alias("day"),
                       F.col("cents").alias("forecast_cents"))
    scored = (daily.join(lag, "day")
              .crossJoin(F.broadcast(anchor))
              .filter(F.col("day") > F.date_sub(F.col("max_day"), 14)))
    err = F.abs(F.col("cents") - F.col("forecast_cents"))
    return (scored.select(
        "day", F.col("cents").alias("actual_cents"), "forecast_cents",
        err.alias("abs_err_cents"),
        F.expr("1000000 * abs(cents - forecast_cents) DIV cents")
        .alias("ape_ppm"))
        .orderBy("day"))


_SNAIVE_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY CAST(ts AS DATE)),
anchor AS (SELECT max(day) AS max_day FROM daily),
lag7 AS (SELECT day + 7 AS day, cents AS forecast_cents FROM daily)
SELECT d.day, d.cents AS actual_cents, l.forecast_cents,
       abs(d.cents - l.forecast_cents) AS abs_err_cents,
       CAST((1000000 * abs(d.cents - l.forecast_cents)) // d.cents
            AS BIGINT) AS ape_ppm
FROM daily d JOIN lag7 l USING (day) CROSS JOIN anchor a
WHERE d.day > a.max_day - 14
ORDER BY d.day
"""

QUERIES_TAIL["seasonal_naive_backtest"] = seasonal_naive_backtest
ORACLES_TAIL["seasonal_naive_backtest"] = _SNAIVE_SQL


# -- Holt linear exponential smoothing (day grain) ----------------------------

def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing of daily event value (public
    knowledge: Holt 1957 — level + trend recurrence, the forecasting
    step up from user_daily_ewma's level-only EWMA), with the
    one-step-ahead forecast each day — the companion model
    seasonal_naive_backtest's baseline is judged against.

    alpha = 0.5, beta = 0.3; init l_1 = y_1, b_1 = 0 (documented
    convention). The recurrence is inherently sequential, so it runs
    in ONE Arrow batch over the DAY-GRAIN frame — calendar-bounded
    rows (the sprt_daily_monitor scale argument), never the fact
    table. The oracle replays it with a RECURSIVE CTE stepping the
    identical operand tree (0.5*y + 0.5*(l+b); 0.3*(l_new−l) + 0.7*b),
    so both engines accumulate bit-identical doubles; rounding only
    at emission."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                  .alias("cents"))
             .withColumn("g", F.lit(1)))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        lvl, trd, fcs = [], [], []
        l = b = None
        for y in pdf["cents"].astype("float64"):
            if l is None:
                fcs.append(None)
                l, b = y, 0.0
            else:
                fcs.append(l + b)
                l_new = 0.5 * y + 0.5 * (l + b)
                b = 0.3 * (l_new - l) + 0.7 * b
                l = l_new
            lvl.append(l)
            trd.append(b)
        # emit FULL precision; rounding happens in F.round below —
        # Python round() is half-to-even, DuckDB round() half-away,
        # and a half-ulp boundary (hit at sf0.001, forecast day 20)
        # splits them
        return pd.DataFrame({
            "day": pdf["day"], "actual_cents": pdf["cents"],
            "level": lvl, "trend": trd, "forecast": fcs})

    raw = daily.groupBy("g").applyInPandas(
        holt, schema=("day date, actual_cents long, level double, "
                      "trend double, forecast double"))
    return (raw.select("day", "actual_cents",
                       F.round("level", 6).alias("level_r6"),
                       F.round("trend", 6).alias("trend_r6"),
                       F.round("forecast", 6).alias("forecast_r6"))
            .orderBy("day"))


_HOLT_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents,
         row_number() OVER (ORDER BY CAST(ts AS DATE)) AS rn
  FROM events GROUP BY CAST(ts AS DATE)),
holt AS (
  SELECT rn, day, cents,
         CAST(cents AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b,
         CAST(NULL AS DOUBLE) AS fc
  FROM daily WHERE rn = 1
  UNION ALL
  SELECT d.rn, d.day, d.cents,
         0.5 * CAST(d.cents AS DOUBLE) + 0.5 * (h.l + h.b) AS l,
         CAST(0.3 AS DOUBLE)
           * ((0.5 * CAST(d.cents AS DOUBLE) + 0.5 * (h.l + h.b)) - h.l)
           + CAST(0.7 AS DOUBLE) * h.b AS b,
         h.l + h.b AS fc
  FROM holt h JOIN daily d ON d.rn = h.rn + 1)
SELECT day, cents AS actual_cents,
       round(l, 6) AS level_r6, round(b, 6) AS trend_r6,
       round(fc, 6) AS forecast_r6
FROM holt ORDER BY day
"""

QUERIES_TAIL["holt_linear_daily"] = holt_linear_daily
ORACLES_TAIL["holt_linear_daily"] = _HOLT_SQL


# -- time-bounded funnel -------------------------------------------------------

_FUNNEL_GAP_US = 24 * 3600 * 1_000_000  # 24h conversion window


def funnel_conversion_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """funnel_conversion with the marketing-standard 24-hour
    conversion window: each stage must land strictly after AND within
    24h of the accepted previous stage (funnel_stage_times
    ``max_gap_us`` — greedy anchoring at the accepted time). Same
    single user-partitioned exchange as the unbounded funnel; the gap
    test is an exact integer epoch-µs compare, so the cross-engine
    contract stays bit-exact."""
    log = activity_log(spark, sf_dir)
    per_user = funnel_stage_times(log, ["view", "click", "purchase"],
                                  max_gap_us=_FUNNEL_GAP_US)
    return per_user.agg(
        F.count(F.col("t1")).alias("viewed"),
        F.count(F.col("t2")).alias("clicked_24h"),
        F.count(F.col("t3")).alias("purchased_24h"))


_FUNNEL_24H_SQL = f"""
{_LOG_CTE},
w1 AS (SELECT user, ts, activity,
              min(CASE WHEN activity = 'view' THEN ts END)
                OVER (PARTITION BY user) AS t1
       FROM log),
w2 AS (SELECT *, min(CASE WHEN activity = 'click' AND ts > t1
                           AND epoch_us(ts) - epoch_us(t1)
                               <= {_FUNNEL_GAP_US} THEN ts END)
                   OVER (PARTITION BY user) AS t2
       FROM w1),
w3 AS (SELECT *, min(CASE WHEN activity = 'purchase' AND ts > t2
                           AND epoch_us(ts) - epoch_us(t2)
                               <= {_FUNNEL_GAP_US} THEN ts END)
                   OVER (PARTITION BY user) AS t3
       FROM w2),
pu AS (SELECT user, any_value(t1) AS t1, any_value(t2) AS t2,
              any_value(t3) AS t3
       FROM w3 GROUP BY user)
SELECT CAST(count(t1) AS BIGINT) AS viewed,
       CAST(count(t2) AS BIGINT) AS clicked_24h,
       CAST(count(t3) AS BIGINT) AS purchased_24h
FROM pu
"""

QUERIES_TAIL["funnel_conversion_24h"] = funnel_conversion_24h
ORACLES_TAIL["funnel_conversion_24h"] = _FUNNEL_24H_SQL


# -- linear multi-touch attribution --------------------------------------------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback


def linear_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution — the standard
    alternative to purchase_attribution's last-touch rule: every view
    or click in the 7 days before a purchase shares that purchase's
    revenue equally. Credit splitting is EXACT integer arithmetic:
    each touch gets cents DIV n, and the remainder goes to the LAST
    touch (latest ts, event_id tie-break) — a deterministic rule both
    engines replay, so credited cents sum exactly to the attributed
    revenue (invariant pinned in tests). Rolled up per touch type.

    Scale shape: purchases join touches on the user key (equi-join;
    the range predicate is an integer epoch-µs filter on the joined
    row). The pair frame is the workload by definition — every
    in-window (purchase, touch) pair carries credit — and it is
    reduced by ONE map-combinable (p_id, touch) aggregation (count +
    max-struct last-touch), never a per-pair window: partial aggs
    collapse the pairs map-side, so the shuffled state is bounded by
    |purchases|·|touch types|, not |pairs| (the 30× soak exposed the
    original two-window form paying full pair-frame sort+shuffle
    twice). A tiny p_id self-join then splits the integer remainder."""
    log = activity_log(spark, sf_dir)
    purchases = (log.filter(F.col("activity") == "purchase")
                 .select(F.col("event_id").alias("p_id"), "user",
                         F.unix_micros("ts").alias("p_us"),
                         F.round(F.col("value") * 100, 0).cast("long")
                         .alias("cents")))
    touches = (log.filter(F.col("activity").isin("view", "click"))
               .select("user", F.col("event_id").alias("t_id"),
                       F.col("activity").alias("touch"),
                       F.unix_micros("ts").alias("t_us")))
    pairs = (purchases.join(touches, "user")
             .filter((F.col("t_us") < F.col("p_us"))
                     & (F.col("p_us") - F.col("t_us")
                        <= F.lit(_ATTR_WINDOW_US))))
    return attribution_credit_rollup(pairs)


def attribution_credit_rollup(pairs: DataFrame) -> DataFrame:
    """The money-conserving credit rollup shared by the batch query
    and its streaming twin: ``pairs`` is any (p_id, cents, touch,
    t_us, t_id) frame of in-window (purchase, touch) rows. One
    map-combinable (p_id, touch) agg + a tiny p_id join — see
    linear_touch_attribution's scale note."""
    per_pt = (pairs.groupBy("p_id", "cents", "touch")
              .agg(F.count("*").alias("cnt"),
                   F.max(F.struct("t_us", "t_id")).alias("last_t")))
    # the per-purchase re-agg joins back onto its own source frame;
    # rename the key so the self-join never carries conflicting
    # attribute ids (the memory-sink View in the streaming twin breaks
    # Spark's automatic dedup of them)
    per_p = (per_pt.groupBy(F.col("p_id").alias("pp_id"))
             .agg(F.sum("cnt").alias("n"),
                  F.max("last_t").alias("last_all")))
    credited = (per_pt.join(per_p, F.col("p_id") == F.col("pp_id"))
                .withColumn("base", F.expr("cents DIV n"))
                .withColumn("credit",
                            F.col("cnt") * F.col("base")
                            + F.when(F.col("last_t") == F.col("last_all"),
                                     F.col("cents")
                                     - F.col("n") * F.col("base"))
                            .otherwise(F.lit(0))))
    return (credited.groupBy("touch")
            .agg(F.sum("cnt").alias("n_touches"),
                 F.sum("credit").alias("credited_cents"))
            .orderBy("touch"))


_LINEAR_ATTR_SQL = f"""
{_LOG_CTE},
p AS (SELECT event_id AS p_id, user, epoch_us(ts) AS p_us,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM log WHERE activity = 'purchase'),
t AS (SELECT user, event_id AS t_id, activity AS touch,
             epoch_us(ts) AS t_us
      FROM log WHERE activity IN ('view', 'click')),
pairs AS (SELECT p.p_id, p.cents, t.t_id, t.touch, t.t_us
          FROM p JOIN t ON p.user = t.user
          WHERE t.t_us < p.p_us
            AND p.p_us - t.t_us <= {_ATTR_WINDOW_US}),
c AS (SELECT *,
             CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY p_id
                                ORDER BY t_us DESC, t_id DESC) AS rn
      FROM pairs)
SELECT touch, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum((cents // n)
                + CASE WHEN rn = 1 THEN cents - n * (cents // n)
                       ELSE 0 END) AS BIGINT) AS credited_cents
FROM c GROUP BY touch ORDER BY touch
"""

QUERIES_TAIL["linear_touch_attribution"] = linear_touch_attribution
ORACLES_TAIL["linear_touch_attribution"] = _LINEAR_ATTR_SQL


# -- session entry/exit/bounce report -------------------------------------------

def session_entry_exit_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Web-analytics landing/exit report over the 30-minute
    sessionization: per activity type, how many sessions OPEN with it
    (entry), CLOSE with it (exit), and how many are single-event
    bounces. Exact integer counts; first/last membership is decided
    by the total (ts, event_id) order, so ties cannot split engines.

    Scale shape: the same single per-user exchange as event_sessions
    (the session-id cumsum and both within-session row_numbers sort
    once on the user key); the final agg is a ≤|activities|-row
    map-combinable count."""
    from pyspark.sql.window import Window
    sess = sessionize(activity_log(spark, sf_dir))
    ws = Window.partitionBy("user", "session_id").orderBy("ts", "event_id")
    wsd = Window.partitionBy("user", "session_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    flagged = (sess.withColumn("rn_a", F.row_number().over(ws))
               .withColumn("rn_d", F.row_number().over(wsd)))
    return (flagged.groupBy("activity")
            .agg(F.sum((F.col("rn_a") == 1).cast("long"))
                 .alias("n_entries"),
                 F.sum((F.col("rn_d") == 1).cast("long"))
                 .alias("n_exits"),
                 F.sum(((F.col("rn_a") == 1) & (F.col("rn_d") == 1))
                       .cast("long")).alias("n_bounces"))
            .orderBy("activity"))


_SESSION_ENTRY_EXIT_SQL = f"""
{_LOG_CTE},
l AS (SELECT user, ts, event_id, activity,
             CASE WHEN lag(ts) OVER uw IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER uw)
                       > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM log
      WINDOW uw AS (PARTITION BY user ORDER BY ts, event_id)),
s AS (SELECT user, ts, event_id, activity,
             CAST(sum(is_new) OVER (PARTITION BY user ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM l),
f AS (SELECT activity,
             row_number() OVER (PARTITION BY user, session_id
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user, session_id
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM s)
SELECT activity,
       CAST(sum(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_entries,
       CAST(sum(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exits,
       CAST(sum(CASE WHEN rn_a = 1 AND rn_d = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bounces
FROM f GROUP BY activity ORDER BY activity
"""

QUERIES_TAIL["session_entry_exit_report"] = session_entry_exit_report
ORACLES_TAIL["session_entry_exit_report"] = _SESSION_ENTRY_EXIT_SQL


# -- weekly revenue retention waterfall ----------------------------------------

def revenue_retention_waterfall(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The SaaS revenue-movement waterfall at weekly grain: each
    week's purchase revenue decomposed against the previous week
    per user into NEW (user had none last week), EXPANSION (grew),
    CONTRACTION (shrank), and CHURNED (user had revenue last week,
    none this week) — the decomposition behind every net-revenue-
    retention chart. Money conserves exactly:
    end = start + new + expansion − contraction − churned
    (exact BIGINT cents; identity pinned in tests).

    Scale shape: one events scan → (user, week) hash agg → a
    self full-outer equi-join on (user, next-week) — both sides
    partition on the user key — → a ≤|weeks|-row map-combinable agg.
    No window, no ordering; weeks are ISO-Monday date_trunc in both
    engines."""
    log = activity_log(spark, sf_dir)
    weekly = (log.filter(F.col("activity") == "purchase")
              .groupBy("user",
                       F.date_trunc("week", "ts").cast("date").alias("wk"))
              .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                   .alias("cents")))
    cur = weekly.select(F.col("user").alias("c_user"),
                        F.col("wk").alias("c_wk"),
                        F.col("cents").alias("c_cents"))
    prev = weekly.select(F.col("user").alias("p_user"),
                         F.date_add("wk", 7).alias("p_next"),
                         F.col("cents").alias("p_cents"))
    j = cur.join(prev, (F.col("c_user") == F.col("p_user"))
                 & (F.col("c_wk") == F.col("p_next")), "full_outer")
    wk = F.coalesce("c_wk", "p_next")
    c = F.coalesce("c_cents", F.lit(0))
    p = F.coalesce("p_cents", F.lit(0))
    return (j.groupBy(wk.alias("week"))
            .agg(F.sum(p).alias("start_cents"),
                 F.sum(c).alias("end_cents"),
                 F.sum(F.when(F.col("p_cents").isNull(), c)
                       .otherwise(F.lit(0))).alias("new_cents"),
                 F.sum(F.when(F.col("c_cents").isNull(), p)
                       .otherwise(F.lit(0))).alias("churned_cents"),
                 F.sum(F.when(F.col("c_cents").isNotNull()
                              & F.col("p_cents").isNotNull()
                              & (c > p), c - p)
                       .otherwise(F.lit(0))).alias("expansion_cents"),
                 F.sum(F.when(F.col("c_cents").isNotNull()
                              & F.col("p_cents").isNotNull()
                              & (p > c), p - c)
                       .otherwise(F.lit(0))).alias("contraction_cents"))
            .orderBy("week"))


_RETENTION_SQL = f"""
{_LOG_CTE},
weekly AS (
  SELECT user, CAST(date_trunc('week', ts) AS DATE) AS wk,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM log WHERE activity = 'purchase' GROUP BY user, wk),
j AS (SELECT c.user AS c_user, c.wk AS c_wk, c.cents AS c_cents,
             p.user AS p_user, p.wk + 7 AS p_next, p.cents AS p_cents
      FROM weekly c FULL OUTER JOIN weekly p
        ON c.user = p.user AND c.wk = p.wk + 7)
SELECT COALESCE(c_wk, p_next) AS week,
       CAST(sum(COALESCE(p_cents, 0)) AS BIGINT) AS start_cents,
       CAST(sum(COALESCE(c_cents, 0)) AS BIGINT) AS end_cents,
       CAST(sum(CASE WHEN p_cents IS NULL THEN COALESCE(c_cents, 0)
                     ELSE 0 END) AS BIGINT) AS new_cents,
       CAST(sum(CASE WHEN c_cents IS NULL THEN COALESCE(p_cents, 0)
                     ELSE 0 END) AS BIGINT) AS churned_cents,
       CAST(sum(CASE WHEN c_cents IS NOT NULL AND p_cents IS NOT NULL
                      AND c_cents > p_cents THEN c_cents - p_cents
                     ELSE 0 END) AS BIGINT) AS expansion_cents,
       CAST(sum(CASE WHEN c_cents IS NOT NULL AND p_cents IS NOT NULL
                      AND p_cents > c_cents THEN p_cents - c_cents
                     ELSE 0 END) AS BIGINT) AS contraction_cents
FROM j GROUP BY COALESCE(c_wk, p_next)
ORDER BY week
"""

QUERIES_TAIL["revenue_retention_waterfall"] = revenue_retention_waterfall
ORACLES_TAIL["revenue_retention_waterfall"] = _RETENTION_SQL
