"""The reference's 10 analytic queries, Spark-first (SURVEY.md §2, §7.3).

Each Cypher query from `neo4j_analysis.py` becomes ONE Catalyst plan over
the fact table — the Bolt round trip, server-side eager aggregation and
client-side Python post-processing all collapse into the same DataFrame.

Scale notes (100 TB thinking):
- every aggregation is a hash agg with map-side partial aggregation;
- top-k compiles to TakeOrderedAndProject (no global sort);
- the only joins are on `user` after pre-aggregation (small outputs) or
  broadcast-sized; the fan-out 2-hop join (J2) pre-aggregates both sides
  before joining so the shuffle carries (user, activity) groups, not raw
  events.

Determinism: every LIMIT query carries a total tie-break order (count
DESC, user ASC) so the returned row *set* is reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from threat_detection_nosql_spark.operators.entropy import (
    add_shannon_entropy,
    entropy_oracle_sql,
)
from threat_detection_nosql_spark.operators.etl import (
    ACTIVITY_LOG_ORACLE_SQL,
    activity_log,
)
from threat_detection_nosql_spark.operators.graph import user_degree
from threat_detection_nosql_spark.queries.temporal import (
    daily_count_ols,
    gap_dispersion,
    sequence_surprise,
)

# Shared oracle CTE: the activity-log view in DuckDB terms.
_LOG_CTE = f"WITH log AS ({ACTIVITY_LOG_ORACLE_SQL})"


# -- Q1: top-10 users by after-hours activity (`neo4j_analysis.py:15-24`) ----

def after_hours_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 + A1 + T1: filter → hash agg → TakeOrderedAndProject."""
    return (activity_log(spark, sf_dir)
            .filter(F.col("is_after_hours") == 1)
            .groupBy("user")
            .agg(F.count("*").alias("after_hours_count"))
            .orderBy(F.desc("after_hours_count"), F.asc("user"))
            .limit(10))


_AFTER_HOURS_SQL = f"""
{_LOG_CTE}
SELECT user, CAST(count(*) AS BIGINT) AS after_hours_count
FROM log WHERE is_after_hours = 1
GROUP BY user
ORDER BY after_hours_count DESC, user ASC
LIMIT 10
"""


# -- Q2: top-10 users by weekend activity (P4 variant, `:152`) ---------------

def weekend_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (activity_log(spark, sf_dir)
            .filter(F.col("is_weekend") == 1)
            .groupBy("user")
            .agg(F.count("*").alias("weekend_count"))
            .orderBy(F.desc("weekend_count"), F.asc("user"))
            .limit(10))


_WEEKEND_SQL = f"""
{_LOG_CTE}
SELECT user, CAST(count(*) AS BIGINT) AS weekend_count
FROM log WHERE is_weekend = 1
GROUP BY user
ORDER BY weekend_count DESC, user ASC
LIMIT 10
"""


# -- Q3: top-10 users by total activity (`neo4j_analysis.py:42-50`) ----------

def high_activity_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (activity_log(spark, sf_dir)
            .groupBy("user")
            .agg(F.count("*").alias("activity_count"))
            .orderBy(F.desc("activity_count"), F.asc("user"))
            .limit(10))


_HIGH_ACTIVITY_SQL = f"""
{_LOG_CTE}
SELECT user, CAST(count(*) AS BIGINT) AS activity_count
FROM log
GROUP BY user
ORDER BY activity_count DESC, user ASC
LIMIT 10
"""


# -- Q4: top-10 users by distinct resources (`neo4j_analysis.py:27-39`) ------

def unusual_resources_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: exact countDistinct here; at 100 TB swap for
    approx_count_distinct (rsd≈1%) — noted in SURVEY.md A6."""
    return (activity_log(spark, sf_dir)
            .groupBy("user")
            .agg(F.countDistinct("resource").alias("unique_resources"))
            .orderBy(F.desc("unique_resources"), F.asc("user"))
            .limit(10))


_UNUSUAL_RESOURCES_SQL = f"""
{_LOG_CTE}
SELECT user, CAST(count(DISTINCT resource) AS BIGINT) AS unique_resources
FROM log
GROUP BY user
ORDER BY unique_resources DESC, user ASC
LIMIT 10
"""


# -- Q5: per-user activity profile, frequency-ordered (`:53-64`, T2/A7) ------

def activity_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collect (T2): Cypher sorts before `collect(...)`;
    `collect_list` does not preserve order, so the profile is built by
    `array_sort` over (−count, activity) structs — deterministic and
    shuffle-count identical (two hash aggs on user).

    The profile is rendered "activity:count,..." (count DESC, activity
    ASC) so the oracle can reproduce it with ordered string_agg.
    """
    per_activity = (activity_log(spark, sf_dir)
                    .groupBy("user", "activity")
                    .agg(F.count("*").alias("cnt")))
    return (per_activity
            .groupBy("user")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct((-F.col("cnt")).alias("neg"),
                                 F.col("activity").alias("activity"),
                                 F.col("cnt").alias("cnt")))),
                    lambda x: F.concat_ws(":", x.activity, x.cnt)),
                ",").alias("profile")))


_ACTIVITY_PROFILES_SQL = f"""
{_LOG_CTE}
SELECT user,
       string_agg(activity || ':' || cnt, ',' ORDER BY cnt DESC, activity ASC)
         AS profile
FROM (SELECT user, activity, count(*) AS cnt FROM log GROUP BY user, activity) t
GROUP BY user
"""


# -- Q6: degree centrality top-10 (`neo4j_analysis.py:67-85`, A12/J4/U1) -----

def degree_centrality_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (user_degree(activity_log(spark, sf_dir))
            .orderBy(F.desc("degree"), F.asc("user"))
            .limit(10))


# Users are src of PERFORMS and USES ⇒ degree = 2 × row count; the oracle
# mirrors the generic union-of-endpoints the Spark side executes.
_DEGREE_SQL = f"""
{_LOG_CTE}
SELECT user, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT user FROM log UNION ALL SELECT user FROM log) edges
GROUP BY user
ORDER BY degree DESC, user ASC
LIMIT 10
"""


# -- Q7/Q8/Q9: Shannon entropies (`:88-121, 199-247, 249-289`, A11) ----------

def activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return add_shannon_entropy(activity_log(spark, sf_dir),
                               "user", "activity", "activity_entropy")


def temporal_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return add_shannon_entropy(activity_log(spark, sf_dir),
                               "user", "hour_of_day", "temporal_entropy")


def resource_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return add_shannon_entropy(activity_log(spark, sf_dir),
                               "user", "resource", "resource_entropy")


_LOG_SRC = ACTIVITY_LOG_ORACLE_SQL
_ACTIVITY_ENTROPY_SQL = entropy_oracle_sql(_LOG_SRC, "user", "activity",
                                           "activity_entropy")
_TEMPORAL_ENTROPY_SQL = entropy_oracle_sql(_LOG_SRC, "user", "hour_of_day",
                                           "temporal_entropy")
_RESOURCE_ENTROPY_SQL = entropy_oracle_sql(_LOG_SRC, "user", "resource",
                                           "resource_entropy")


# -- Q10: 2-hop fan-out — resources reached via activities (`:27-39`, J2) ----

def two_hop_resource_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher path counting over (u)-[:PERFORMS]->(a)-[:INVOLVES]->(r):
    one path per (PERFORMS edge × INVOLVES edge) pair sharing the
    activity. Naively that join fans out |events|² / |activities|; both
    sides are pre-aggregated to (key, count) first so the join input is
    |users×activities| + |activities×resources| rows and the path count
    is Σ cnt_p × cnt_i — the only formulation that survives 100 TB.
    """
    log = activity_log(spark, sf_dir)
    performs = log.groupBy("user", "activity").agg(F.count("*").alias("cnt_p"))
    involves = log.groupBy("activity", "resource").agg(F.count("*").alias("cnt_i"))
    return (performs.join(involves, "activity")
            .groupBy("user", "resource")
            .agg(F.sum(F.col("cnt_p") * F.col("cnt_i")).alias("path_count")))


_TWO_HOP_SQL = f"""
{_LOG_CTE},
performs AS (SELECT user, activity, count(*) AS cnt_p FROM log
             GROUP BY user, activity),
involves AS (SELECT activity, resource, count(*) AS cnt_i FROM log
             GROUP BY activity, resource)
SELECT p.user, i.resource,
       CAST(sum(p.cnt_p * i.cnt_i) AS BIGINT) AS path_count
FROM performs p JOIN involves i USING (activity)
GROUP BY p.user, i.resource
"""


# -- Q11: the full per-user feature matrix (`:124-247`, A10 + J5/J6) ---------

def user_counts(log: DataFrame, approx: bool = False) -> DataFrame:
    """Per-user counts and ratios over the activity log: the six
    features of ONE multi-aggregate pass (A10) plus the two after-hours
    and weekend ratios. ``user_features`` joins the entropies onto it;
    the fixed-ML feature vectors and the PCA projection read it as is.

    ``approx=True`` is the 100 TB mode: the three exact countDistincts
    force an Expand (3× shuffle rows); approx_count_distinct (HLL,
    rsd 1%) keeps the aggregation single-pass with fixed-size state.
    """
    if approx:
        distinct_aggs = [
            F.approx_count_distinct("pc", 0.01).alias("unique_systems"),
            F.approx_count_distinct("resource", 0.01)
             .alias("unique_resources"),
            F.approx_count_distinct("activity", 0.01)
             .alias("activity_types"),
        ]
    else:
        distinct_aggs = [
            F.countDistinct("pc").alias("unique_systems"),
            F.countDistinct("resource").alias("unique_resources"),
            F.countDistinct("activity").alias("activity_types"),
        ]
    base = (log.groupBy("user").agg(
        F.count("*").alias("total_activities"),
        F.sum(F.when(F.col("is_after_hours") == 1, 1).otherwise(0))
         .alias("after_hours_activities"),
        F.sum(F.when(F.col("is_weekend") == 1, 1).otherwise(0))
         .alias("weekend_activities"),
        *distinct_aggs))
    # safe-divide ratio guard (F9, `neo4j_analysis.py:184-185`)
    divisor = F.when(F.col("total_activities") > 0,
                     F.col("total_activities")).otherwise(F.lit(1))
    return (base
            .withColumn("after_hours_ratio",
                        F.round(F.col("after_hours_activities") / divisor, 6))
            .withColumn("weekend_ratio",
                        F.round(F.col("weekend_activities") / divisor, 6)))


def user_features(spark: SparkSession, sf_dir: str,
                  approx: bool = False) -> DataFrame:
    """The reference issues 6 correlated CALL{} subqueries per user plus
    two client-side entropy loops (`neo4j_analysis.py:134-175,203-243`).
    Decorrelated here into ONE multi-aggregate pass (A10) — six features
    in a single shuffle — plus two entropy aggs joined on user (J6);
    the entropy outputs are tiny (|users| rows) so they broadcast.
    ``approx`` picks ``user_counts``' distinct-count mode.
    """
    log = activity_log(spark, sf_dir)
    base = user_counts(log, approx)
    # fused entropy path, round 12: BOTH entropies from ONE chain. The
    # r11 form re-aggregated the (user, activity, hour) pre-agg twice
    # and relied on ReuseExchange to dedupe the shared exchange — the
    # physical plan showed it did NOT fire: three full scan→agg chains
    # (`python scripts/dump_plans.py TAG SUFFIX user_features` writes
    # the current plan to plans/TAG/). An Expand tags each pre-agg
    # row once per dimension, so one aggregation chain computes both
    # frequency tables, both entropies (the exact entropy_from_freq
    # algebra: round(log2(T) − Σf·log2 f / T, 6) over identical
    # frequencies), and a 2-column pivot — one events scan instead of
    # two, one join instead of two (guide §2.3/§2.4; measured
    # 1.03 → 0.84 s at sf0.1).
    g = (log.groupBy("user", "activity", "hour_of_day")
         .agg(F.count("*").alias("c")))
    dims = (g.select(
        "user", "c",
        F.explode(F.array(
            F.struct(F.lit("a").alias("dim"),
                     F.col("activity").cast("string").alias("key")),
            F.struct(F.lit("h").alias("dim"),
                     F.col("hour_of_day").cast("string").alias("key"))))
        .alias("dk"))
        .select("user", "c", F.col("dk.dim").alias("dim"),
                F.col("dk.key").alias("key")))
    fr = dims.groupBy("user", "dim", "key").agg(F.sum("c").alias("freq"))
    ent = (fr.groupBy("user", "dim")
           .agg(F.round(F.log2(F.sum("freq"))
                        - F.sum(F.col("freq") * F.log2("freq"))
                        / F.sum("freq"), 6).alias("e")))
    piv = ent.groupBy("user").agg(
        F.max(F.when(F.col("dim") == "a", F.col("e")))
        .alias("activity_entropy"),
        F.max(F.when(F.col("dim") == "h", F.col("e")))
        .alias("temporal_entropy"))
    return base.join(piv, "user", "left")


_USER_FEATURES_SQL = f"""
{_LOG_CTE},
base AS (
  SELECT user,
         CAST(count(*) AS BIGINT) AS total_activities,
         CAST(sum(CASE WHEN is_after_hours = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS after_hours_activities,
         CAST(sum(CASE WHEN is_weekend = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS weekend_activities,
         CAST(count(DISTINCT pc) AS BIGINT) AS unique_systems,
         CAST(count(DISTINCT resource) AS BIGINT) AS unique_resources,
         CAST(count(DISTINCT activity) AS BIGINT) AS activity_types
  FROM log GROUP BY user
),
act_freq AS (SELECT user, activity, count(*) AS freq FROM log
             GROUP BY user, activity),
act_ent AS (SELECT user,
                   round(log2(sum(freq)) - sum(freq * log2(freq)) / sum(freq), 6)
                     AS activity_entropy
            FROM act_freq GROUP BY user),
tmp_freq AS (SELECT user, hour_of_day, count(*) AS freq FROM log
             GROUP BY user, hour_of_day),
tmp_ent AS (SELECT user,
                   round(log2(sum(freq)) - sum(freq * log2(freq)) / sum(freq), 6)
                     AS temporal_entropy
            FROM tmp_freq GROUP BY user)
SELECT base.*,
       round(after_hours_activities * 1.0 /
             (CASE WHEN total_activities > 0 THEN total_activities ELSE 1 END), 6)
         AS after_hours_ratio,
       round(weekend_activities * 1.0 /
             (CASE WHEN total_activities > 0 THEN total_activities ELSE 1 END), 6)
         AS weekend_ratio,
       act_ent.activity_entropy,
       tmp_ent.temporal_entropy
FROM base
LEFT JOIN act_ent USING (user)
LEFT JOIN tmp_ent USING (user)
"""


# -- Q12: null audit (P1, `data_preprocessing.py:24-26`) ---------------------

def events_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from threat_detection_nosql_spark.operators.etl import null_audit
    from threat_detection_nosql_spark.sources.readers import load_table
    return null_audit(load_table(spark, sf_dir, "events"))


_NULL_AUDIT_SQL = """
SELECT CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_id,
       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ts,
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_user_id,
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,
       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_props
FROM events
"""


QUERIES = {
    "after_hours_top10": after_hours_top10,
    "weekend_top10": weekend_top10,
    "high_activity_top10": high_activity_top10,
    "unusual_resources_top10": unusual_resources_top10,
    "activity_profiles": activity_profiles,
    "degree_centrality_top10": degree_centrality_top10,
    "activity_entropy": activity_entropy,
    "temporal_entropy": temporal_entropy,
    "resource_entropy": resource_entropy,
    "two_hop_resource_paths": two_hop_resource_paths,
    "user_features": user_features,
    "events_null_audit": events_null_audit,
}

ORACLES = {
    "after_hours_top10": _AFTER_HOURS_SQL,
    "weekend_top10": _WEEKEND_SQL,
    "high_activity_top10": _HIGH_ACTIVITY_SQL,
    "unusual_resources_top10": _UNUSUAL_RESOURCES_SQL,
    "activity_profiles": _ACTIVITY_PROFILES_SQL,
    "degree_centrality_top10": _DEGREE_SQL,
    "activity_entropy": _ACTIVITY_ENTROPY_SQL,
    "temporal_entropy": _TEMPORAL_ENTROPY_SQL,
    "resource_entropy": _RESOURCE_ENTROPY_SQL,
    "two_hop_resource_paths": _TWO_HOP_SQL,
    "user_features": _USER_FEATURES_SQL,
    "events_null_audit": _NULL_AUDIT_SQL,
}


def user_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most active hour via `max_by` (argmax WITHOUT a
    window): two map-combined aggs, no sort anywhere. The tie-break is
    encoded into the ordering value itself (count·100 + (23 − hour) →
    earliest hour wins ties), because bare max_by/arg_max tie behavior
    is engine-nondeterministic — the one rule that makes argmax
    aggregates oracle-safe."""
    log = activity_log(spark, sf_dir)
    counts = (log.groupBy("user", "hour_of_day")
              .agg(F.count("*").alias("c")))
    ordv = F.col("c") * 100 + (23 - F.col("hour_of_day"))
    return (counts.groupBy("user")
            .agg(F.max_by("hour_of_day", ordv).cast("long")
                 .alias("peak_hour"),
                 F.max("c").alias("peak_count")))


_PEAK_HOUR_SQL = f"""
{_LOG_CTE},
counts AS (SELECT user, hour_of_day, count(*) AS c
           FROM log GROUP BY user, hour_of_day)
SELECT user,
       arg_max(hour_of_day, c * 100 + (23 - hour_of_day)) AS peak_hour,
       CAST(max(c) AS BIGINT) AS peak_count
FROM counts GROUP BY user
"""


QUERIES["user_peak_hour"] = user_peak_hour
ORACLES["user_peak_hour"] = _PEAK_HOUR_SQL


_DORMANT_DAYS = 7


def dormant_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn/offboarding signal: users whose LAST activity is more
    than N days before the corpus horizon (max ts) — in insider-threat
    terms, accounts gone quiet whose credentials still work. Per-user
    max is one map-combined agg; the horizon is a 1-row broadcast
    (scalar subquery), so no second fact scan."""
    log = activity_log(spark, sf_dir)
    last = log.groupBy("user").agg(F.max("ts").alias("last_ts"),
                                   F.count("*").alias("lifetime_events"))
    horizon = log.agg(F.max("ts").alias("horizon"))
    idle_us = F.unix_micros("horizon") - F.unix_micros("last_ts")
    return (last.crossJoin(F.broadcast(horizon))
            .withColumn("idle_days",
                        F.round(idle_us / (86400 * 1e6), 4))
            .filter(F.col("idle_days") > _DORMANT_DAYS)
            .select("user", "last_ts", "lifetime_events", "idle_days"))


_DORMANT_SQL = f"""
{_LOG_CTE},
last AS (SELECT user, max(ts) AS last_ts,
                CAST(count(*) AS BIGINT) AS lifetime_events
         FROM log GROUP BY user),
h AS (SELECT max(ts) AS horizon FROM log)
SELECT user, last_ts, lifetime_events,
       round((epoch_us(horizon) - epoch_us(last_ts)) / (86400 * 1e6), 4)
         AS idle_days
FROM last CROSS JOIN h
WHERE round((epoch_us(horizon) - epoch_us(last_ts)) / (86400 * 1e6), 4)
      > {_DORMANT_DAYS}
"""


QUERIES["dormant_users"] = dormant_users
ORACLES["dormant_users"] = _DORMANT_SQL


# -- rarity-weighted resource access ------------------------------------------

def rare_resource_access_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users by rarity-weighted resource access: each distinct
    resource a user touches contributes ln(n_users / users_touching_it)
    — the IDF of the access matrix — so breadth over RARE resources
    scores high while touching what everyone touches scores ~0. The
    data-driven upgrade of `unusual_resources_top10`'s raw distinct
    count (`neo4j_analysis.py:27-39`), same triage question.

    Shape: one distinct (user, resource) projection feeding BOTH the
    per-resource audience count (map-combinable) and the scoring join
    (broadcast — |resources| rows); one per-user sum of a log over
    integer ratios, rounded, cut on the rounded score. n_users rides
    driver-side as one scalar."""
    return (resource_rarity(activity_log(spark, sf_dir))
            .orderBy(F.desc("rarity_score"), F.asc("user"))
            .limit(10))


def resource_rarity(log: DataFrame) -> DataFrame:
    """Per user: ``n_resources`` distinct resources touched and their
    ``rarity_score``, Σ ln(n_users / users touching each), rounded."""
    ur = (log.filter(F.col("resource").isNotNull())
          .select("user", "resource").distinct())
    n_users = float(ur.select("user").distinct().count())
    audience = ur.groupBy("resource").agg(
        F.countDistinct("user").alias("n_touching"))
    idf = F.log(F.lit(n_users) / F.col("n_touching"))
    return (ur.join(F.broadcast(audience), "resource")
            .groupBy("user")
            .agg(F.count("*").alias("n_resources"),
                 F.round(F.sum(idf), 6).alias("rarity_score")))


_RARE_ACCESS_SQL = f"""
{_LOG_CTE},
ur AS (SELECT DISTINCT user, resource FROM log
       WHERE resource IS NOT NULL),
nu AS (SELECT CAST(count(DISTINCT user) AS DOUBLE) AS n_users FROM ur),
audience AS (SELECT resource,
                    CAST(count(DISTINCT user) AS BIGINT) AS n_touching
             FROM ur GROUP BY 1)
SELECT "user", CAST(count(*) AS BIGINT) AS n_resources,
       round(sum(ln(n_users / n_touching)), 6) AS rarity_score
FROM ur JOIN audience USING (resource) CROSS JOIN nu
GROUP BY "user"
ORDER BY rarity_score DESC, "user" ASC
LIMIT 10
"""

QUERIES_TAIL = {**globals().get("QUERIES_TAIL", {}),
                "rare_resource_access_top10": rare_resource_access_top10}
ORACLES_TAIL = {**globals().get("ORACLES_TAIL", {}),
                "rare_resource_access_top10": _RARE_ACCESS_SQL}


# -- user-user behavioral similarity ------------------------------------------

# Per-activity contributor cap for the similarity self-join: each
# activity key contributes at most CAP² pair rows no matter how many
# users touch it.  With a bounded activity vocabulary EVERY user hits
# "login", so uncapped per-key output is |users|² in disguise — the
# same quadratic class the 10× soak exposed in link_prediction_top20
# (fixed there by _LP_ADJ_CAP).  The cap keeps each activity's
# strongest contributors (count DESC, user ASC — deterministic, the
# oracle replays it verbatim); norms stay FULL-vector so surviving
# pairs score their true cosine (DIMSUM-style: prune the dot, not the
# denominator).  Inactive below 2048 users per activity, so test-SF
# results are unchanged; the planted-fixture test monkeypatches it low
# to pin the semantics.
_SIM_USER_CAP = 2048


def similar_user_pairs_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most behaviorally similar user pairs: cosine similarity
    between per-user activity-count vectors — "who acts like whom",
    the peer-grouping step behind lateral-movement and collusion
    triage.

    The pairwise similarity is computed WITHOUT a cartesian product:
    the dot product Σₐ c(u₁,a)·c(u₂,a) decomposes over the shared
    activity key, so pairs materialize through an equi-join of the
    (user, activity, count) table with itself ON ACTIVITY (key
    cardinality = |activity types| — bounded), and each key's join
    output is bounded at _SIM_USER_CAP² by the per-activity
    contributor cap (see its comment).  The cap itself is computed
    scale-safely: a salted two-stage top-K (top-K within each of 32
    hash buckets, then top-K of the ≤32K survivors) — exact, because
    every global top-K row is in its bucket's top-K, and no single
    window partition ever holds more than max(|key|/32, 32·K) rows.
    Norms are per-user aggs joined broadcast; u₁ < u₂ halves the
    output; the cut orders by the ROUNDED cosine then ids."""
    log = activity_log(spark, sf_dir)
    # localCheckpoint: ua (|users|x|activities| rows) feeds the norms
    # agg AND both self-join sides — without it the plan scans the
    # fact table four times (once per subtree copy)
    ua = (log.groupBy("user", "activity")
          .agg(F.count("*").alias("c"))
          .localCheckpoint())
    norms = (ua.groupBy("user")
             .agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")))
    from pyspark.sql.window import Window
    w1 = (Window.partitionBy("activity", "salt")
          .orderBy(F.desc("c"), F.asc("user")))
    w2 = Window.partitionBy("activity").orderBy(F.desc("c"), F.asc("user"))
    capped = (ua.withColumn("salt", F.pmod(F.hash("user"), F.lit(32)))
              .withColumn("rk1", F.row_number().over(w1))
              .filter(F.col("rk1") <= _SIM_USER_CAP)
              .withColumn("rk", F.row_number().over(w2))
              .filter(F.col("rk") <= _SIM_USER_CAP)
              .select("user", "activity", "c")
              .localCheckpoint())  # referenced by BOTH join sides
    a = capped.select(F.col("user").alias("u1"), "activity",
                      F.col("c").alias("c1"))
    b = capped.select(F.col("user").alias("u2"), "activity",
                      F.col("c").alias("c2"))
    dots = (a.join(b, "activity")
            .filter(F.col("u1") < F.col("u2"))
            .groupBy("u1", "u2")
            .agg(F.sum(F.col("c1") * F.col("c2")).alias("dot")))
    cos = (dots
           .join(F.broadcast(norms.select(F.col("user").alias("u1"),
                                          F.col("nrm").alias("n1"))), "u1")
           .join(F.broadcast(norms.select(F.col("user").alias("u2"),
                                          F.col("nrm").alias("n2"))), "u2")
           .select("u1", "u2",
                   F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 6)
                   .alias("cosine")))
    return (cos.orderBy(F.desc("cosine"), F.asc("u1"), F.asc("u2"))
            .limit(10))


_SIMILAR_USERS_SQL = f"""
{_LOG_CTE},
ua AS (SELECT user, activity, CAST(count(*) AS BIGINT) AS c
       FROM log GROUP BY 1, 2),
norms AS (SELECT user, sqrt(sum(c * c)) AS nrm FROM ua GROUP BY 1),
capped AS (SELECT user, activity, c FROM (
             SELECT user, activity, c,
                    row_number() OVER (PARTITION BY activity
                         ORDER BY c DESC, "user" ASC) AS rk
             FROM ua) t WHERE rk <= {_SIM_USER_CAP}),
dots AS (SELECT a."user" AS u1, b."user" AS u2,
                CAST(sum(a.c * b.c) AS BIGINT) AS dot
         FROM capped a JOIN capped b ON a.activity = b.activity
                                    AND a."user" < b."user"
         GROUP BY 1, 2)
SELECT u1, u2, round(dot / (n1.nrm * n2.nrm), 6) AS cosine
FROM dots
JOIN norms n1 ON n1."user" = u1
JOIN norms n2 ON n2."user" = u2
ORDER BY cosine DESC, u1 ASC, u2 ASC
LIMIT 10
"""

QUERIES_TAIL["similar_user_pairs_top10"] = similar_user_pairs_top10
ORACLES_TAIL["similar_user_pairs_top10"] = _SIMILAR_USERS_SQL


# -- behavioral segmentation quadrants ----------------------------------------

def user_behavior_quadrants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-axis behavioral segmentation: every user lands in a
    quadrant by (event volume vs its median) × (distinct-resource
    breadth vs its median) — the triage grid where high-volume +
    broad-resource reads "service account or scraper" and low-volume +
    broad-resource reads "credential-stuffing probe". Output: the four
    quadrant sizes plus each quadrant's mean after-hours ratio as the
    risk overlay.

    Medians are percentile_disc over INTEGER per-user counts
    (observed elements, engine-identical); quadrant assignment is
    integer comparison; only the final risk overlay divides. One
    per-user agg, one 1-row median agg broadcast back, one quadrant
    roll-up."""
    log = activity_log(spark, sf_dir)
    per_user = (log.groupBy("user")
                .agg(F.count("*").alias("n_events"),
                     F.countDistinct("resource").alias("n_resources"),
                     F.sum("is_after_hours").alias("n_ah")))
    med = per_user.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_events)")
        .alias("med_events"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_resources)")
        .alias("med_resources"))
    j = per_user.crossJoin(F.broadcast(med))
    quadrant = F.concat(
        F.when(F.col("n_events") > F.col("med_events"),
               F.lit("high_volume")).otherwise(F.lit("low_volume")),
        F.lit("/"),
        F.when(F.col("n_resources") > F.col("med_resources"),
               F.lit("broad")).otherwise(F.lit("narrow")))
    return (j.groupBy(quadrant.alias("quadrant"))
            .agg(F.count("*").alias("n_users"),
                 F.round(F.sum("n_ah") * 1.0 / F.sum("n_events"), 6)
                 .alias("after_hours_ratio"))
            .orderBy("quadrant"))


_QUADRANTS_SQL = f"""
{_LOG_CTE},
per_user AS (SELECT user,
                    CAST(count(*) AS BIGINT) AS n_events,
                    CAST(count(DISTINCT resource) AS BIGINT) AS n_resources,
                    CAST(sum(is_after_hours) AS BIGINT) AS n_ah
             FROM log GROUP BY 1),
med AS (SELECT quantile_disc(n_events, 0.5) AS med_events,
               quantile_disc(n_resources, 0.5) AS med_resources
        FROM per_user)
SELECT (CASE WHEN n_events > med_events THEN 'high_volume'
             ELSE 'low_volume' END
        || '/' ||
        CASE WHEN n_resources > med_resources THEN 'broad'
             ELSE 'narrow' END) AS quadrant,
       CAST(count(*) AS BIGINT) AS n_users,
       round(sum(n_ah) * 1.0 / sum(n_events), 6) AS after_hours_ratio
FROM per_user CROSS JOIN med
GROUP BY 1
ORDER BY 1
"""

QUERIES_TAIL["user_behavior_quadrants"] = user_behavior_quadrants
ORACLES_TAIL["user_behavior_quadrants"] = _QUADRANTS_SQL


# -- the composite triage surface ---------------------------------------------

def user_triage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE table a security analyst can actually triage from: per user,
    the five orthogonal behavioral signals this engine computes —
    volume + after-hours ratio (rule axis), rarity-weighted resource
    score (access axis), inter-arrival dispersion (burstiness axis),
    sequence surprise under the global Markov model (order axis), and
    the OLS activity-trend slope (drift axis) — side by side, NULL
    where a user lacks the volume for a statistic rather than silently
    zeroed. The report every individual query in this family feeds.

    Every signal but the first is the per-user builder its standalone
    query ranks (``resource_rarity``, ``gap_dispersion``,
    ``sequence_surprise``, ``daily_count_ols``), so each column equals
    that query's value by construction; the NULL rules (≥ 50 gaps or
    transitions, a defined fit) live in the builders. All five are
    per-user aggregates over the SAME user key, composed by user-keyed
    left joins of |users|-row frames — no new shuffle dimension."""
    log = activity_log(spark, sf_dir)
    base = (log.groupBy("user")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("is_after_hours") * 1.0 / F.count("*"), 6)
                 .alias("after_hours_ratio")))
    signals = [
        resource_rarity(log).select("user", "rarity_score"),
        gap_dispersion(log).select("user", "dispersion"),
        sequence_surprise(log).select(
            "user", F.col("surprise").alias("sequence_surprise")),
        daily_count_ols(log).select(
            "user", F.round("b", 6).alias("trend_slope")),
    ]
    for signal in signals:
        base = base.join(signal, "user", "left")
    return base.orderBy("user")


_TRIAGE_SQL = f"""
{_LOG_CTE},
base AS (SELECT user, CAST(count(*) AS BIGINT) AS n_events,
                round(sum(is_after_hours) * 1.0 / count(*), 6)
                  AS after_hours_ratio
         FROM log GROUP BY 1),
ur AS (SELECT DISTINCT user, resource FROM log
       WHERE resource IS NOT NULL),
nu AS (SELECT CAST(count(DISTINCT user) AS DOUBLE) AS n_users FROM ur),
audience AS (SELECT resource,
                    CAST(count(DISTINCT user) AS BIGINT) AS n_touching
             FROM ur GROUP BY 1),
rarity AS (SELECT "user",
                  round(sum(ln(n_users / n_touching)), 6) AS rarity_score
           FROM ur JOIN audience USING (resource) CROSS JOIN nu
           GROUP BY 1),
gaps AS (SELECT user,
                CAST((epoch_us(ts) - epoch_us(lag(ts) OVER (
                     PARTITION BY user ORDER BY ts, event_id)))
                     // 1000000 AS BIGINT) AS g
         FROM log),
disp AS (SELECT "user",
                CASE WHEN count(*) >= 50 AND sum(g) > 0
                     THEN round((count(*) * sum(g * g)
                                 - sum(g) * sum(g)) * 1.0
                                / (count(*) * sum(g)), 6) END
                  AS dispersion
         FROM gaps WHERE g IS NOT NULL GROUP BY 1),
pairs AS (SELECT user,
                 lag(activity) OVER (PARTITION BY user
                                     ORDER BY ts, event_id)
                   AS prev_activity,
                 activity
          FROM log),
np AS (SELECT * FROM pairs WHERE prev_activity IS NOT NULL),
counts AS (SELECT prev_activity, activity,
                  CAST(count(*) AS BIGINT) AS n
           FROM np GROUP BY 1, 2),
totals AS (SELECT prev_activity, CAST(sum(n) AS BIGINT) AS nf
           FROM counts GROUP BY 1),
model AS (SELECT counts.prev_activity, activity,
                 round(n * 1.0 / nf, 6) AS p
          FROM counts JOIN totals USING (prev_activity)),
surprise AS (SELECT "user",
                    CASE WHEN count(*) >= 50
                         THEN round(avg(-ln(p)), 6) END
                      AS sequence_surprise
             FROM np JOIN model USING (prev_activity, activity)
             GROUP BY 1),
daily AS (SELECT user, CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS y
          FROM log GROUP BY 1, 2),
xy AS (SELECT "user",
              CAST(day - min(day) OVER (PARTITION BY "user") AS BIGINT)
                AS x, y
       FROM daily),
sums AS (SELECT "user", CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
         FROM xy GROUP BY 1),
trend AS (SELECT "user",
                 CASE WHEN n * sxx - sx * sx > 0
                      THEN round((n * sxy - sx * sy) * 1.0
                                 / (n * sxx - sx * sx), 6) END
                   AS trend_slope
          FROM sums)
SELECT base."user", n_events, after_hours_ratio, rarity_score,
       dispersion, sequence_surprise, trend_slope
FROM base
LEFT JOIN rarity ON rarity."user" = base."user"
LEFT JOIN disp ON disp."user" = base."user"
LEFT JOIN surprise ON surprise."user" = base."user"
LEFT JOIN trend ON trend."user" = base."user"
ORDER BY base."user"
"""

QUERIES_TAIL["user_triage_report"] = user_triage_report
ORACLES_TAIL["user_triage_report"] = _TRIAGE_SQL


# -- privilege creep: resource-acquisition curve ------------------------------

def resource_acquisition_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privilege-creep monitor: per user per ISO week, how many
    resources they touched for the FIRST time — a steadily-climbing
    acquisition curve is the expanding-access-footprint signature that
    point-in-time breadth counts miss (an account can look normal
    every week while compounding reach). First-touch day per
    (user, resource) is one min-agg; weeks bucket by integer
    day-offset from the dataset's first day (data-derived anchor, no
    wall clock); all counts integer."""
    log = activity_log(spark, sf_dir).filter(F.col("resource").isNotNull())
    first = (log.groupBy("user", "resource")
             .agg(F.min(F.to_date("ts")).alias("first_day")))
    anchor = first.agg(F.min("first_day").alias("day0"))
    week = (F.datediff(F.col("first_day"), F.col("day0")) / 7) \
        .cast("long")
    return (first.crossJoin(F.broadcast(anchor))
            .groupBy("user", week.alias("week_idx"))
            .agg(F.count("*").alias("n_new_resources"))
            .orderBy("user", "week_idx"))


_ACQUISITION_SQL = f"""
{_LOG_CTE},
first AS (SELECT user, resource, min(CAST(ts AS DATE)) AS first_day
          FROM log WHERE resource IS NOT NULL GROUP BY 1, 2),
anchor AS (SELECT min(first_day) AS day0 FROM first)
SELECT "user",
       CAST(date_diff('day', day0, first_day) // 7 AS BIGINT) AS week_idx,
       CAST(count(*) AS BIGINT) AS n_new_resources
FROM first CROSS JOIN anchor
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES_TAIL["resource_acquisition_weekly"] = resource_acquisition_weekly
ORACLES_TAIL["resource_acquisition_weekly"] = _ACQUISITION_SQL


def resource_affinity_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 resource pairs by co-access: how many users touch BOTH,
    with the Jaccard overlap of their audiences — the access-pattern
    clustering that feeds least-privilege reviews ("these resources
    are de-facto one bundle; permission them together") and flags odd
    bundles (high co-access across unrelated systems).

    Pairs decompose over the shared USER key (the same
    sparse-dimension equi-join as the user-user cosine — no resource×
    resource cartesian); audiences broadcast; integer counts with one
    rounded Jaccard division; the cut is on integer co-access with
    pair tie-breaks."""
    log = activity_log(spark, sf_dir).filter(F.col("resource").isNotNull())
    ur = log.select("user", "resource").distinct()
    audience = ur.groupBy("resource").agg(F.count("*").alias("n_aud"))
    a = ur.select("user", F.col("resource").alias("ra"))
    b = ur.select("user", F.col("resource").alias("rb"))
    pairs = (a.join(b, "user")
             .filter(F.col("ra") < F.col("rb"))
             .groupBy("ra", "rb")
             .agg(F.count("*").alias("n_both")))
    return (pairs
            .join(F.broadcast(audience.select(F.col("resource").alias("ra"),
                                              F.col("n_aud").alias("na"))),
                  "ra")
            .join(F.broadcast(audience.select(F.col("resource").alias("rb"),
                                              F.col("n_aud").alias("nb"))),
                  "rb")
            .select("ra", "rb", "n_both",
                    F.round(F.col("n_both") * 1.0
                            / (F.col("na") + F.col("nb")
                               - F.col("n_both")), 6).alias("jaccard"))
            .orderBy(F.desc("n_both"), F.asc("ra"), F.asc("rb"))
            .limit(20))


_AFFINITY_SQL = f"""
{_LOG_CTE},
ur AS (SELECT DISTINCT user, resource FROM log
       WHERE resource IS NOT NULL),
audience AS (SELECT resource, CAST(count(*) AS BIGINT) AS n_aud
             FROM ur GROUP BY 1),
pairs AS (SELECT a.resource AS ra, b.resource AS rb,
                 CAST(count(*) AS BIGINT) AS n_both
          FROM ur a JOIN ur b ON a."user" = b."user"
                             AND a.resource < b.resource
          GROUP BY 1, 2)
SELECT ra, rb, n_both,
       round(n_both * 1.0 / (na.n_aud + nb.n_aud - n_both), 6) AS jaccard
FROM pairs
JOIN audience na ON na.resource = ra
JOIN audience nb ON nb.resource = rb
ORDER BY n_both DESC, ra ASC, rb ASC
LIMIT 20
"""

QUERIES_TAIL["resource_affinity_top20"] = resource_affinity_top20
ORACLES_TAIL["resource_affinity_top20"] = _AFFINITY_SQL
