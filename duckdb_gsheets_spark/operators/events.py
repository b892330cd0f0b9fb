"""Event-stream analytics over the ``events`` table: time bucketing,
pivot, sessionization, as-of join, JSON extraction.

Scale notes: sessionization and the as-of join are both expressed as a
single partition-by-user window pass (no self-join, no range join) —
the shape that survives 100 TB: one shuffle on user_id, then a linear
scan per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.operators.determinism import (
    davg,
    dsum,
    oracle_davg,
    oracle_dsum,
)
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import load_table

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

#: 30-minute inactivity gap, in microseconds.
SESSION_GAP_US = 30 * 60 * 1_000_000


def _epoch_us(col: Column | str) -> Column:
    """Exact epoch microseconds of the (NTZ-inferred) timestamp:
    ``unix_micros`` needs TIMESTAMP, and the NTZ→LTZ cast is exact
    under the engine's fixed UTC session timezone. THE single place
    encoding that cast rule — every epoch conversion in this module
    must go through it so a session-timezone change cannot make
    operators silently diverge."""
    col = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(col.cast("timestamp"))


def events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour aggregate."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value").alias("sum_value"),
        )
    )


EVENTS_HOURLY_ORACLE = f"""
SELECT
  CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS hour_start,
  event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  {oracle_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts to one column per event type, per user."""
    events = load_table(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


EVENTS_PIVOT_ORACLE = """
SELECT
  user_id,
  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view,
  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error
FROM events
GROUP BY user_id
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity), one window pass.

    session start flag → running sum = session index → per-session agg.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = _epoch_us("ts")
    with_gap = events.withColumn("prev_us", F.lag(ts_us).over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_us").isNull() | (ts_us - F.col("prev_us") > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    with_session = with_gap.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.col("ts")).cast("string").alias("session_start"),
            F.max(F.col("ts")).cast("string").alias("session_end"),
            dsum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "session_start",
            "session_end",
            "session_value",
        )
    )


EVENTS_SESSIONIZE_ORACLE = f"""
WITH flagged AS (
  SELECT
    user_id, event_id, ts, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT
    user_id, event_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT
  user_id,
  CAST(session_id AS BIGINT) AS session_id,
  COUNT(*) AS n_events,
  CAST(MIN(ts) AS VARCHAR) AS session_start,
  CAST(MAX(ts) AS VARCHAR) AS session_end,
  {oracle_dsum('value')} AS session_value
FROM sessioned
GROUP BY user_id, session_id
"""


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest signup at-or-before it.

    Spark lacks ASOF JOIN; the scalable formulation is a tagged union +
    one ordered window pass per user (``last(signup_ts, ignorenulls)``)
    — no range join, no per-key collect. Signup rows sort before event
    rows at equal timestamps so an event matches its own signup
    (DuckDB's ``e.ts >= s.ts`` inclusive semantics).
    """
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.lit(1).alias("is_event"),
        F.lit(None).cast("timestamp_ntz").alias("signup_ts"),
    )
    signups = events.where(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("string").alias("event_type"),
        F.lit(0).alias("is_event"),
        F.col("ts").alias("signup_ts"),
    )
    unioned = base.unionByName(signups)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_event")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        unioned.withColumn(
            "last_signup_ts", F.last("signup_ts", ignorenulls=True).over(w)
        )
        .where(F.col("is_event") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("string").alias("ts"),
            "event_type",
            F.col("last_signup_ts").cast("string").alias("last_signup_ts"),
        )
    )


EVENTS_ASOF_ORACLE = """
SELECT
  e.event_id,
  e.user_id,
  CAST(e.ts AS VARCHAR) AS ts,
  e.event_type,
  CAST(s.ts AS VARCHAR) AS last_signup_ts
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
  ON e.user_id = s.user_id AND e.ts >= s.ts
"""


def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time join: for each event, the signup closest in
    EITHER direction (sensor-alignment semantics, vs the backward-only
    as-of). Ties break toward the earlier signup.

    Same scalable shape as :func:`events_asof_join` — tagged union +
    ONE ordered window pass per user computing both the latest signup
    at-or-before (``last ignorenulls`` over the preceding frame) and
    the earliest signup after (``first ignorenulls`` over the
    following frame) — then a per-row min over the two gaps. No range
    join, no per-key collect, one shuffle on user_id.
    """
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_id",
        "user_id",
        "ts",
        F.lit(1).alias("is_event"),
        F.lit(None).cast("timestamp_ntz").alias("signup_ts"),
    )
    signups = events.where(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("is_event"),
        F.col("ts").alias("signup_ts"),
    )
    unioned = base.unionByName(signups)
    order = Window.partitionBy("user_id").orderBy("ts", "is_event")
    w_back = order.rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = order.rowsBetween(0, Window.unboundedFollowing)
    us = _epoch_us
    with_both = (
        unioned.withColumn(
            "prev_signup", F.last("signup_ts", ignorenulls=True).over(w_back)
        )
        .withColumn(
            "next_signup", F.first("signup_ts", ignorenulls=True).over(w_fwd)
        )
        .where(F.col("is_event") == 1)
    )
    gap_prev = us("ts") - us("prev_signup")
    gap_next = us("next_signup") - us("ts")
    pick_prev = F.col("prev_signup").isNotNull() & (
        F.col("next_signup").isNull() | (gap_prev <= gap_next)
    )
    return with_both.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("ts"),
        F.when(pick_prev, F.col("prev_signup"))
        .otherwise(F.col("next_signup"))
        .cast("string")
        .alias("nearest_signup_ts"),
        F.when(pick_prev, gap_prev).otherwise(gap_next).alias("gap_us"),
    )


EVENTS_ASOF_NEAREST_ORACLE = """
WITH unioned AS (
  SELECT event_id, user_id, ts, 1 AS is_event,
         CAST(NULL AS TIMESTAMP) AS signup_ts
  FROM events
  UNION ALL
  SELECT NULL, user_id, ts, 0, ts
  FROM events WHERE event_type = 'signup'
), sides AS (
  SELECT event_id, user_id, ts, is_event,
         LAST_VALUE(signup_ts IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY ts, is_event
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_signup,
         FIRST_VALUE(signup_ts IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY ts, is_event
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_signup
  FROM unioned
)
SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts,
       CAST(CASE WHEN prev_signup IS NOT NULL AND (next_signup IS NULL
                  OR epoch_us(ts) - epoch_us(prev_signup)
                     <= epoch_us(next_signup) - epoch_us(ts))
             THEN prev_signup ELSE next_signup END AS VARCHAR)
         AS nearest_signup_ts,
       CASE WHEN prev_signup IS NOT NULL AND (next_signup IS NULL
                  OR epoch_us(ts) - epoch_us(prev_signup)
                     <= epoch_us(next_signup) - epoch_us(ts))
             THEN epoch_us(ts) - epoch_us(prev_signup)
             ELSE epoch_us(next_signup) - epoch_us(ts) END AS gap_us
FROM sides
WHERE is_event = 1
"""


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: |users doing
    both| and the exact Jaccard of the two user sets — the
    segment-overlap report behind dedup of targeting audiences.

    Shape: distinct (event_type, user_id) [one shuffle, map-side
    combined], self-join ON user_id — each user contributes at most
    |types|² ≤ 25 pairs, so the join output is bounded by 25 × users,
    never quadratic in events — then one |type-pair|-row rollup with a
    broadcast of the |type|-row set sizes.
    """
    events = load_table(spark, sf_dir, "events")
    membership = events.select("event_type", "user_id").distinct()
    sizes = membership.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    a = membership.select(
        F.col("event_type").alias("type_a"), "user_id"
    )
    b = membership.select(
        F.col("event_type").alias("type_b"), "user_id"
    )
    both = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = F.broadcast(
        sizes.select(
            F.col("event_type").alias("type_a"), F.col("n_users").alias("na")
        )
    )
    sb = F.broadcast(
        sizes.select(
            F.col("event_type").alias("type_b"), F.col("n_users").alias("nb")
        )
    )
    return (
        both.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.col("na").alias("n_users_a"),
            F.col("nb").alias("n_users_b"),
            F.round(
                F.col("n_both").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_both")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


EVENTS_AUDIENCE_ORACLE = """
WITH membership AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, COUNT(*) AS n_users FROM membership GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM membership a JOIN membership b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       sa.n_users AS n_users_a, sb.n_users AS n_users_b,
       ROUND(CAST(n_both AS DOUBLE)
             / CAST(sa.n_users + sb.n_users - n_both AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the ``props`` column + aggregate."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


EVENTS_JSON_ORACLE = """
SELECT
  event_type,
  COUNT(*) AS n_events,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
"""


#: Sequence pattern for the session matcher: a view, then a later
#: click, then a later purchase (other events may interleave).
CONVERSION_PATTERN = "v.*c.*p"


def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-flavor sequence matching over sessions: per
    day, how many sessions contain a view→click→purchase subsequence,
    and how many of those are CLEAN (no error event) — the
    order-aware twin of events_funnel's set-based counts (a funnel
    counts users who did all three EVER; this demands the order,
    within one session).

    Each session collapses to a signature string (one letter per
    event, (ts, event_id)-ordered), and the pattern is a regex over
    that signature — sequence logic becomes a narrow string op
    instead of N self-joins. Shuffle ledger: the sessionizer's user
    window pass, a session rollup (signature bounded by session
    length), one |days|-row rollup.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = _epoch_us("ts")
    with_session = (
        events.withColumn("prev_us", F.lag(ts_us).over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_us").isNull()
                | (ts_us - F.col("prev_us") > SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    sigs = with_session.groupBy("user_id", "session_id").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("letter"),
                        )
                    )
                ),
                lambda x: x["letter"],
            ),
            "",
        ).alias("sig"),
    )
    matched = F.col("sig").rlike(CONVERSION_PATTERN)
    clean = matched & ~F.col("sig").contains("e")
    return sigs.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(matched.cast("int")).alias("n_matched"),
        F.sum(clean.cast("int")).alias("n_clean"),
        F.round(
            F.sum(matched.cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("match_rate"),
    )


EVENTS_PATTERN_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                   > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_session) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), sigs AS (
  SELECT user_id, session_id, CAST(MIN(ts) AS DATE) AS day,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS sig
  FROM sessioned GROUP BY user_id, session_id
)
SELECT CAST(day AS VARCHAR) AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN regexp_matches(sig, '{CONVERSION_PATTERN}')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN regexp_matches(sig, '{CONVERSION_PATTERN}')
                      AND NOT contains(sig, 'e')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       ROUND(CAST(SUM(CASE WHEN regexp_matches(sig, '{CONVERSION_PATTERN}')
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS match_rate
FROM sigs
GROUP BY day
"""


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` paths — the modern engine path for JSON-shaped
    columns (parse once, extract many, no per-path re-parse the way
    repeated ``get_json_object`` calls re-scan the string). Reports
    per-type count, distinct payload keys seen, and the k-sum —
    the VARIANT twin of events_json_extract's string path.

    Shuffle ledger: narrow parse+extract into one map-side-combined
    rollup; distinct-count expands per group (exact; HLL-sketchable).
    """
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "long")
    return events.select("event_type", k.alias("k")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("k").alias("n_distinct_k"),
        F.sum("k").alias("sum_k"),
        F.round(
            F.sum("k").cast("double") / F.count("k").cast("double"), 6
        ).alias("mean_k"),
    )


EVENTS_VARIANT_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
         AS n_distinct_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       ROUND(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                  AS DOUBLE)
             / CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS DOUBLE), 6) AS mean_k
FROM events
GROUP BY event_type
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2-hour length, 1-hour slide): each event lands
    in exactly two overlapping windows via Spark's native ``window``
    (a generate, not a shuffle, per window membership). The oracle
    reconstructs the same membership by exploding the two hour-aligned
    starts per event."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window(F.col("ts"), "2 hours", "1 hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


EVENTS_SLIDING_ORACLE = f"""
WITH exploded AS (
  SELECT
    unnest([DATE_TRUNC('hour', ts), DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
    event_type, value
  FROM events
)
SELECT CAST(CAST(window_start AS TIMESTAMP) AS VARCHAR) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {oracle_dsum('value')} AS sum_value
FROM exploded
GROUP BY 1, 2
"""


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (p50/p90/p99) per event type.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` both use
    linear interpolation between the two bracketing order statistics,
    so the rounded values agree exactly. At 100 TB swap in
    ``approx_percentile`` (t-digest, mergeable, one pass) — the exact
    variant here is the oracle-checkable ground truth a sampled sketch
    is validated against.
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.9), 6).alias("p90"),
        F.round(F.percentile("value", 0.99), 6).alias("p99"),
    )


EVENTS_QUANTILES_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel per user.

    Each step's timestamp is the user's FIRST qualifying event strictly
    after the previous step — one groupBy on user_id with conditional
    min aggregates evaluated in two chained passes (no self-joins).
    Counts roll up to one row. At 100 TB: two shuffles, both map-side
    combinable, no row explosion anywhere.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    # Steps 2/3 need "first X AFTER t_prev" — a second conditional agg
    # joined back on user_id (broadcast at low SF; co-partitioned at
    # scale since both sides hash on user_id).
    with_steps = (
        events.join(per_user, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & F.col("t_view").isNotNull()
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click")
        )
    )
    with_purchase = (
        events.join(with_steps, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & F.col("t_click").isNotNull()
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase")
        )
    )
    return with_purchase.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("did_view"),
        F.count("t_click").alias("did_view_click"),
        F.count("t_purchase").alias("did_view_click_purchase"),
    )


EVENTS_FUNNEL_ORACLE = """
WITH step1 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), step2 AS (
  SELECT e.user_id, s.t_view,
         MIN(CASE WHEN e.event_type = 'click' AND s.t_view IS NOT NULL
                       AND e.ts > s.t_view THEN e.ts END) AS t_click
  FROM events e JOIN step1 s ON e.user_id = s.user_id
  GROUP BY e.user_id, s.t_view
), step3 AS (
  SELECT e.user_id, s.t_view, s.t_click,
         MIN(CASE WHEN e.event_type = 'purchase' AND s.t_click IS NOT NULL
                       AND e.ts > s.t_click THEN e.ts END) AS t_purchase
  FROM events e JOIN step2 s ON e.user_id = s.user_id
  GROUP BY e.user_id, s.t_view, s.t_click
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS did_view,
       COUNT(t_click) AS did_view_click,
       COUNT(t_purchase) AS did_view_click_purchase
FROM step3
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    again on each later activity day as a (cohort_day, day_offset)
    matrix for offsets 0–7.

    Two shuffles (cohort min per user, then the matrix agg); the
    cohort join hashes on user_id both sides so it co-locates at
    scale.
    """
    events = load_table(spark, sf_dir, "events")
    cohorts = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    return (
        events.select("user_id", F.to_date("ts").alias("activity_day"))
        .distinct()
        .join(cohorts, "user_id")
        .withColumn("day_offset", F.datediff("activity_day", "cohort_day"))
        .where(F.col("day_offset") <= 7)
        .groupBy(F.col("cohort_day").cast("string").alias("cohort_day"), "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


EVENTS_RETENTION_ORACLE = """
WITH cohorts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS activity_day FROM events
)
SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
       CAST(a.activity_day - c.cohort_day AS INTEGER) AS day_offset,
       COUNT(*) AS n_users
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
WHERE a.activity_day - c.cohort_day <= 7
GROUP BY 1, 2
"""


def events_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based per-type quantiles: ``percentile_approx`` (the
    GK/KLL-family mergeable sketch Spark ships) at 1e-4 accuracy.

    The mergeable-sketch shape is THE quantile plan at 100 TB — exact
    quantiles need a full sort; sketches combine map-side. Engines'
    sketches differ (and return data points, not interpolations), so
    this is rows-only checked; pytest pins each output to the true
    [lower, higher] order-statistic bracket of the distribution.
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("qs")
    ).select(
        "event_type",
        F.round(F.col("qs")[0], 6).alias("p50"),
        F.round(F.col("qs")[1], 6).alias("p90"),
        F.round(F.col("qs")[2], 6).alias("p99"),
    )


def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series per event type: gap-fill the calendar
    and carry the last observed average forward (LOCF interpolation) —
    the hypertable/time_bucket_gapfill shape.

    Scale shape: the only data-sized shuffle is the sparse hourly agg
    (map-side combinable). The spine is calendar-sized (hours ×
    event types), built from a 1-row min/max agg via ``sequence`` +
    ``explode`` — never from the raw events; the LOCF window partitions
    by event type over calendar rows, so its sort is bounded by time
    span, not data volume.
    """
    events = load_table(spark, sf_dir, "events")
    sparse = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(davg("value"), 6).alias("avg_value"),
    )
    bounds = sparse.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = spark.createDataFrame(
        [(t,) for t in EVENT_TYPES], "event_type string"
    )
    dense = spine.crossJoin(F.broadcast(types)).join(
        sparse, ["h", "event_type"], "left"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        F.col("h").cast("string").alias("hour_start"),
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().cast("int").alias("is_gap"),
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_locf"),
    )


EVENTS_GAPFILL_ORACLE = f"""
WITH sparse AS (
  SELECT DATE_TRUNC('hour', ts) AS h, event_type,
         COUNT(*) AS n_events,
         ROUND({oracle_davg('value')}, 6) AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(h) AS h0, MAX(h) AS h1 FROM sparse
), spine AS (
  SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
), types AS (
  SELECT UNNEST({list(EVENT_TYPES)}) AS event_type
), dense AS (
  SELECT s.h, t.event_type, sp.n_events, sp.avg_value
  FROM spine s CROSS JOIN types t
  LEFT JOIN sparse sp ON sp.h = s.h AND sp.event_type = t.event_type
)
SELECT CAST(h AS VARCHAR) AS hour_start,
       event_type,
       COALESCE(n_events, 0) AS n_events,
       CAST(n_events IS NULL AS INTEGER) AS is_gap,
       LAST_VALUE(avg_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS avg_value_locf
FROM dense
"""


#: Fixed-width value histogram: bin width and clamp ceiling. Fixed
#: bounds (not data-driven min/max) keep the op one-pass.
HIST_BIN_WIDTH = 50.0
HIST_MAX_BIN = 9


#: (column, kind) pairs for the events profiling report. Numeric
#: columns report min/max as doubles; timestamps as epoch
#: microseconds (timestamp→string FORMATTING of fractional seconds
#: differs between engines, so temporal min/max never goes through a
#: string cast — epoch_us is data-independent); the rest as strings.
_PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("event_id", "num"),
    ("ts", "ts"),
    ("user_id", "num"),
    ("event_type", "str"),
    ("value", "num"),
    ("props", "str"),
)


def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the events table: one row per column
    with row/null/distinct counts and min/max — the intake report a
    pipeline runs before trusting a new data drop.

    All 6 columns profile in ONE aggregate pass (Spark plans the
    multi-distinct via Expand: rows duplicate ×|columns| inside the
    map stage, but each duplicate carries one column — the shuffle is
    still map-side partially aggregated and output is one row).
    The wide row then unpivots to the per-column report via stack —
    driver-side row surgery, no second scan.
    """
    events = load_table(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        col = F.col(c)
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"nn_{c}")
        )
        aggs.append(F.countDistinct(col).alias(f"nd_{c}"))
        if kind == "num":
            aggs.append(F.min(col).cast("double").alias(f"mn_{c}"))
            aggs.append(F.max(col).cast("double").alias(f"mx_{c}"))
        elif kind == "ts":
            # min/max commute with the monotone epoch conversion, so
            # profiling epoch_us(min) == min(epoch_us) — and the NTZ→
            # LTZ cast is exact under the UTC session timezone.
            ts_us = _epoch_us(col).cast("double")
            aggs.append(F.min(ts_us).alias(f"mn_{c}"))
            aggs.append(F.max(ts_us).alias(f"mx_{c}"))
        else:
            aggs.append(F.min(col.cast("string")).alias(f"mn_{c}"))
            aggs.append(F.max(col.cast("string")).alias(f"mx_{c}"))
    wide = events.agg(*aggs)
    stack_args = []
    for c, kind in _PROFILE_COLS:
        mn_num = f"mn_{c}" if kind in ("num", "ts") else "CAST(NULL AS DOUBLE)"
        mx_num = f"mx_{c}" if kind in ("num", "ts") else "CAST(NULL AS DOUBLE)"
        mn_str = f"mn_{c}" if kind == "str" else "CAST(NULL AS STRING)"
        mx_str = f"mx_{c}" if kind == "str" else "CAST(NULL AS STRING)"
        stack_args.append(
            f"'{c}', nn_{c}, nd_{c}, {mn_num}, {mx_num}, {mn_str}, {mx_str}"
        )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {', '.join(stack_args)}) AS "
            "(col_name, n_nulls, n_distinct, min_num, max_num, "
            "min_str, max_str)"
        ),
    ).select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn = f"CAST(MIN({c}) AS DOUBLE)"
            mx = f"CAST(MAX({c}) AS DOUBLE)"
            mns, mxs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            mn = f"CAST(MIN(epoch_us({c})) AS DOUBLE)"
            mx = f"CAST(MAX(epoch_us({c})) AS DOUBLE)"
            mns, mxs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        else:
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            mns = f"MIN(CAST({c} AS VARCHAR))"
            mxs = f"MAX(CAST({c} AS VARCHAR))"
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
            f"COUNT(DISTINCT {c}) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, "
            f"{mns} AS min_str, {mxs} AS max_str FROM events"
        )
    return "\nUNION ALL\n".join(parts)


EVENTS_PROFILE_ORACLE = _profile_oracle()


def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of ``value`` per event type: bin id =
    ``min(floor(value / 50), 9)``, with count and exact sum per bin.

    One map-side-combinable shuffle on (event_type, bin) — the
    histogram plan that holds at any scale; output is bounded by
    types × bins regardless of input size.
    """
    events = load_table(spark, sf_dir, "events")
    bin_col = F.least(
        F.floor(F.col("value") / F.lit(HIST_BIN_WIDTH)), F.lit(HIST_MAX_BIN)
    ).cast("int")
    return (
        events.select("event_type", bin_col.alias("bin"), "value")
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


EVENTS_HISTOGRAM_ORACLE = f"""
SELECT event_type,
       CAST(LEAST(FLOOR(value / {HIST_BIN_WIDTH}), {HIST_MAX_BIN}) AS INTEGER) AS bin,
       COUNT(*) AS n_events,
       {oracle_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


#: |z| threshold for the anomaly query. The synthetic value column is
#: ~uniform (no true outliers), so the demo threshold sits in the
#: uniform tail; production data would use 3+.
ZSCORE_THRESHOLD = 1.7


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers, computed deterministically.

    Mean/variance come from exact scaled-long sums (n, Σv, Σv²) so the
    per-row z = (n·v − Σv) / √(n·Σv² − (Σv)²) is the same IEEE double
    in every engine and under every partitioning. Long-overflow bound:
    n·Σv² < 2⁶³ holds through ~sf1 here (v ≤ 49 002 scaled); beyond
    that accumulate Σv² in DECIMAL (see operators/determinism.py).

    Scale shape: one map-side-combinable groupBy for the 5 stat rows,
    broadcast back to the scan (no second shuffle), narrow filter.
    """
    events = load_table(spark, sf_dir, "events")
    vs = F.round(F.col("value") * 100).cast("long")
    stats = (
        events.select("event_type", vs.alias("vs"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vs").alias("s1"),
            F.sum(F.col("vs") * F.col("vs")).alias("s2"),
        )
    )
    z = (
        (F.col("n") * vs - F.col("s1")).cast("double")
        / F.sqrt((F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
    )
    return (
        events.join(F.broadcast(stats), "event_type")
        .where(F.col("n") * F.col("s2") - F.col("s1") * F.col("s1") > 0)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("zscore"),
        )
        .where(F.abs(F.col("zscore")) >= ZSCORE_THRESHOLD)
    )


EVENTS_ZSCORE_ORACLE = f"""
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
         SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) AS s2
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       ROUND(
         CAST(n * CAST(ROUND(value * 100) AS BIGINT) - s1 AS DOUBLE)
         / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)), 6) AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE n * s2 - s1 * s1 > 0
  AND ABS(ROUND(
        CAST(n * CAST(ROUND(value * 100) AS BIGINT) - s1 AS DOUBLE)
        / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)), 6)) >= {ZSCORE_THRESHOLD}
"""


def events_corr_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Pearson correlation between event value and hour of
    day, computed deterministically: built-in ``corr`` accumulates
    doubles (partitioning-dependent), so the five co-moments (n, Σx,
    Σy, Σx², Σy², Σxy) are exact scaled-long sums and the correlation
    is assembled from them in one fixed double expression — identical
    in every engine and under every partitioning. Long bound:
    n·Σx² < 2⁶³ holds through ~sf1 (see events_anomaly_zscore).

    One map-side-combinable shuffle producing 5 rows.
    """
    events = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("long")
    y = F.hour("ts").cast("long")
    stats = (
        events.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return stats.select(
        "event_type",
        "n",
        F.round(num / den, 6).alias("corr_value_hour"),
    )


EVENTS_CORR_ORACLE = """
WITH stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM (
    SELECT event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS x,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y
    FROM events
  )
  GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
         AS corr_value_hour
FROM stats
"""


#: Last-touch attribution lookback window.
ATTRIB_WINDOW_S = 24 * 3600


def events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast audit: predict each hour's event count
    per type with "same hour yesterday" and report the accuracy — the
    baseline every real forecasting model must beat, and the capacity-
    planning sanity dashboard shape.

    Two tiny stages after the hourly rollup (which is the only
    data-sized shuffle, map-side combined): a self-equi-join of the
    |types|×|hours| count table on (type, hour − 24 h) pairs actuals
    with their forecasts — hours with no prior-day counterpart are
    simply not evaluated (sparse-calendar semantics, identical in both
    engines) — then a |types|-row accuracy rollup. MAE and bias are
    exact-integer ratios rounded once.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    paired = hourly.alias("a").join(
        hourly.alias("b"),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.h") == F.col("a.h") - F.expr("INTERVAL 24 HOURS")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("actual"),
        F.col("b.n").alias("forecast"),
    )
    return paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("actual").alias("total_actual"),
        F.sum("forecast").alias("total_forecast"),
        F.round(
            F.sum(F.abs(F.col("actual") - F.col("forecast"))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mae"),
        F.sum(F.col("forecast") - F.col("actual")).alias("bias"),
    )


EVENTS_FORECAST_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), paired AS (
  SELECT a.event_type, a.n AS actual, b.n AS forecast
  FROM hourly a JOIN hourly b
    ON b.event_type = a.event_type
   AND b.h = a.h - INTERVAL 24 HOURS
)
SELECT event_type,
       COUNT(*) AS n_hours,
       CAST(SUM(actual) AS BIGINT) AS total_actual,
       CAST(SUM(forecast) AS BIGINT) AS total_forecast,
       ROUND(CAST(SUM(ABS(actual - forecast)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mae,
       CAST(SUM(forecast - actual) AS BIGINT) AS bias
FROM paired
GROUP BY 1
"""


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: credit every ``purchase`` to the most
    recent NON-purchase event of the same user within the 24 h
    lookback, and roll up per touch type — the marketing-analytics
    report behind channel-credit dashboards.

    One user_id hash partition feeds one window pass (total order:
    ts with event_id tiebreak): ``last(non-purchase, ignorenulls)``
    over ROWS UNBOUNDED PRECEDING..1 PRECEDING finds the candidate
    touch without any self-join or range join; the lookback filter is
    a scalar epoch-difference predicate on the two carried columns.
    Purchases with no in-window touch report under ``__none__``.
    Credited value uses the exact scaled-long sum (determinism
    contract).
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touch_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    attributed = (
        events.select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn("touch_type", F.last(touch, ignorenulls=True).over(w))
        .withColumn("touch_ts", F.last(touch_ts, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            # Exact epoch-microsecond comparison (unix_micros after
            # the exact NTZ→LTZ cast under the UTC session) — a
            # whole-second unix_timestamp would truncate and flip
            # verdicts for pairs within 1 s of the 24 h boundary.
            F.when(
                F.col("touch_type").isNotNull()
                & (
                    _epoch_us("ts") - _epoch_us("touch_ts")
                    <= ATTRIB_WINDOW_S * 1_000_000
                ),
                F.col("touch_type"),
            )
            .otherwise("__none__")
            .alias("touch_type"),
            "value",
        )
    )
    return attributed.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        dsum("value").alias("attributed_value"),
    )


EVENTS_ATTRIBUTION_ORACLE = f"""
WITH touched AS (
  SELECT event_type, value, ts,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_type,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_ts
  FROM events
), purchases AS (
  SELECT CASE WHEN touch_type IS NOT NULL
               AND epoch_us(ts) - epoch_us(touch_ts)
                   <= {ATTRIB_WINDOW_S * 1_000_000}
              THEN touch_type ELSE '__none__' END AS touch_type,
         value
  FROM touched WHERE event_type = 'purchase'
)
SELECT touch_type, COUNT(*) AS n_purchases,
       {oracle_dsum("value")} AS attributed_value
FROM purchases
GROUP BY 1
"""


#: Rolling active-user windows (days).
MAU_WINDOW = 28
WAU_WINDOW = 7


def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour-of-day seasonality heatmap: per (ISO weekday,
    hour) cell, total events, distinct active days of that cell in the
    data, and the exact events-per-occurrence rate — the traffic-shape
    profile capacity planning and anomaly baselines start from.

    One map-side-combined rollup to ≤ 7×24 cells (plus a distinct-day
    count riding the same shuffle); the rate is an exact integer ratio
    rounded once. dayofweek follows ISO (1 = Monday) on both sides via
    the same weekday() arithmetic.
    """
    events = load_table(spark, sf_dir, "events")
    cells = events.select(
        # ISO weekday 1..7 (Mon..Sun): Spark's dayofweek is 1=Sunday,
        # so shift; DuckDB's isodow matches directly.
        (((F.dayofweek("ts") + 5) % 7) + 1).alias("iso_weekday"),
        F.hour("ts").alias("hour_of_day"),
        F.to_date("ts").alias("day"),
    )
    return cells.groupBy("iso_weekday", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("day").alias("n_days"),
        F.round(
            F.count(F.lit(1)).cast("double")
            / F.countDistinct("day").cast("double"),
            6,
        ).alias("events_per_occurrence"),
    )


EVENTS_SEASONALITY_ORACLE = """
SELECT CAST(isodow(ts) AS INTEGER) AS iso_weekday,
       CAST(hour(ts) AS INTEGER) AS hour_of_day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE), 6)
         AS events_per_occurrence
FROM events
GROUP BY 1, 2
"""


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU: per calendar day, the count of distinct users
    active that day, in the trailing 7 days, and in the trailing 28
    days — the canonical engagement dashboard.

    Windowed COUNT DISTINCT doesn't exist as a window function in
    either engine; the scale-right formulation is contribution
    explosion: dedup to (user, day) rows (one shuffle, map-side
    combined), explode each into its ≤28 future target days (narrow),
    and take conditional distinct counts per target day — the shuffle
    carries (target_day, user, offset), 28× the user-day table, which
    is already ≪ the event table. Target days are restricted to days
    that actually occur in the data (semi-join against the day spine)
    so the report window is data-defined and engine-identical.
    """
    events = load_table(spark, sf_dir, "events")
    user_days = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = user_days.select("day").distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(MAU_WINDOW - 1))).alias("off"),
        "day",
    ).select(
        "user_id", "off", F.date_add(F.col("day"), F.col("off")).alias("target")
    )
    return (
        contrib.join(
            F.broadcast(days.withColumnRenamed("day", "target")), "target"
        )
        .groupBy("target")
        .agg(
            F.countDistinct(
                F.when(F.col("off") == 0, F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(F.col("off") < WAU_WINDOW, F.col("user_id"))
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
        .select(F.col("target").cast("string").alias("day"), "dau", "wau", "mau")
    )


EVENTS_ACTIVE_USERS_ORACLE = f"""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), days AS (
  SELECT DISTINCT day FROM user_days
), contrib AS (
  SELECT user_id, off, day + off * INTERVAL 1 DAY AS target
  FROM user_days
  CROSS JOIN (SELECT unnest(range(0, {MAU_WINDOW})) AS off)
)
SELECT CAST(CAST(c.target AS DATE) AS VARCHAR) AS day,
       COUNT(DISTINCT CASE WHEN c.off = 0 THEN c.user_id END) AS dau,
       COUNT(DISTINCT CASE WHEN c.off < {WAU_WINDOW} THEN c.user_id END) AS wau,
       COUNT(DISTINCT c.user_id) AS mau
FROM contrib c JOIN days d ON d.day = CAST(c.target AS DATE)
GROUP BY 1
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for every (from_type → to_type) pair of CONSECUTIVE
    events of the same user, the transition count and the row-
    normalized probability — the behavioral model behind next-action
    prediction and funnel-anomaly alerts.

    One hash partition on user_id feeds the lag window (total order:
    ts with event_id tiebreak, so simultaneous events sequence
    deterministically); the transition rollup then reduces to
    |types|² rows immediately, and the probability normalization is a
    window over those few rows — no second data-sized shuffle.
    Probabilities are exact-integer ratios rounded once (count /
    row-total), so both engines agree bitwise.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row = Window.partitionBy("from_type")
    return steps.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row).cast("double"),
            6,
        ).alias("prob"),
    )


EVENTS_MARKOV_ORACLE = """
WITH steps AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
), counted AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM steps WHERE from_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       ROUND(CAST(n_transitions AS DOUBLE)
             / CAST(SUM(n_transitions) OVER (PARTITION BY from_type)
                    AS DOUBLE), 6) AS prob
FROM counted
"""


def events_error_share_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily reliability timeline: per day, total events, error
    events, the error share, and how many distinct users hit at least
    one error — the on-call dashboard's top row (error COUNT alone
    hides whether one user retried 500 times or 500 users each failed
    once). One map-side-combinable rollup; the distinct-user count is
    exact (sketchable via HLL at 100 TB, as
    approx_count_distinct_users documents).
    """
    events = load_table(spark, sf_dir, "events")
    is_err = F.col("event_type") == "error"
    return events.groupBy(
        F.to_date("ts").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(is_err.cast("int")).alias("n_errors"),
        F.round(
            F.sum(is_err.cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("error_share"),
        F.countDistinct(
            F.when(is_err, F.col("user_id"))
        ).alias("n_users_affected"),
    )


EVENTS_ERROR_SHARE_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors,
       ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS error_share,
       CAST(COUNT(DISTINCT CASE WHEN event_type = 'error' THEN user_id END)
            AS BIGINT) AS n_users_affected
FROM events
GROUP BY 1
"""


def events_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week volume deltas per event type — the trend view
    behind every "are errors growing faster than traffic" question.
    Weeks are Monday-start ``date_trunc`` buckets (identical rule in
    Spark and DuckDB), and the change is computed with ONE lag window
    partitioned by event type over the bounded weekly rollup — never
    a self-join of the rollup to itself.

    Shuffle ledger: one map-side-combined groupBy to
    |weeks|×|event types| rows, then a lag window partitioned by
    event_type (bounded partitions: one row per week).
    ``prev_events``/``wow_change`` are NULL for a type's first week
    AND after a zero-event gap week — "week over week" strictly means
    the previous CALENDAR week, never the last week that happened to
    have data.
    """
    events = load_table(spark, sf_dir, "events")
    weekly = events.groupBy(
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("wk")
    adjacent = F.datediff(F.col("wk"), F.lag("wk").over(w)) == 7
    prev = F.when(adjacent, F.lag("n_events").over(w))
    return weekly.select(
        F.col("wk").cast("string").alias("week"),
        "event_type",
        "n_events",
        prev.alias("prev_events"),
        F.round(
            (F.col("n_events") - prev).cast("double")
            / prev.cast("double"),
            6,
        ).alias("wow_change"),
    )


EVENTS_WOW_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT wk, event_type, n_events,
         CASE WHEN wk - LAG(wk) OVER w = 7
              THEN LAG(n_events) OVER w END AS prev_events
  FROM weekly
  WINDOW w AS (PARTITION BY event_type ORDER BY wk)
)
SELECT CAST(wk AS VARCHAR) AS week, event_type, n_events, prev_events,
       ROUND(CAST(n_events - prev_events AS DOUBLE)
             / CAST(prev_events AS DOUBLE), 6) AS wow_change
FROM lagged
"""


def events_churn_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn ledger: per Monday-start week, active users, how
    many of them churn (no activity the following week), how many are
    brand new, and how many resurrect after a gap — the lifecycle
    split behind every retention dashboard. The final data week
    reports everyone as churned (there is no following week yet);
    dashboards grey that column out, the number itself is exact.

    Computed from ONE lag/lead window over the distinct (user, week)
    activity table — never a week-vs-week self-join (which would
    shuffle the user set once per week pair). Shuffle ledger:
    map-side-combined distinct on (user_id, week), one user-partitioned
    window pass, one bounded |weeks|-row rollup.
    """
    events = load_table(spark, sf_dir, "events")
    uw = events.select(
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk"),
        "user_id",
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    flags = uw.select(
        "wk",
        F.lead("wk").over(w).alias("next_wk"),
        F.lag("wk").over(w).alias("prev_wk"),
    )
    churned = F.col("next_wk").isNull() | (
        F.datediff("next_wk", "wk") > 7
    )
    new = F.col("prev_wk").isNull()
    resurrected = F.col("prev_wk").isNotNull() & (
        F.datediff("wk", "prev_wk") > 7
    )
    return flags.groupBy(F.col("wk").cast("string").alias("week")).agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(churned.cast("int")).alias("n_churned"),
        F.round(
            F.sum(churned.cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("churn_rate"),
        F.sum(new.cast("int")).alias("n_new"),
        F.sum(resurrected.cast("int")).alias("n_resurrected"),
    )


EVENTS_CHURN_ORACLE = """
WITH uw AS (
  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS wk, user_id
  FROM events
), fl AS (
  SELECT wk, LEAD(wk) OVER w AS next_wk, LAG(wk) OVER w AS prev_wk
  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY wk)
)
SELECT CAST(wk AS VARCHAR) AS week,
       COUNT(*) AS n_active,
       CAST(SUM(CASE WHEN next_wk IS NULL OR next_wk - wk > 7
                THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
       ROUND(CAST(SUM(CASE WHEN next_wk IS NULL OR next_wk - wk > 7
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS churn_rate,
       CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN prev_wk IS NOT NULL AND wk - prev_wk > 7
                THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
FROM fl
GROUP BY wk
"""


def events_conversion_lag_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert distribution: for users whose first purchase
    follows their first view, the exact p50/p90/p99 of the delay —
    the latency twin of events_funnel's count view (a funnel that
    converts in minutes and one that converts in weeks need different
    attribution windows). One row out.

    Lags are exact integer microseconds from ONE map-side-combined
    conditional-min rollup per user (no per-event window, no
    self-join); quantiles are the exact interpolated order statistics
    (sketchable at 100 TB, see events_value_quantiles).
    """
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("v"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p"),
    )
    us = _epoch_us
    lags = firsts.where(
        F.col("v").isNotNull()
        & F.col("p").isNotNull()
        & (F.col("p") >= F.col("v"))
    ).select((us("p") - us("v")).alias("lag_us"))
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("lag_us", 0.5) / F.lit(1e6), 6).alias("p50_s"),
        F.round(F.percentile("lag_us", 0.9) / F.lit(1e6), 6).alias("p90_s"),
        F.round(F.percentile("lag_us", 0.99) / F.lit(1e6), 6).alias("p99_s"),
    )


EVENTS_CONVERSION_LAG_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS v,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events GROUP BY user_id
), lags AS (
  SELECT epoch_us(p) - epoch_us(v) AS lag_us
  FROM firsts
  WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v
)
SELECT COUNT(*) AS n_converted,
       ROUND(quantile_cont(lag_us, 0.5) / 1000000.0, 6) AS p50_s,
       ROUND(quantile_cont(lag_us, 0.9) / 1000000.0, 6) AS p90_s,
       ROUND(quantile_cont(lag_us, 0.99) / 1000000.0, 6) AS p99_s
FROM lags
"""


#: MAD outlier bar: |value − median| > MAD_K · (1.4826 · MAD) — the
#: robust-z equivalent of the z-score detector's 3σ.
MAD_K = 3.0
MAD_SIGMA = 1.4826


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per event type, flag events whose
    value deviates from the MEDIAN by more than ``MAD_K`` robust
    standard deviations (``1.4826 × median absolute deviation``) —
    the detector that, unlike :func:`events_anomaly_zscore`, does not
    let the outliers themselves inflate the threshold (a heavy-tailed
    value column can hide its own anomalies from a mean/σ rule).

    Medians are the exact interpolated order statistics both engines
    define identically; the score is one fixed double expression over
    them, rounded once — and the ``> MAD_K`` row filter compares the
    GRID-SNAPPED score (the same round-6 value the row reports), so a
    1-ulp divergence between the two engines' independent percentile
    interpolations cannot flip membership for a row sitting exactly
    at the bar (it would need to straddle a 1e-6 grid boundary too).
    Shapes: two per-type exact-percentile passes
    (at 100 TB swap in the mergeable sketch, as events_value_quantiles
    documents) with the 5-row stats tables BROADCAST back onto the
    scan — the event stream itself never shuffles.
    """
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    devs = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = devs.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    score = F.round(
        F.col("adev") / (F.col("mad") * F.lit(MAD_SIGMA)), 6
    )
    return (
        devs.join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .where(score > MAD_K)
        .select(
            "event_type",
            "event_id",
            "value",
            F.round("med", 6).alias("median_value"),
            score.alias("mad_score"),
        )
    )


EVENTS_MAD_ORACLE = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), devs AS (
  SELECT e.event_type, e.event_id, e.value, m.med,
         ABS(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM devs GROUP BY event_type
)
SELECT d.event_type, d.event_id, d.value,
       ROUND(d.med, 6) AS median_value,
       ROUND(d.adev / (m.mad * {MAD_SIGMA}), 6) AS mad_score
FROM devs d JOIN mad m USING (event_type)
WHERE m.mad > 0 AND ROUND(d.adev / (m.mad * {MAD_SIGMA}), 6) > {MAD_K}
"""


def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day bounce rate: the share of sessions containing exactly
    one event — the classic engagement-health headline, computed on
    top of the oracle-checked sessionizer (same session definition,
    no second sessionization logic to drift).

    Shapes: the sessionize window pass, then a ≤|days| rollup; the
    rate is an exact small-integer ratio rounded once.
    """
    sessions = events_sessionize(spark, sf_dir)
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        sessions.select(
            F.substring("session_start", 1, 10).alias("day"), "n_events"
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounces.alias("n_bounces"),
            F.round(
                bounces.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("bounce_rate"),
        )
    )


EVENTS_BOUNCE_ORACLE = f"""
WITH sess AS ({EVENTS_SESSIONIZE_ORACLE})
SELECT SUBSTRING(session_start, 1, 10) AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
FROM sess GROUP BY day
"""


def events_interarrival_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival-time quantiles: for each event type, the
    exact p50/p90/p99 of the gap (seconds) between a user's
    consecutive events of that type — the cadence profile behind
    session-gap tuning, rate-limit sizing, and "is the error stream
    bursty or steady".

    Gaps are exact integer microseconds from ONE lag window per
    (user, type); quantiles are the linearly-interpolated exact order
    statistics both engines define identically (at 100 TB swap in the
    mergeable t-digest sketch, keeping this as the ground-truth
    validator — same trade as events_value_quantiles).
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ts_us = _epoch_us("ts")
    gaps = (
        events.select(
            "event_type",
            (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    def q(p: float, name: str):
        return F.round(
            F.percentile("gap_us", p) / F.lit(1e6), 6
        ).alias(name)

    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        q(0.5, "p50_s"),
        q(0.9, "p90_s"),
        q(0.99, "p99_s"),
    )


EVENTS_INTERARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
SELECT event_type, COUNT(*) AS n_gaps,
       ROUND(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_s,
       ROUND(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_s,
       ROUND(quantile_cont(gap_us, 0.99) / 1000000.0, 6) AS p99_s
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


#: Top-K for the path report and the path length (trigram paths).
PATH_TOPK = 25


def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern mining (lite): the corpus's most common
    3-event paths — each user's event stream in (ts, event_id) order
    yields one ``a>b>c`` path per position via a lag chain, counted
    globally with a per-path distinct-user count. The report behind
    "what do users actually do around an error" that per-event
    aggregates can't answer.

    Shapes: ONE user_id hash partition feeds both lead windows (same
    key, same order — Catalyst reuses the sort), the path rollup
    map-side-combines to |types|³ keys, and the top-K compiles to
    TakeOrderedAndProject. Total order: count desc, then path asc.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        events.select(
            "user_id",
            "event_type",
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .where(F.col("e3").isNotNull())
        .select(
            "user_id",
            F.concat_ws(">", "event_type", "e2", "e3").alias("path"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(PATH_TOPK)
    )


EVENTS_PATH_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), paths AS (
  SELECT user_id, event_type || '>' || e2 || '>' || e3 AS path
  FROM seq WHERE e3 IS NOT NULL
)
SELECT path, COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths
GROUP BY path
ORDER BY n_occurrences DESC, path
LIMIT {PATH_TOPK}
"""


def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users keyed by first-activity
    day, with each later week-offset's active users and exact total
    event value — the money-weighted companion to
    :func:`events_retention` (which only counts presence). Reading
    down a column shows how much value each acquisition cohort keeps
    producing.

    Week arithmetic is pure integer day math on DATE differences
    (``div 7``), so cohort cells are engine-exact; value totals use
    the scaled-long cents sum. Shapes: one user_id shuffle for the
    cohort min, a user_id-keyed join that co-locates at scale, and a
    ≤|weeks|² rollup.
    """
    events = load_table(spark, sf_dir, "events")
    cohorts = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    return (
        events.select("user_id", F.to_date("ts").alias("day"), "value")
        .join(cohorts, "user_id")
        .select(
            F.col("first_day").cast("string").alias("cohort_first_day"),
            F.expr("div(datediff(day, first_day), 7)").alias("week_offset"),
            "user_id",
            "value",
        )
        .groupBy("cohort_first_day", "week_offset")
        .agg(
            F.countDistinct("user_id").alias("n_active_users"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


EVENTS_COHORT_LTV_ORACLE = f"""
WITH cohorts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
)
SELECT CAST(c.first_day AS VARCHAR) AS cohort_first_day,
       CAST((CAST(e.ts AS DATE) - c.first_day) // 7 AS BIGINT)
         AS week_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active_users,
       COUNT(*) AS n_events,
       {oracle_dsum('e.value')} AS total_value
FROM events e JOIN cohorts c ON e.user_id = c.user_id
GROUP BY 1, 2
"""


def events_rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level algebraic rollup (the hypertable / continuous-
    aggregate pattern): materialize hourly PARTIALS (count, scaled-long
    sum, min, max per (hour, type)), then serve the DAILY statistics —
    including the average — purely by merging partials, never
    re-reading raw rows.

    This is the pattern that makes interactive analytics affordable at
    100 TB: the hourly partial table is |hours|×|types| rows (a few
    thousand per year), so every coarser grain (day/week/month) is an
    aggregation over a table ~10⁶× smaller than the raw stream. The
    merges are exact because every partial is algebraic integer state:
    counts and scaled-long sums add, mins/maxes combine, and the daily
    average is derived from the MERGED sum and count — not an average
    of hourly averages, the classic partial-aggregation bug. The
    DuckDB oracle computes the same dailies directly from raw rows, so
    the hash match proves the two-level rollup is lossless. (Distinct
    users are deliberately absent: COUNT(DISTINCT) is not algebraic —
    the mergeable form is an HLL sketch, covered by
    ``approx_count_distinct_users``.)

    Plan: two hash aggregations, each with a map-side partial combine;
    the second one's input is the tiny partial table, so the raw
    stream is shuffled once, on (hour, type).
    """
    events = load_table(spark, sf_dir, "events")
    vs = F.round(F.col("value") * 100).cast("long")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vs).alias("s1"),
        F.min(vs).alias("mn"),
        F.max(vs).alias("mx"),
    )
    return daily_from_hourly_partials(hourly)


def daily_from_hourly_partials(hourly: DataFrame) -> DataFrame:
    """Merge an hourly partial table (hour_start, event_type, n, s1,
    mn, mx — scaled-long state) into final daily statistics. Shared by
    the daily rollup and its incremental refresh (any serving grain
    merges the partials)."""
    return (
        hourly.groupBy(
            F.col("hour_start").cast("date").cast("string").alias("day_start"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s1").alias("s1"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .select(
            "day_start",
            "event_type",
            "n_events",
            (F.col("s1").cast("double") / F.lit(100.0)).alias("sum_value"),
            (
                (F.col("s1").cast("double") / F.lit(100.0))
                / F.col("n_events")
            ).alias("avg_value"),
            (F.col("mn").cast("double") / F.lit(100.0)).alias("min_value"),
            (F.col("mx").cast("double") / F.lit(100.0)).alias("max_value"),
        )
    )


EVENTS_ROLLUP_ORACLE = f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day_start,
       event_type,
       COUNT(*) AS n_events,
       {oracle_dsum('value')} AS sum_value,
       ({oracle_dsum('value')} / COUNT(*)) AS avg_value,
       (CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS min_value,
       (CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS max_value
FROM events
GROUP BY 1, 2
"""


def rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the daily rollup: when a fresh hour
    of events lands, recompute ONLY the affected day's statistics by
    merging the day's existing hourly partials with the new hour's —
    classic algebraic incremental view maintenance (the freshly-landed
    hour here is the last hour in the stream, found via a 1-row
    broadcast).

    The 100 TB contract: the refresh never rescans history. The base
    slice is filtered to the affected DAY (in production it is read
    straight from the materialized hourly-partial table, O(hours)
    rows, no raw scan at all), the delta slice is just the new hour,
    and the merge is exact because the partials are algebraic integer state — so
    the refreshed day is bit-identical to a full recompute, which is
    exactly what the oracle computes directly from raw rows.
    """
    events = load_table(spark, sf_dir, "events")
    mh = events.agg(
        F.date_trunc("hour", F.max("ts")).alias("max_hour")
    )
    ev = events.crossJoin(F.broadcast(mh))
    hour = F.date_trunc("hour", F.col("ts"))
    affected_day = F.col("max_hour").cast("date")
    vs = F.round(F.col("value") * 100).cast("long")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            hour.alias("hour_start"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(vs).alias("s1"),
            F.min(vs).alias("mn"),
            F.max(vs).alias("mx"),
        )

    base = ev.where(
        (F.col("ts").cast("date") == affected_day)
        & (hour < F.col("max_hour"))
    )
    delta = ev.where(hour >= F.col("max_hour"))
    return daily_from_hourly_partials(
        partials(base).unionAll(partials(delta))
    )


ROLLUP_REFRESH_ORACLE = f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day_start,
       event_type,
       COUNT(*) AS n_events,
       {oracle_dsum('value')} AS sum_value,
       ({oracle_dsum('value')} / COUNT(*)) AS avg_value,
       (CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS min_value,
       (CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS max_value
FROM events
WHERE CAST(ts AS DATE) = (SELECT CAST(MAX(ts) AS DATE) FROM events)
GROUP BY 1, 2
"""


#: Lateness buckets (µs): on-time, within a minute, within an hour,
#: beyond an hour — the grid a watermark decision reads off.
LATENESS_MINUTE_US = 60_000_000
LATENESS_HOUR_US = 3_600_000_000


def events_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How out-of-order is the stream, really — the measurement a
    watermark choice should come from instead of a guess. Treating
    event_id as arrival order, an event's LATENESS is how far the
    event-time high-water mark had already advanced past it when it
    arrived (``running_max(ts) − ts``); the bucketed distribution says
    what share of data a 1-minute or 1-hour watermark would drop.

    The running max over arrival order is a corpus-sized prefix scan —
    a single unpartitioned window at 100 TB. It runs here as the
    distributed prefix-scan tiling (third instance of the pattern,
    generalized from SUM to MAX, which is equally associative):
    range-partition by arrival id, per-partition running max in
    parallel windows, then per-partition max offsets from a bounded
    |pids|-row window broadcast back. Output is |buckets| rows.

    The generated test stream happens to arrive perfectly in order, so
    its honest audit is one all-``on_time`` row (max lateness 0); the
    disorder paths are exercised by the pytest's synthetic shuffled
    frame through the same :func:`lateness_buckets` core.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", _epoch_us("ts").alias("us")
    )
    return lateness_buckets(ev)


def lateness_buckets(ev: DataFrame) -> DataFrame:
    """Bucketed lateness distribution of an ``(event_id, us)`` frame:
    arrival order = event_id asc, lateness = running max(us) − us,
    computed with the tiled distributed prefix-scan (MAX)."""
    ranged = (
        ev.repartitionByRange("event_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_off = (
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy("pid")
        .agg(F.max("us").alias("pmax"))
        .select(
            "pid",
            F.max("pmax").over(w_off).alias("off_max"),  # NULL for pid 0
        )
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = ranged.join(F.broadcast(offsets), "pid").select(
        "us",
        F.greatest(
            F.max("us").over(w_local),
            F.coalesce(F.col("off_max"), F.lit(-(2**62)).cast("long")),
        ).alias("runmax"),
    )
    lateness = (F.col("runmax") - F.col("us")).alias("late_us")
    bucket = (
        F.when(F.col("late_us") == 0, "on_time")
        .when(F.col("late_us") <= LATENESS_MINUTE_US, "le_1m")
        .when(F.col("late_us") <= LATENESS_HOUR_US, "le_1h")
        .otherwise("gt_1h")
    )
    return (
        run.select(lateness)
        .select(bucket.alias("bucket"), "late_us")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.max("late_us").cast("double") / F.lit(1e6), 6
            ).alias("max_lateness_s"),
        )
    )


EVENTS_LATENESS_ORACLE = f"""
WITH la_run AS (
  SELECT epoch_us(ts) AS us,
         MAX(epoch_us(ts)) OVER (ORDER BY event_id
           ROWS UNBOUNDED PRECEDING) AS runmax
  FROM events
), la_buck AS (
  SELECT runmax - us AS late_us,
         CASE WHEN runmax - us = 0 THEN 'on_time'
              WHEN runmax - us <= {LATENESS_MINUTE_US} THEN 'le_1m'
              WHEN runmax - us <= {LATENESS_HOUR_US} THEN 'le_1h'
              ELSE 'gt_1h' END AS bucket
  FROM la_run
)
SELECT bucket, COUNT(*) AS n_events,
       ROUND(CAST(MAX(late_us) AS DOUBLE) / 1e6, 6) AS max_lateness_s
FROM la_buck GROUP BY bucket
"""


#: k-anonymity threshold: groups with fewer distinct users than K are
#: re-identifiable under the quasi-identifier.
K_ANON = 5


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk audit (Sweeney's k-anonymity): group the
    event log by the quasi-identifier an "anonymized" export typically
    retains — (day, hour, event_type) — and band each group by its
    distinct-user count. A group with one user IS that user; groups
    under ``K_ANON`` are linkable with modest side information. The
    report drives the release decision: how many groups (and how many
    event rows) would need suppression or coarser generalization
    before an export meets k≥5.

    Shapes: one QI-grouped distinct-count aggregate (map-side partial
    dedup, one shuffle on the QI — bounded cardinality: days × 24 ×
    |types|), a |bands|-row rollup, and a 1-row total broadcast for
    the share column. Output is ≤3 rows regardless of corpus size.
    """
    return k_anonymity_bands(load_table(spark, sf_dir, "events"))


def k_anonymity_bands(events: DataFrame) -> DataFrame:
    """The banding core over any ``(ts, event_type, user_id)`` frame
    (the pytest drives the k≥K band through a synthetic frame when the
    fixture SF has no group that large)."""
    groups = events.groupBy(
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").alias("h"),
        "event_type",
    ).agg(
        F.countDistinct("user_id").alias("nu"),
        F.count(F.lit(1)).alias("ne"),
    )
    band = (
        F.when(F.col("nu") >= K_ANON, F.lit(f"k_ge_{K_ANON}"))
        .when(F.col("nu") >= 2, F.lit(f"k_2_{K_ANON - 1}"))
        .otherwise(F.lit("k_1"))
    )
    banded = groups.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("ne").cast("long")).alias("n_events"),
        F.sum(F.col("nu").cast("long")).alias("user_slots"),
    )
    total = banded.agg(F.sum("n_groups").alias("tot"))
    return banded.crossJoin(F.broadcast(total)).select(
        "band",
        "n_groups",
        "n_events",
        "user_slots",
        F.round(
            F.col("n_groups").cast("double") / F.col("tot").cast("double"), 6
        ).alias("groups_share"),
    )


PRIVACY_K_ANON_ORACLE = f"""
WITH ka_groups AS (
  SELECT CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS h, event_type,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu,
         COUNT(*) AS ne
  FROM events GROUP BY 1, 2, 3
), ka_banded AS (
  SELECT CASE WHEN nu >= {K_ANON} THEN 'k_ge_{K_ANON}'
              WHEN nu >= 2 THEN 'k_2_{K_ANON - 1}'
              ELSE 'k_1' END AS band,
         COUNT(*) AS n_groups,
         CAST(SUM(ne) AS BIGINT) AS n_events,
         CAST(SUM(nu) AS BIGINT) AS user_slots
  FROM ka_groups GROUP BY 1
)
SELECT band, n_groups, n_events, user_slots,
       ROUND(CAST(n_groups AS DOUBLE)
             / CAST((SELECT SUM(n_groups) FROM ka_banded) AS DOUBLE), 6)
         AS groups_share
FROM ka_banded
"""


def events_multigrain_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users at three grains — (day, type), (day),
    (type) — in ONE grouping-sets pass over the stream.

    The multi-grain distinct is the query distinct counts make
    expensive at scale: distinct does NOT roll up (daily uniques don't
    sum to monthly uniques), so each grain naively costs its own full
    scan. GROUPING SETS shares the scan: Catalyst expands each row to
    its |sets| grain memberships (a narrow 3× multiply, fused into the
    scan), then one two-phase distinct aggregation serves all grains —
    partial dedup of (grain, user) map-side, exact counts after one
    shuffle. NULL grain columns identify the set, as in SQL.
    """
    events = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").cast("string").alias("day"),
        "event_type",
        "user_id",
    )
    return events.groupingSets(
        [["day", "event_type"], ["day"], ["event_type"]],
        "day",
        "event_type",
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


EVENTS_MULTIGRAIN_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY GROUPING SETS ((day, event_type), (day), (event_type))
"""


def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: hash-bucket A/B assignment (md5(user_id)
    low hex digit parity — every event of a user lands in one arm,
    the standard consistent-assignment rule) and the Welch two-sample
    z statistic on purchase value between the arms — the
    end-of-experiment table an event pipeline ships to the decision
    review. One row: per-arm n/mean, the z score, and the |z| > 1.96
    call.

    Determinism: values land on the exact cents grid (scaled longs);
    per-arm n, Σx, Σx² combine as DECIMAL(38,0) integers (the
    overflow-proof recipe quality_signal_correlation uses); mean and
    Welch z are ONE fixed double expression evaluated in the same
    operation order in both engines, rounded to 6. Shapes: one narrow
    scan + ONE 2-row map-side-combined rollup; nothing corpus-sized
    moves — at 100 TB this is a pure scan-side fold.
    """
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0)).cast("long")
    last_hex = F.substring(F.md5(F.col("user_id").cast("string")), 32, 1)
    arm = F.when(
        last_hex.isin("0", "2", "4", "6", "8", "a", "c", "e"), "A"
    ).otherwise("B")
    pts = events.where(F.col("event_type") == "purchase").select(
        arm.alias("arm"), cents.alias("x")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — exact widening
    per_arm = pts.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
    )
    a = per_arm.where(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("sx").alias("sx_a"),
        F.col("sxx").alias("sxx_a"),
    )
    b = per_arm.where(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("sx").alias("sx_b"),
        F.col("sxx").alias("sxx_b"),
    )
    # Degenerate-arm guard (repo convention, same as the correlation
    # op's zero-variance filter): an arm with n <= 1 has no sample
    # variance — the Welch z would divide by zero. Filter the 1-row
    # stat table instead of emitting NaN/Inf; the oracle applies the
    # identical WHERE.
    j = a.crossJoin(b).where(
        (F.col("n_a") > 1) & (F.col("n_b") > 1)
    )  # two 1-row sides
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    mean = lambda sx, n: sx.cast("double") / n / F.lit(100.0)  # noqa: E731
    var = lambda n, sx, sxx: (  # sample variance of cents, exact comb.
        (n.cast("decimal(38,0)") * sxx - sx * sx).cast("double")
        / (n.cast("double") * (n.cast("double") - F.lit(1.0)))
    )  # noqa: E731
    m_a = mean(F.col("sx_a"), na)
    m_b = mean(F.col("sx_b"), nb)
    v_a = var(F.col("n_a"), F.col("sx_a"), F.col("sxx_a"))
    v_b = var(F.col("n_b"), F.col("sx_b"), F.col("sxx_b"))
    z = (m_a - m_b) / F.sqrt(
        v_a / F.lit(10000.0) / na + v_b / F.lit(10000.0) / nb
    )
    return j.select(
        "n_a",
        "n_b",
        F.round(m_a, 6).alias("mean_a"),
        F.round(m_b, 6).alias("mean_b"),
        F.round(z, 6).alias("welch_z"),
        (F.abs(z) > 1.96).cast("int").alias("significant_95"),
    )


def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment POWER readout — the planning half of the A/B family
    (:func:`events_ab_test` is the outcome half): from the two arms'
    observed variance, (a) the minimum detectable effect at 80% power
    / α = 0.05 two-sided for the CURRENT sample sizes
    (MDE = (z_{α/2} + z_{β}) · √(s²_a/n_a + s²_b/n_b)) and (b) the
    per-arm n required to detect a 1% relative lift of arm A's mean
    at the same power (n = (z_{α/2} + z_{β})² · (s²_a + s²_b) / Δ²,
    ceiling) — the two numbers an experiment review asks before
    trusting a null result.

    z constants are fixed literals (1.959964, 0.841621 — the standard
    normal quantiles to 6 dp) so both engines evaluate one identical
    fixed double expression over the exact DECIMAL co-moments; same
    shapes as the readout: one scan-side fold to a 2-row stat table.
    """
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0)).cast("long")
    last_hex = F.substring(F.md5(F.col("user_id").cast("string")), 32, 1)
    arm = F.when(
        last_hex.isin("0", "2", "4", "6", "8", "a", "c", "e"), "A"
    ).otherwise("B")
    pts = events.where(F.col("event_type") == "purchase").select(
        arm.alias("arm"), cents.alias("x")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — exact widening
    per_arm = pts.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
    )
    a = per_arm.where(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("sx").alias("sx_a"),
        F.col("sxx").alias("sxx_a"),
    )
    b = per_arm.where(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("sx").alias("sx_b"),
        F.col("sxx").alias("sxx_b"),
    )
    # Same degenerate-arm guard as events_ab_test: n <= 1 leaves no
    # sample variance to plan with.
    j = a.crossJoin(b).where((F.col("n_a") > 1) & (F.col("n_b") > 1))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    var = lambda n, sx, sxx: (  # noqa: E731 — sample var of VALUE units
        (n.cast("decimal(38,0)") * sxx - sx * sx).cast("double")
        / (n.cast("double") * (n.cast("double") - F.lit(1.0)))
        / F.lit(10000.0)
    )
    v_a = var(F.col("n_a"), F.col("sx_a"), F.col("sxx_a"))
    v_b = var(F.col("n_b"), F.col("sx_b"), F.col("sxx_b"))
    z = F.lit(1.959964) + F.lit(0.841621)
    mde = z * F.sqrt(v_a / na + v_b / nb)
    m_a = F.col("sx_a").cast("double") / na / F.lit(100.0)
    delta = m_a * F.lit(0.01)
    n_req = F.ceil(z * z * (v_a + v_b) / (delta * delta))
    return j.select(
        "n_a",
        "n_b",
        F.round(F.sqrt(v_a), 6).alias("sd_a"),
        F.round(F.sqrt(v_b), 6).alias("sd_b"),
        F.round(mde, 6).alias("mde_80pct"),
        n_req.cast("bigint").alias("n_per_arm_for_1pct_lift"),
    )


EVENTS_POWER_ORACLE = """
WITH pw_pts AS (
  SELECT CASE WHEN SUBSTRING(md5(CAST(user_id AS VARCHAR)), 32, 1)
              IN ('0','2','4','6','8','a','c','e')
              THEN 'A' ELSE 'B' END AS arm,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase'
), pw_stats AS (
  SELECT arm, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
  FROM pw_pts GROUP BY arm
), pw_j AS (
  SELECT a.n AS n_a, a.sx AS sx_a, a.sxx AS sxx_a,
         b.n AS n_b, b.sx AS sx_b, b.sxx AS sxx_b
  FROM (SELECT * FROM pw_stats WHERE arm = 'A') a,
       (SELECT * FROM pw_stats WHERE arm = 'B') b
), pw_v AS (
  SELECT n_a, n_b, sx_a,
         CAST(n_a * sxx_a - sx_a * sx_a AS DOUBLE)
           / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
           / 10000.0 AS v_a,
         CAST(n_b * sxx_b - sx_b * sx_b AS DOUBLE)
           / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
           / 10000.0 AS v_b
  FROM pw_j
)
SELECT n_a, n_b,
       ROUND(SQRT(v_a), 6) AS sd_a,
       ROUND(SQRT(v_b), 6) AS sd_b,
       ROUND((1.959964 + 0.841621)
             * SQRT(v_a / CAST(n_a AS DOUBLE)
                    + v_b / CAST(n_b AS DOUBLE)), 6) AS mde_80pct,
       CAST(CEIL((1.959964 + 0.841621) * (1.959964 + 0.841621)
                 * (v_a + v_b)
                 / ((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0
                     * 0.01)
                    * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0
                       * 0.01))) AS BIGINT)
         AS n_per_arm_for_1pct_lift
FROM pw_v
WHERE n_a > 1 AND n_b > 1
"""


def events_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout — the third leg of the
    experiment family: when treatment could not be randomized at
    event time, compare each arm's purchase-value CHANGE across the
    pre/post boundary; the arm-level trend cancels and
    DiD = (post_A − pre_A) − (post_B − pre_B) estimates the
    treatment effect under parallel trends. The boundary is the
    deterministic midpoint of the observed date span
    (``2·(d − d_min) > d_max − d_min`` ⇒ post — pure integer date
    arithmetic, identical in both engines), so the op is replayable
    with no parameters.

    One row out: the four cell sizes, the DiD estimate, and its z
    (SE = √Σ s²_c/n_c over the four cells — the standard
    independent-samples form). Shapes: ONE conditional-aggregation
    fold over the scan into a 1-row stat table (12 exact DECIMAL
    sums), the date bounds ride a 1-row broadcast; nothing
    corpus-sized moves.
    """
    events = load_table(spark, sf_dir, "events")
    purch = events.where(F.col("event_type") == "purchase")
    bounds = purch.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    cents = F.round(F.col("value") * F.lit(100.0)).cast("long")
    last_hex = F.substring(F.md5(F.col("user_id").cast("string")), 32, 1)
    arm = F.when(
        last_hex.isin("0", "2", "4", "6", "8", "a", "c", "e"), "A"
    ).otherwise("B")
    post = (
        F.lit(2) * F.datediff(F.to_date("ts"), F.col("d0"))
        > F.datediff(F.col("d1"), F.col("d0"))
    ).cast("int")
    pts = purch.crossJoin(F.broadcast(bounds)).select(
        arm.alias("arm"), post.alias("post"), cents.alias("x")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — exact widening
    cells = (("a0", "A", 0), ("a1", "A", 1), ("b0", "B", 0), ("b1", "B", 1))
    aggs = []
    for tag, a_, p_ in cells:
        cond = (F.col("arm") == a_) & (F.col("post") == p_)
        aggs += [
            F.sum(cond.cast("long")).alias(f"n_{tag}"),
            F.sum(F.when(cond, dec(F.col("x"))).otherwise(dec(F.lit(0)))).alias(f"sx_{tag}"),
            F.sum(
                F.when(cond, dec(F.col("x") * F.col("x"))).otherwise(dec(F.lit(0)))
            ).alias(f"sxx_{tag}"),
        ]
    # Degenerate-cell guard (repo convention): any pre/post×arm cell
    # with n <= 1 has no sample variance and the DiD z would divide
    # by zero — filter the 1-row table; the oracle applies the
    # identical WHERE.
    j = pts.agg(*aggs).where(
        (F.col("n_a0") > 1)
        & (F.col("n_a1") > 1)
        & (F.col("n_b0") > 1)
        & (F.col("n_b1") > 1)
    )

    def mean(tag):
        return (
            F.col(f"sx_{tag}").cast("double")
            / F.col(f"n_{tag}").cast("double")
            / F.lit(100.0)
        )

    def vn(tag):  # s²_c/n_c in value units
        n = F.col(f"n_{tag}").cast("double")
        comb = (
            F.col(f"n_{tag}").cast("decimal(38,0)") * F.col(f"sxx_{tag}")
            - F.col(f"sx_{tag}") * F.col(f"sx_{tag}")
        ).cast("double")
        return comb / (n * (n - F.lit(1.0))) / F.lit(10000.0) / n

    did = (mean("a1") - mean("a0")) - (mean("b1") - mean("b0"))
    se = F.sqrt(vn("a0") + vn("a1") + vn("b0") + vn("b1"))
    return j.select(
        "n_a0",
        "n_a1",
        "n_b0",
        "n_b1",
        F.round(did, 6).alias("did_estimate"),
        F.round(did / se, 6).alias("did_z"),
    )


def events_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS value trend — the regression member of the
    analytics battery (seasonal-naive forecasting and WoW deltas
    exist; this is the LINE): regress the cents-grid value on the day
    index (days since the global first event day, a 1-row broadcast)
    and report slope (value units/day), intercept, and R² from the
    EXACT integer co-moments — the five sums accumulate as
    DECIMAL(38,0) (the overflow-proof recipe), and slope/intercept/R²
    are fixed double expressions evaluated in the same operation
    order in both engines.

    Shapes: one narrow scan projection + ONE |event types|-row
    map-side-combined rollup; degenerate types (zero x- or
    y-variance) are FILTERED, matching the correlation op's guard
    convention.
    """
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(F.min(F.to_date("ts")).alias("d0"))
    pts = events.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.col("d0"))
        .cast("long")
        .alias("x"),
        F.round(F.col("value") * F.lit(100.0)).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — exact widening
    stats = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
    )
    nn = dec(F.col("n"))
    num = (nn * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (nn * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nn * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / vx  # cents per day
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double") / F.lit(100.0)
    return stats.where(
        (nn * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        & (nn * F.col("syy") - F.col("sy") * F.col("sy") > 0)
    ).select(
        "event_type",
        "n",
        F.round(slope / F.lit(100.0), 6).alias("slope_per_day"),
        F.round(intercept, 6).alias("intercept"),
        F.round(num * num / (vx * vy), 6).alias("r2"),
    )


EVENTS_OLS_ORACLE = """
WITH ol_bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events
), ol_pts AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - d0 AS BIGINT) AS x,
         CAST(ROUND(value * 100.0) AS BIGINT) AS y
  FROM events, ol_bounds
), ol_stats AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
         SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
  FROM ol_pts GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6)
         AS slope_per_day,
       ROUND((CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 100.0, 6) AS intercept,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
FROM ol_stats
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


EVENTS_DID_ORACLE = """
WITH dd_bounds AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
  FROM events WHERE event_type = 'purchase'
), dd_pts AS (
  SELECT CASE WHEN SUBSTRING(md5(CAST(user_id AS VARCHAR)), 32, 1)
              IN ('0','2','4','6','8','a','c','e')
              THEN 'A' ELSE 'B' END AS arm,
         CASE WHEN 2 * (CAST(ts AS DATE) - d0) > (d1 - d0)
              THEN 1 ELSE 0 END AS post,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events, dd_bounds WHERE event_type = 'purchase'
), dd_j AS (
  SELECT
    SUM(CASE WHEN arm = 'A' AND post = 0 THEN 1 ELSE 0 END) AS n_a0,
    SUM(CASE WHEN arm = 'A' AND post = 0 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx_a0,
    SUM(CASE WHEN arm = 'A' AND post = 0 THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT) ELSE 0 END) AS sxx_a0,
    SUM(CASE WHEN arm = 'A' AND post = 1 THEN 1 ELSE 0 END) AS n_a1,
    SUM(CASE WHEN arm = 'A' AND post = 1 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx_a1,
    SUM(CASE WHEN arm = 'A' AND post = 1 THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT) ELSE 0 END) AS sxx_a1,
    SUM(CASE WHEN arm = 'B' AND post = 0 THEN 1 ELSE 0 END) AS n_b0,
    SUM(CASE WHEN arm = 'B' AND post = 0 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx_b0,
    SUM(CASE WHEN arm = 'B' AND post = 0 THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT) ELSE 0 END) AS sxx_b0,
    SUM(CASE WHEN arm = 'B' AND post = 1 THEN 1 ELSE 0 END) AS n_b1,
    SUM(CASE WHEN arm = 'B' AND post = 1 THEN CAST(x AS HUGEINT) ELSE 0 END) AS sx_b1,
    SUM(CASE WHEN arm = 'B' AND post = 1 THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT) ELSE 0 END) AS sxx_b1
  FROM dd_pts
)
SELECT CAST(n_a0 AS BIGINT) AS n_a0, CAST(n_a1 AS BIGINT) AS n_a1,
       CAST(n_b0 AS BIGINT) AS n_b0, CAST(n_b1 AS BIGINT) AS n_b1,
       ROUND((CAST(sx_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE) / 100.0
              - CAST(sx_a0 AS DOUBLE) / CAST(n_a0 AS DOUBLE) / 100.0)
             - (CAST(sx_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE) / 100.0
                - CAST(sx_b0 AS DOUBLE) / CAST(n_b0 AS DOUBLE) / 100.0), 6)
         AS did_estimate,
       ROUND(((CAST(sx_a1 AS DOUBLE) / CAST(n_a1 AS DOUBLE) / 100.0
               - CAST(sx_a0 AS DOUBLE) / CAST(n_a0 AS DOUBLE) / 100.0)
              - (CAST(sx_b1 AS DOUBLE) / CAST(n_b1 AS DOUBLE) / 100.0
                 - CAST(sx_b0 AS DOUBLE) / CAST(n_b0 AS DOUBLE) / 100.0))
             / SQRT(
                 CAST(n_a0 * sxx_a0 - sx_a0 * sx_a0 AS DOUBLE)
                   / (CAST(n_a0 AS DOUBLE) * (CAST(n_a0 AS DOUBLE) - 1.0))
                   / 10000.0 / CAST(n_a0 AS DOUBLE)
               + CAST(n_a1 * sxx_a1 - sx_a1 * sx_a1 AS DOUBLE)
                   / (CAST(n_a1 AS DOUBLE) * (CAST(n_a1 AS DOUBLE) - 1.0))
                   / 10000.0 / CAST(n_a1 AS DOUBLE)
               + CAST(n_b0 * sxx_b0 - sx_b0 * sx_b0 AS DOUBLE)
                   / (CAST(n_b0 AS DOUBLE) * (CAST(n_b0 AS DOUBLE) - 1.0))
                   / 10000.0 / CAST(n_b0 AS DOUBLE)
               + CAST(n_b1 * sxx_b1 - sx_b1 * sx_b1 AS DOUBLE)
                   / (CAST(n_b1 AS DOUBLE) * (CAST(n_b1 AS DOUBLE) - 1.0))
                   / 10000.0 / CAST(n_b1 AS DOUBLE)), 6) AS did_z
FROM dd_j
WHERE n_a0 > 1 AND n_a1 > 1 AND n_b0 > 1 AND n_b1 > 1
"""


EVENTS_AB_TEST_ORACLE = """
WITH ab_pts AS (
  SELECT CASE WHEN SUBSTRING(md5(CAST(user_id AS VARCHAR)), 32, 1)
              IN ('0','2','4','6','8','a','c','e')
              THEN 'A' ELSE 'B' END AS arm,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase'
), ab_stats AS (
  SELECT arm, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
  FROM ab_pts GROUP BY arm
), ab_j AS (
  SELECT a.n AS n_a, a.sx AS sx_a, a.sxx AS sxx_a,
         b.n AS n_b, b.sx AS sx_b, b.sxx AS sxx_b
  FROM (SELECT * FROM ab_stats WHERE arm = 'A') a,
       (SELECT * FROM ab_stats WHERE arm = 'B') b
)
SELECT n_a, n_b,
       ROUND(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0, 6)
         AS mean_a,
       ROUND(CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0, 6)
         AS mean_b,
       ROUND((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0
              - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0)
             / SQRT(CAST(n_a * sxx_a - sx_a * sx_a AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                    / 10000.0 / CAST(n_a AS DOUBLE)
                    + CAST(n_b * sxx_b - sx_b * sx_b AS DOUBLE)
                      / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
                      / 10000.0 / CAST(n_b AS DOUBLE)), 6) AS welch_z,
       CAST(ABS((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0
                 - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0)
                / SQRT(CAST(n_a * sxx_a - sx_a * sx_a AS DOUBLE)
                       / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                       / 10000.0 / CAST(n_a AS DOUBLE)
                       + CAST(n_b * sxx_b - sx_b * sx_b AS DOUBLE)
                         / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
                         / 10000.0 / CAST(n_b AS DOUBLE))) > 1.96
            AS INTEGER) AS significant_95
FROM ab_j
WHERE n_a > 1 AND n_b > 1
"""


QUERIES: list[QueryDef] = [
    QueryDef("events_hourly_agg", events_hourly_agg, EVENTS_HOURLY_ORACLE, "tumbling hour agg"),
    QueryDef("events_multigrain_users", events_multigrain_users, EVENTS_MULTIGRAIN_ORACLE, "exact distinct users at three grains in one grouping-sets pass"),
    QueryDef("rollup_incremental_refresh", rollup_incremental_refresh, ROLLUP_REFRESH_ORACLE, "incremental daily-rollup refresh: affected-day partials merged with the fresh hour (algebraic IVM)"),
    QueryDef("events_lateness_audit", events_lateness_audit, EVENTS_LATENESS_ORACLE, "out-of-order lateness distribution vs arrival order (watermark sizing; tiled prefix-scan MAX)"),
    QueryDef("privacy_k_anonymity", privacy_k_anonymity, PRIVACY_K_ANON_ORACLE, "k-anonymity re-identification risk bands over the export quasi-identifier"),
    QueryDef("events_rollup_hypertable", events_rollup_hypertable, EVENTS_ROLLUP_ORACLE, "two-level algebraic rollup: daily stats merged exactly from hourly partials"),
    QueryDef("events_markov_transitions", events_markov_transitions, EVENTS_MARKOV_ORACLE, "first-order event-type Markov transition matrix"),
    QueryDef("events_attribution", events_attribution, EVENTS_ATTRIBUTION_ORACLE, "last-touch purchase attribution within a 24h lookback"),
    QueryDef("events_forecast_baseline", events_forecast_baseline, EVENTS_FORECAST_ORACLE, "seasonal-naive hourly forecast accuracy report"),
    QueryDef("events_active_users", events_active_users, EVENTS_ACTIVE_USERS_ORACLE, "DAU/WAU/MAU via contribution explosion (no windowed distinct)"),
    QueryDef("events_seasonality_profile", events_seasonality_profile, EVENTS_SEASONALITY_ORACLE, "weekday x hour seasonality heatmap with exact occurrence rates"),
    QueryDef("events_pivot", events_pivot, EVENTS_PIVOT_ORACLE, "pivot by event type"),
    QueryDef("events_sessionize", events_sessionize, EVENTS_SESSIONIZE_ORACLE, "gap sessionization"),
    QueryDef("events_asof_join", events_asof_join, EVENTS_ASOF_ORACLE, "as-of join"),
    QueryDef("events_asof_nearest", events_asof_nearest, EVENTS_ASOF_NEAREST_ORACLE, "nearest-in-time join (both directions)"),
    QueryDef("events_audience_overlap", events_audience_overlap, EVENTS_AUDIENCE_ORACLE, "pairwise event-type audience Jaccard"),
    QueryDef("events_profile", events_profile, EVENTS_PROFILE_ORACLE, "per-column data-quality profile (one-pass multi-distinct)"),
    QueryDef("events_json_extract", events_json_extract, EVENTS_JSON_ORACLE, "JSON extraction"),
    QueryDef("events_sliding_window", events_sliding_window, EVENTS_SLIDING_ORACLE, "2h/1h sliding windows"),
    QueryDef("events_value_quantiles", events_value_quantiles, EVENTS_QUANTILES_ORACLE, "exact p50/p90/p99"),
    QueryDef("events_funnel", events_funnel, EVENTS_FUNNEL_ORACLE, "view→click→purchase funnel"),
    QueryDef("events_retention", events_retention, EVENTS_RETENTION_ORACLE, "cohort retention matrix"),
    QueryDef("events_approx_quantiles", events_approx_quantiles, None, "mergeable quantile sketch"),
    QueryDef("events_gapfill_locf", events_gapfill_locf, EVENTS_GAPFILL_ORACLE, "gap-fill + LOCF interpolation"),
    QueryDef("events_histogram", events_histogram, EVENTS_HISTOGRAM_ORACLE, "fixed-width value histogram"),
    QueryDef("events_anomaly_zscore", events_anomaly_zscore, EVENTS_ZSCORE_ORACLE, "deterministic z-score outliers"),
    QueryDef("events_corr_value_hour", events_corr_value_hour, EVENTS_CORR_ORACLE, "exact-co-moment Pearson correlation"),
    QueryDef("events_path_topk", events_path_topk, EVENTS_PATH_ORACLE, "top-K 3-event user paths (sequence-pattern mining lite)"),
    QueryDef("events_cohort_ltv", events_cohort_ltv, EVENTS_COHORT_LTV_ORACLE, "cohort lifetime-value matrix (exact cents by week offset)"),
    QueryDef("events_bounce_rate", events_bounce_rate, EVENTS_BOUNCE_ORACLE, "per-day single-event-session bounce rate over the sessionizer"),
    QueryDef("events_interarrival_quantiles", events_interarrival_quantiles, EVENTS_INTERARRIVAL_ORACLE, "per-type exact inter-arrival p50/p90/p99"),
    QueryDef("events_anomaly_mad", events_anomaly_mad, EVENTS_MAD_ORACLE, "robust median/MAD outlier detection (heavy-tail-safe)"),
    QueryDef("events_error_share_daily", events_error_share_daily, EVENTS_ERROR_SHARE_ORACLE, "daily error share + distinct users affected (reliability timeline)"),
    QueryDef("events_wow_change", events_wow_change, EVENTS_WOW_ORACLE, "week-over-week volume change per event type (lag window, no self-join)"),
    QueryDef("events_churn_weekly", events_churn_weekly, EVENTS_CHURN_ORACLE, "weekly churn/new/resurrected lifecycle ledger (one user window pass)"),
    QueryDef("events_conversion_lag_quantiles", events_conversion_lag_quantiles, EVENTS_CONVERSION_LAG_ORACLE, "first-view to first-purchase delay quantiles (funnel latency)"),
    QueryDef("events_variant_extract", events_variant_extract, EVENTS_VARIANT_ORACLE, "typed extraction through Spark 4 VARIANT (parse once, extract many)"),
    QueryDef("events_pattern_match", events_pattern_match, EVENTS_PATTERN_ORACLE, "ordered view->click->purchase session matching via signature regex"),
    # -- round-7 additions --
    QueryDef("events_ab_test", events_ab_test, EVENTS_AB_TEST_ORACLE, "hash-bucket A/B assignment + Welch z on purchase value (experiment readout)"),
    QueryDef("events_power_analysis", events_power_analysis, EVENTS_POWER_ORACLE, "experiment power: MDE at 80% power + required n per arm for a 1% lift"),
    QueryDef("events_did", events_did, EVENTS_DID_ORACLE, "difference-in-differences readout across the deterministic midpoint boundary (parallel-trends estimator + z)"),
    QueryDef("events_ols_trend", events_ols_trend, EVENTS_OLS_ORACLE, "per-type OLS value-vs-day trend (exact integer co-moments: slope/intercept/R^2)"),
]
