"""Skew-handling operators: explicit salting patterns for hot keys.

AQE's skew-join splitting (on by default in Spark; plans.session
leaves it on) handles most runtime skew; these operators encode the
*manual* patterns for the cases AQE can't see — a pre-aggregation
under a hot grouping key, and a shuffle join where one key dominates
— in deterministic form (salt = hash-mod, never rand()) so results
are oracle-checkable: salting is a pure execution-strategy change,
the relational result is identical to the unsalted plan, and the
DuckDB oracle is simply the plain SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.operators.determinism import dsum, oracle_dsum
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import load_table

SALT_BUCKETS = 8


def _salt(col: Column, buckets: int = SALT_BUCKETS) -> Column:
    """Deterministic salt in [0, buckets): xxhash64-mod of a unique
    key. Deterministic so plans are replayable and testable; at run
    time it spreads one hot key over ``buckets`` reducers."""
    return F.pmod(F.xxhash64(col), F.lit(buckets))


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a hot grouping key.

    events has only a handful of event_type values over ~1M rows/SF —
    the canonical hot-key agg. Phase 1 aggregates (event_type, salt)
    — ≤ 8 partials per type, each sized 1/8 of the hot key; phase 2
    merges the partials. Results are bit-identical to the direct
    GROUP BY (long-sum merge is associative), which is the oracle.
    """
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * F.lit(100.0)).cast("long")
    phase1 = (
        events.withColumn("salt", _salt(F.col("event_id")))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents"),
        )
    )
    return (
        phase1.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


SKEW_AGG_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {oracle_dsum('value')} AS sum_value
FROM events
GROUP BY event_type
"""


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: the big (skewed) side gets a deterministic
    salt from its unique key; the small side is replicated across all
    SALT_BUCKETS values, so one hot join key spreads over 8 reducers.

    Shown on orders⋈customer with a per-mktsegment rollup; the result
    — and the oracle — is the plain join. (When the small side fits
    in memory you'd broadcast instead; salting is for two-big-tables
    skew where AQE's split heuristics miss.)
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    salted_orders = orders.withColumn("salt", _salt(F.col("o_orderkey")))
    replicated_customer = customer.crossJoin(
        spark.range(SALT_BUCKETS).select(F.col("id").cast("long").alias("salt"))
    )
    joined = salted_orders.join(
        replicated_customer,
        (F.col("o_custkey") == F.col("c_custkey")) & (salted_orders["salt"] == replicated_customer["salt"]),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


SKEW_JOIN_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice')} AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


#: Heavy-hitter report size.
HH_K = 10


def skew_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter key diagnosis: the ``HH_K`` users producing the
    most events, with each one's share of total traffic — the report
    read BEFORE choosing a salting factor or an AQE skew threshold
    (the salted operators above are the cure; this is the diagnosis).

    Shuffle ledger: one map-side-combined count per user, a k-row
    TakeOrderedAndProject (count-desc, user-asc tiebreak — no global
    sort), and a 1-row total broadcast for the share. At 100 TB this
    is the wordcount shape; for sketch-budget regimes the same report
    drops in as a count-min/SpaceSaving pass.
    """
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    total = events.agg(F.count(F.lit(1)).alias("n_total"))
    top = counts.orderBy(F.desc("n_events"), "user_id").limit(HH_K)
    w = Window.orderBy(F.desc("n_events"), "user_id")
    return (
        F.broadcast(top)
        .join(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "user_id",
            "n_events",
            F.round(
                F.col("n_events").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("traffic_share"),
        )
    )


SKEW_HH_ORACLE = f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
), total AS (
  SELECT COUNT(*) AS n_total FROM events
), top AS (
  SELECT user_id, n_events FROM counts
  ORDER BY n_events DESC, user_id LIMIT {HH_K}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id)
            AS INTEGER) AS rank,
       user_id, n_events,
       ROUND(CAST(n_events AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
         AS traffic_share
FROM top CROSS JOIN total
"""


QUERIES: list[QueryDef] = [
    QueryDef("skew_salted_agg", skew_salted_agg, SKEW_AGG_ORACLE, "two-phase salted hot-key agg"),
    QueryDef("skew_salted_join", skew_salted_join, SKEW_JOIN_ORACLE, "salted skew shuffle join"),
    QueryDef("skew_heavy_hitters", skew_heavy_hitters, SKEW_HH_ORACLE, "top-k heavy-hitter keys with traffic share (salting diagnosis)"),
]
