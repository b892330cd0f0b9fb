"""Table catalog over the driver-generated parquet test data.

Tables are the TPC-H-ish star schema plus ``events`` (stream-shaped),
``documents`` (text corpus) and ``embeddings`` (vector corpus); see
TESTDATA.md.  At 100 TB these would be partitioned/bucketed external
tables; the loaders stay pure ``spark.read.parquet`` so Catalyst gets
predicate pushdown, column pruning and partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables that are tiny at every scale factor (fixed-size in
#: TPC-H: region=5 rows, nation=25 rows). Always broadcast-joinable.
TINY_DIMS: frozenset[str] = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Plain parquet scan → full pushdown support."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # The driver harness builds a vanilla SparkSession (none of
    # plans/session.py's confs apply), and events.parquet carries
    # TIMESTAMP(NANOS) columns that a vanilla read rejects with
    # PARQUET_TYPE_ILLEGAL. nanosAsLong is a runtime-settable SQL conf,
    # so set it here — the one choke point every query loads through —
    # and normalize the resulting long below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # TIMESTAMP(NANOS) parquet columns arrive as long (see session.py
    # nanosAsLong); normalize to timestamp_ntz at micro precision so
    # downstream plans see one type at every scale factor.
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            # Integer `div` (not `/`): epoch-nanos overflow double
            # precision, off-by-one-microsecond errors otherwise.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism
    when the upstream scan yields fewer partitions.

    Compute-dense narrow operators (MinHash signatures, IVF
    assignment, LSH bucketing) otherwise inherit the scan's
    parallelism — at low SF a sub-MB parquet file is ONE partition, so
    the whole pass runs on one core. The round-robin shuffle moves only
    the raw input rows (cheap) and is a no-op at scale, where file
    splits already exceed core count.
    """
    # The .rdd probe forces one driver-side physical-planning pass
    # per plan BUILD (~tens of ms, no job) — acceptable for these
    # hand-built operator plans; don't call it inside per-row or
    # per-batch paths.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
