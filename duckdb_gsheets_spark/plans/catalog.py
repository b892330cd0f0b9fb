"""Table catalog over the driver-generated parquet test data.

Tables are the TPC-H-ish star schema plus ``events`` (stream-shaped),
``documents`` (text corpus) and ``embeddings`` (vector corpus); see
TESTDATA.md.  The loaders stay plain parquet scans, so Catalyst gets
predicate pushdown, column pruning and partition pruning for free.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

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


#: The footer key under which Spark stores the schema of a frame it
#: writes; Spark's reader returns that schema when the key is there.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, path: str) -> tuple[StructType, list[str]]:
    """The schema Spark's parquet reader infers for ``path``, read from
    one footer with pyarrow, and the top-level columns stored as
    ``TIMESTAMP(NANOS)``, which it gives as ``long``.

    A directory, as Spark writes one, is read from its first data file
    by name. A file Spark wrote carries its schema in the footer, and
    that is the schema. Otherwise the arrow schema converts: a naive
    timestamp is ``TIMESTAMP_NTZ`` when the session's
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on, and a
    ``TIMESTAMP(NANOS)`` column is ``long``, as under
    ``spark.sql.legacy.parquet.nanosAsLong``.
    """
    if os.path.isdir(path):
        path = min(
            os.path.join(path, name)
            for name in os.listdir(path)
            if not name.startswith(("_", "."))
        )
    footer = pq.read_schema(path)
    stored = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        return StructType.fromJson(json.loads(stored)), []
    nanos = [
        field.name
        for field in footer
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns"
    ]
    footer = pa.schema(
        [f.with_type(pa.int64()) if f.name in nanos else f for f in footer]
    )
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return from_arrow_schema(footer, prefer_timestamp_ntz=ntz), nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table: a parquet scan given its schema from the
    file's footer (:func:`_footer_schema`), so building a plan runs no
    Spark job, where ``spark.read.parquet`` without a schema runs one
    per call to infer it. ``tests/test_catalog.py`` checks that the two
    schemas are equal for every table.

    A ``TIMESTAMP(NANOS)`` column converts to ``timestamp_ntz`` at
    microsecond precision, so downstream plans see one type whatever
    unit a corpus stores. The test data store microseconds at every
    scale factor; the conversion is for corpora written with
    nanoseconds.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = _footer_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    for column in nanos:
        # Integer `div` (not `/`): epoch-nanos overflow double
        # precision, off-by-one-microsecond errors otherwise.
        df = df.withColumn(
            column,
            F.timestamp_micros(F.expr(f"`{column}` div 1000")).cast("timestamp_ntz"),
        )
    return df


def session_memo(
    cache: dict, spark: SparkSession, sf_dir: str, name: str, build
):
    """``cache``'s value for one table of one corpus in this session,
    made by ``build()`` on a miss.

    The key is ``(applicationId, sf_dir, mtime of <name>.parquet)``, so a
    new session (whose checkpoint blocks are gone), another scale factor
    or a rewritten table builds afresh. Inserting a key evicts every
    other entry for the same ``sf_dir``: a long-lived session sweeping
    rewritten corpora keeps only the latest one's blocks."""
    try:
        mtime = os.path.getmtime(os.path.join(sf_dir, f"{name}.parquet"))
    except OSError:
        mtime = -1.0
    key = (spark.sparkContext.applicationId, sf_dir, mtime)
    if key not in cache:
        value = build()
        for stale in [k for k in cache if k[1] == sf_dir]:
            del cache[stale]
        cache[key] = value
    return cache[key]


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
