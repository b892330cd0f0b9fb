"""``plans.catalog.load_table``: table schemas from parquet footers.

``load_table`` passes the footer's schema to the reader instead of
letting Spark infer it, so it must give what inference gives, in any
session the operators run in, and run no Spark job."""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructField, StructType, TimestampNTZType

from duckdb_gsheets_spark.plans.catalog import TABLES, load_table

SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


@pytest.fixture(scope="module")
def sessions(spark):
    """The ``get_spark`` session; one on the same context with Spark's
    default SQL conf plus ``nanosAsLong``, as a session built without
    ``get_spark`` would read the corpora; and one like the first but
    with naive timestamps inferred as ``TIMESTAMP`` (LTZ)."""
    vanilla = spark.newSession()
    for key, _ in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.") and vanilla.conf.isModifiable(key):
            vanilla.conf.unset(key)
    vanilla.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return {"get_spark": spark, "vanilla": vanilla, "ltz": ltz}


@pytest.mark.parametrize("kind", ["get_spark", "vanilla", "ltz"])
@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_footer_schema_equals_the_inferred_schema(sessions, kind, sf_dir):
    session = sessions[kind]
    for name in TABLES:
        inferred = session.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert load_table(session, sf_dir, name).schema == inferred, name


def _jobs(spark, group: str, action) -> list[int]:
    spark.sparkContext.setJobGroup(group, group)
    try:
        action()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_load_table_runs_no_spark_job(spark):
    sf_dir = SF_DIRS[0]
    inferring = _jobs(
        spark, "catalog-infer",
        lambda: spark.read.parquet(os.path.join(sf_dir, "events.parquet")),
    )
    assert inferring, "schema inference ran no job to count"
    loading = _jobs(
        spark, "catalog-load",
        lambda: [load_table(spark, d, name) for d in SF_DIRS for name in TABLES],
    )
    assert loading == []


@pytest.mark.parametrize("kind", ["get_spark", "vanilla"])
def test_nanosecond_timestamps_load_as_microsecond_timestamp_ntz(
    sessions, kind, tmp_path
):
    """A ``TIMESTAMP(NANOS)`` column reads as ``long``, as
    ``nanosAsLong`` infers it, and loads as ``timestamp_ntz`` truncated
    to microseconds."""
    session = sessions[kind]
    nanos = pa.array([1_700_000_000_123_456_789, 86_400_000_000_999], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": nanos}), tmp_path / "events.parquet"
    )
    inferred = session.read.parquet(str(tmp_path / "events.parquet")).schema
    assert inferred["ts"].dataType.typeName() == "long"
    df = load_table(session, str(tmp_path), "events")
    assert df.schema == StructType(
        [inferred["event_id"], StructField("ts", TimestampNTZType())]
    )
    assert [row.ts for row in df.orderBy("event_id").collect()] == [
        datetime.datetime(2023, 11, 14, 22, 13, 20, 123456),
        datetime.datetime(1970, 1, 2, 0, 0, 0, 0),
    ]


@pytest.mark.parametrize("kind", ["get_spark", "ltz"])
def test_a_table_spark_wrote_loads_with_the_schema_spark_stored(
    sessions, kind, tmp_path
):
    """Spark writes a table as a directory, with its schema in each
    footer and ``TIMESTAMP`` as INT96, which pyarrow alone would read as
    nanoseconds: the schema and the rows equal a plain read's."""
    session = sessions[kind]
    path = str(tmp_path / "events.parquet")
    session.sql(
        "SELECT id AS event_id, TIMESTAMP'2024-03-01 12:00:00.123456' AS ts,"
        " TIMESTAMP_NTZ'2024-03-01 12:00:00' AS ts_ntz,"
        " CAST(id AS SMALLINT) AS small, CAST(id / 3 AS DECIMAL(10, 4)) AS dec,"
        " array(CAST(id AS FLOAT)) AS vec, map('k', id) AS props"
        " FROM range(5)"
    ).repartition(2).write.parquet(path)
    plain = session.read.parquet(path)
    df = load_table(session, str(tmp_path), "events")
    assert df.schema == plain.schema
    assert sorted(df.collect()) == sorted(plain.collect())
