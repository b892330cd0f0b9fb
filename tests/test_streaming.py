"""Structured Streaming: the gsheets stream reader, the batch-only
refusal of streaming input, and the event-time semantics (session
windows, watermark finalization and state eviction) that a stream
over the reader gets from Spark."""

import pytest

SF = "/root/testdata/sf0.001"


def test_gsheets_stream_reader_incremental(spark, sheets_server, tmp_path):
    """spark.readStream.format("gsheets"): first run emits the current
    rows; after more rows land in the sheet, a second run on the same
    checkpoint emits only the appended rows, and a third run with no
    change emits nothing. Every run costs exactly two values GETs: the
    schema bind at stream start and the one trigger's fetch."""
    from duckdb_gsheets_spark.sources.gsheets.api import register

    store = sheets_server.new_spreadsheet("stream-sheet")
    store.add_sheet(
        "Sheet1",
        [["name", "score"], ["ada", "1"], ["bob", "2"]],
    )
    register(spark)
    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def values_gets():
        return sum(
            1
            for m, p in sheets_server.request_log
            if m == "GET" and "/stream-sheet/values/" in p
        )

    def run_batch():
        before = values_gets()
        stream = (
            spark.readStream.format("gsheets")
            .option("token", "test-token")
            .option("api_base", sheets_server.base_url)
            .load("stream-sheet")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "availableNow drain timed out"
        assert values_gets() - before == 2
        return sorted((r.name, r.score) for r in spark.read.parquet(out_dir).collect())

    first = run_batch()
    assert first == [("ada", 1.0), ("bob", 2.0)]

    store.append_rows("Sheet1", [["cal", "3"], ["dee", "4"]])
    second = run_batch()
    # Parquet sink accumulates; the second availableNow batch added
    # ONLY the appended rows (offset came from the checkpoint).
    assert second == [("ada", 1.0), ("bob", 2.0), ("cal", 3.0), ("dee", 4.0)]

    assert run_batch() == second


def test_gsheets_stream_reader_refetch_sees_append(
    spark, sheets_server, tmp_path
):
    """Each trigger refetches the grid, so rows appended to the sheet
    between runs flow on the next run."""
    from duckdb_gsheets_spark.sources.gsheets.api import register

    store = sheets_server.new_spreadsheet("append-sheet")
    store.add_sheet("Sheet1", [["name", "score"], ["ada", "1"]])
    register(spark)
    checkpoint = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_batch():
        stream = (
            spark.readStream.format("gsheets")
            .option("token", "test-token")
            .option("api_base", sheets_server.base_url)
            .load("append-sheet")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "availableNow drain timed out"
        return {r.name: r.score for r in spark.read.parquet(out_dir).collect()}

    assert run_batch() == {"ada": 1.0}
    store.append_rows("Sheet1", [["bob", "2"]])
    assert run_batch() == {"ada": 1.0, "bob": 2.0}


def test_gsheets_stream_reader_resumes_old_checkpoint(sheets_server):
    """An offset that still carries the ``version`` key an earlier
    reader wrote resumes from its ``rows`` alone: no row is emitted
    twice and the next offset drops the key."""
    import pyarrow as pa

    from duckdb_gsheets_spark.sources.gsheets.datasource import (
        GSheetsStreamReader,
        bind,
    )

    store = sheets_server.new_spreadsheet("old-ckpt-sheet")
    store.add_sheet("Sheet1", [["name", "score"], ["ada", "1"], ["bob", "2"]])
    options = {
        "path": "old-ckpt-sheet",
        "token": "test-token",
        "api_base": sheets_server.base_url,
    }
    schema, _ = bind(options)
    batches, end = GSheetsStreamReader(options, schema).read({"rows": 1, "version": 7})
    rows = pa.Table.from_batches(list(batches)).to_pylist()
    assert rows == [{"name": "bob", "score": 2.0}]
    assert end == {"rows": 2}


def test_session_window_matches_custom_sessionizer(spark):
    """Built-in session_window agrees with the window-pass batch
    sessionizer on (per-user session count, per-session event counts)."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.operators.events import events_sessionize
    from duckdb_gsheets_spark.plans.catalog import load_table

    sw = (
        load_table(spark, SF, "events")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    batch = events_sessionize(spark, SF).collect()
    sw_per_user = {}
    for r in sw:
        sw_per_user.setdefault(r.user_id, []).append(r.n_events)
    batch_per_user = {}
    for r in batch:
        batch_per_user.setdefault(r.user_id, []).append(r.n_events)
    assert {u: sorted(v) for u, v in sw_per_user.items()} == {
        u: sorted(v) for u, v in batch_per_user.items()
    }
    assert len(sw_per_user) > 0


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Aggregation state past the watermark is finalized: an event
    arriving in batch 2 that is older than (max event time - 2h
    watermark) must NOT revise the already-emitted window."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_batch(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    t0 = dt.datetime(2026, 1, 1, 0, 30)
    late = dt.datetime(2026, 1, 1, 1, 30)   # > 2h behind the max below
    fresh = dt.datetime(2026, 1, 1, 6, 0)

    write_batch("b1", [(1, t0, 1.0), (2, fresh, 1.0)])

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").cast("string").alias("w"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "availableNow drain timed out"
        return {r.w: r.n for r in spark.read.parquet(out).collect()}

    first = run_once()
    # Window [00:00) is final (watermark = 06:00 - 2h = 04:00) and emitted.
    assert first.get("2026-01-01 00:00:00") == 1

    # Batch 2: one event inside the already-finalized 01:00 window
    # (late, must be dropped) and one new fresh event.
    write_batch("b2", [(3, late, 1.0), (4, fresh, 1.0)])
    second = run_once()
    assert "2026-01-01 01:00:00" not in second  # late row dropped


def test_within_watermark_dedup_actually_evicts_state(spark, tmp_path):
    """The state bound of ``dropDuplicatesWithinWatermark``, pinned as
    a NEGATIVE test: a
    multi-micro-batch stream whose keys span far more event time than
    the watermark horizon must EVICT old keys — the state store's row
    count at the final progress stays bounded by the keys inside the
    horizon, strictly below the total distinct-key count. A revert to
    plain ``dropDuplicates`` (whose subset excludes the event-time
    column, so nothing is ever watermark-evicted) accumulates one
    state row per distinct key for the job's lifetime and fails the
    bound."""
    import datetime
    import os
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    n_batches, keys_per_batch = 6, 10
    src = tmp_path / "stream_src"
    src.mkdir()
    base = datetime.datetime(2026, 1, 1)
    t0 = time.time() - 600
    for b in range(n_batches):
        day = base + datetime.timedelta(days=b)
        tbl = pa.table(
            {
                "ts": pa.array(
                    [day] * keys_per_batch, type=pa.timestamp("us")
                ),
                "user_id": pa.array(
                    [f"u{b}_{j}" for j in range(keys_per_batch)]
                ),
            }
        )
        path = str(src / f"batch_{b}.parquet")
        pq.write_table(tbl, path)
        # Distinct ascending mtimes: the file source orders batches by
        # modification time, and the eviction argument needs the days
        # to arrive in order.
        os.utime(path, (t0 + b, t0 + b))

    stream = (
        spark.readStream.schema("ts timestamp, user_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id"]
    )
    name = f"evict_{uuid.uuid4().hex[:8]}"
    query = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 120
    while query.isActive and time.time() < deadline:
        time.sleep(0.2)
    query.awaitTermination(5)
    progresses = [p for p in query.recentProgress if p["stateOperators"]]
    assert len(progresses) >= n_batches  # one micro-batch per file
    # Every unique key is emitted exactly once (dedup semantics hold).
    assert (
        spark.table(name).count() == n_batches * keys_per_batch
    )
    final_state_rows = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    # By the last batch the watermark sits at day N-2's events minus
    # 1 h, so only the last two days' keys may legally remain. A plain
    # dropDuplicates retains all 60.
    assert final_state_rows <= 2 * keys_per_batch, (
        f"state not evicted: {final_state_rows} rows retained "
        f"of {n_batches * keys_per_batch} total keys"
    )
    evicted = [
        p["stateOperators"][0]["numRowsRemoved"] for p in progresses
    ]
    assert sum(evicted) > 0, "watermark never removed a state row"


def test_dsir_bucket_llr_rejects_streaming_frame(spark, tmp_path):
    """The llr artifact builder is batch-only by design (agg-on-agg +
    eager checkpoint are analysis-illegal under streaming); a
    streaming feats frame must fail LOUDLY at build time, not deep in
    Catalyst analysis."""
    import shutil

    from duckdb_gsheets_spark.operators.curation import (
        _dsir_feats,
        dsir_bucket_llr,
    )

    src = f"{SF}/documents.parquet"
    stream_dir = tmp_path / "documents"
    stream_dir.mkdir()
    shutil.copy(src, stream_dir / "part-0.parquet")
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(
        str(stream_dir)
    )
    stream_feats = _dsir_feats(stream)
    assert stream_feats.isStreaming
    with pytest.raises(ValueError, match="STATIC corpus only"):
        dsir_bucket_llr(stream_feats)
