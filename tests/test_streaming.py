"""Structured Streaming ops verified against their batch twins."""

from duckdb_gsheets_spark.streaming.events_stream import (
    batch_equivalent_hourly,
    streaming_dedupe_count,
    streaming_hourly_counts,
)

SF = "/root/testdata/sf0.001"


def test_streaming_hourly_matches_batch(spark):
    stream_result = streaming_hourly_counts(spark, SF)
    batch_result = batch_equivalent_hourly(spark, SF)
    s = {
        (r.hour_start, r.event_type): (r.n_events, r.sum_value)
        for r in stream_result.collect()
    }
    b = {
        (r.hour_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch_result.collect()
    }
    assert s == b
    assert len(s) > 0


def test_streaming_dedupe(spark):
    out = streaming_dedupe_count(spark, SF).collect()
    n = out[0].n_distinct_events
    import duckdb

    expected = duckdb.sql(
        f"SELECT COUNT(DISTINCT event_id) FROM '{SF}/events.parquet'"
    ).fetchone()[0]
    assert n == expected


def test_stateful_sessionize_matches_batch(spark):
    """applyInPandasWithState sessionizer equals the batch window
    sessionizer on per-user (n_sessions, n_events)."""
    from duckdb_gsheets_spark.streaming.events_stream import (
        batch_equivalent_sessionize,
        streaming_sessionize_counts,
    )

    stream_rows = streaming_sessionize_counts(spark, SF).collect()
    # Memory sink in update mode may hold one row per user per batch;
    # the last write per user is the final state.
    s = {}
    for r in stream_rows:
        s[r.user_id] = (r.n_sessions, r.n_events)
    b = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in batch_equivalent_sessionize(spark, SF).collect()
    }
    assert s == b
    assert len(s) > 0


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
    rows, end = GSheetsStreamReader(options, schema).read({"rows": 1, "version": 7})
    assert list(rows) == [("bob", 2.0)]
    assert end == {"rows": 2}


def test_session_window_matches_custom_sessionizer(spark):
    """Built-in session_window agrees with the window-pass batch
    sessionizer on (per-user session count, per-session event counts)."""
    from duckdb_gsheets_spark.operators.events import events_sessionize
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_session_window_counts,
    )

    sw = streaming_session_window_counts(spark, SF).collect()
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


def test_stream_dir_is_stable_per_sf_dir(spark):
    """Repeated stream construction reuses one derived temp dir
    instead of leaking a fresh mkdtemp per call."""
    import hashlib
    import os
    import tempfile

    from duckdb_gsheets_spark.streaming.events_stream import read_events_stream

    sf_dir = "/root/testdata/sf0.001"
    read_events_stream(spark, sf_dir)
    read_events_stream(spark, sf_dir)
    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    stream_dir = os.path.join(tempfile.gettempdir(), f"events_stream_{digest}")
    assert os.path.islink(os.path.join(stream_dir, "events.parquet"))


def test_streaming_gopher_matches_batch(spark):
    """The streaming quality gate must reproduce the batch Gopher
    filter's per-language pass/fail counts exactly (stream/batch
    unification of the same narrow rule projection)."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.operators.text import gopher_rules
    from duckdb_gsheets_spark.plans.catalog import load_table
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_gopher_counts,
    )

    got = {
        (r.lang, r.passes): r.n_docs
        for r in streaming_gopher_counts(spark, SF).collect()
    }
    batch = gopher_rules(
        load_table(spark, SF, "documents").where(F.col("text").isNotNull()),
        carry=("lang",),
    )
    expected = {
        (r.lang, r.passes): r.n_docs
        for r in batch.groupBy("lang", "passes")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    }
    assert got == expected
    assert sum(got.values()) > 0


def test_streaming_resample_matches_batch(spark):
    """The streaming rebalancing gate must keep exactly the documents
    the batch operator keeps (stateless deterministic filter)."""
    from duckdb_gsheets_spark.operators.curation import corpus_resample
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_resample_counts,
    )

    got = {
        r.lang: (r.n_docs_kept, r.n_tokens_kept)
        for r in streaming_resample_counts(spark, SF).collect()
    }
    expected = {
        r.lang: (r.n_docs_kept, r.n_tokens_kept)
        for r in corpus_resample(spark, SF).collect()
    }
    assert got == expected


def test_streaming_oov_matches_batch(spark):
    """The streaming OOV gate (static vocab broadcast onto the
    documents stream) must report exactly the batch operator's
    per-language token/OOV counts."""
    from duckdb_gsheets_spark.operators.curation import vocab_oov_rate
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_oov_counts,
    )

    got = {
        r.lang: (r.n_tokens, r.n_oov)
        for r in streaming_oov_counts(spark, SF).collect()
    }
    expected = {
        r.lang: (r.n_tokens, r.n_oov)
        for r in vocab_oov_rate(spark, SF).collect()
    }
    assert got == expected
    assert any(n_oov > 0 for _, n_oov in got.values())


def test_streaming_contamination_matches_batch(spark):
    """Stream-static broadcast join + stateful dedup must reproduce
    the batch contamination screen's distinct-gram counts."""
    from duckdb_gsheets_spark.operators.chunking import contamination_ngram
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_contamination_counts,
    )

    got = {
        r.doc_id: r.n_matched_ngrams
        for r in streaming_contamination_counts(spark, SF).collect()
    }
    expected = {
        r.doc_id: r.n_matched_ngrams
        for r in contamination_ngram(spark, SF).collect()
    }
    assert got == expected


def test_streaming_incremental_dedup_matches_batch(spark):
    """The stream-static ingest gate must flag exactly the docs the
    batch incremental dedup flags, with the same verdicts and match
    counts (n_exact for exact dups, n_near for near dups)."""
    from duckdb_gsheets_spark.operators.dedup import dedup_incremental_batch
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_incremental_dedup_counts,
    )

    got = {
        r.doc_id: (r.n_exact, r.n_near)
        for r in streaming_incremental_dedup_counts(spark, SF).collect()
    }
    batch = {
        r.doc_id: (r.verdict, r.n_matches)
        for r in dedup_incremental_batch(spark, SF).collect()
    }
    flagged = {d: v for d, v in batch.items() if v[0] != "unique"}
    assert set(got) == set(flagged)
    for doc_id, (verdict, n_matches) in flagged.items():
        n_exact, n_near = got[doc_id]
        if verdict == "exact_dup":
            assert n_exact == n_matches and n_exact > 0
        else:
            assert n_exact == 0 and n_near == n_matches > 0


def test_streaming_active_users_matches_batch(spark):
    """The streaming DAU/WAU/MAU long-format counts must equal the
    batch operator's pivoted columns for every reported day."""
    from duckdb_gsheets_spark.operators.events import events_active_users
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_active_users,
    )

    got = {
        (r.day, r.kind): r.n_users
        for r in streaming_active_users(spark, SF).collect()
    }
    expected = {}
    for r in events_active_users(spark, SF).collect():
        expected[(r.day, "dau")] = r.dau
        expected[(r.day, "wau")] = r.wau
        expected[(r.day, "mau")] = r.mau
    assert got == expected


def test_streaming_error_share_matches_batch(spark):
    """The streaming long-format reliability counts must equal the
    batch error-share operator's columns for every day."""
    from duckdb_gsheets_spark.operators.events import (
        events_error_share_daily,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_error_share_counts,
    )

    got = {
        (r.day, r.kind): r.n
        for r in streaming_error_share_counts(spark, SF).collect()
    }
    expected = {}
    for r in events_error_share_daily(spark, SF).collect():
        expected[(r.day, "n_events")] = r.n_events
        if r.n_errors:
            expected[(r.day, "n_errors")] = r.n_errors
            expected[(r.day, "n_users_affected")] = r.n_users_affected
    assert got == expected


def test_streaming_heavy_hitters_matches_batch(spark):
    """The streaming hot-key monitor must equal the batch heavy-hitter
    report (modulo the batch rank column)."""
    from duckdb_gsheets_spark.operators.skew import skew_heavy_hitters
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_heavy_hitters,
    )

    got = {
        r.user_id: (r.n_events, r.traffic_share)
        for r in streaming_heavy_hitters(spark, SF).collect()
    }
    expected = {
        r.user_id: (r.n_events, r.traffic_share)
        for r in skew_heavy_hitters(spark, SF).collect()
    }
    assert got == expected


def test_streaming_conversion_lag_matches_batch(spark):
    """The streaming funnel-latency monitor must equal the batch
    conversion-lag operator exactly."""
    from duckdb_gsheets_spark.operators.events import (
        events_conversion_lag_quantiles,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_conversion_lag,
    )

    got = streaming_conversion_lag(spark, SF).collect()[0]
    exp = events_conversion_lag_quantiles(spark, SF).collect()[0]
    assert (got.n_converted, got.p50_s, got.p90_s, got.p99_s) == (
        exp.n_converted, exp.p50_s, exp.p90_s, exp.p99_s,
    )


def test_streaming_rollup_daily_matches_batch(spark):
    """The streamed hourly partials merged to daily must equal the
    batch hypertable rollup exactly (same merge helper, so equality
    proves the streamed partial state matches the batch partials)."""
    from duckdb_gsheets_spark.operators.events import (
        events_rollup_hypertable,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_rollup_daily,
    )

    got = {
        (r.day_start, r.event_type): (
            r.n_events,
            r.sum_value,
            r.avg_value,
            r.min_value,
            r.max_value,
        )
        for r in streaming_rollup_daily(spark, SF).collect()
    }
    expected = {
        (r.day_start, r.event_type): (
            r.n_events,
            r.sum_value,
            r.avg_value,
            r.min_value,
            r.max_value,
        )
        for r in events_rollup_hypertable(spark, SF).collect()
    }
    assert got == expected


def test_streaming_view_purchase_join_matches_batch(spark):
    """The watermarked stream-stream interval join must emit exactly
    the pairs the identical batch join produces, and the fixture must
    actually contain qualifying (view → purchase ≤ 1h) pairs."""
    from duckdb_gsheets_spark.streaming.events_stream import (
        batch_equivalent_view_purchase_join,
        streaming_view_purchase_join,
    )

    got = {
        r.day: (r.n_purchases_with_view, r.n_pairs)
        for r in streaming_view_purchase_join(spark, SF).collect()
    }
    expected = {
        r.day: (r.n_purchases_with_view, r.n_pairs)
        for r in batch_equivalent_view_purchase_join(spark, SF).collect()
    }
    assert got == expected
    assert expected, "no view→purchase pairs in fixture — join untested"
    assert sum(n for n, _ in expected.values()) > 0


def test_streaming_k_anonymity_matches_batch(spark):
    """The streamed per-group distinct-user state, banded on the sink,
    must equal the batch k-anonymity audit's group and user-slot
    counts for every band."""
    from duckdb_gsheets_spark.operators.events import privacy_k_anonymity
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_k_anonymity,
    )

    got = {
        (r.band): (r.n_groups, r.user_slots)
        for r in streaming_k_anonymity(spark, SF).collect()
    }
    expected = {
        (r.band): (r.n_groups, r.user_slots)
        for r in privacy_k_anonymity(spark, SF).collect()
    }
    assert got == expected


def test_within_watermark_dedup_actually_evicts_state(spark, tmp_path):
    """The state-bound guarantee behind the two
    dropDuplicatesWithinWatermark twins, pinned as a NEGATIVE test: a
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


def test_streaming_dsir_weights_match_batch(spark):
    """The stream-static DSIR scoring pass must reproduce the batch
    weight core's per-source rollup EXACTLY (same scaled-long sums —
    the per-row map-fold and the explode+join+rollup are the same
    integers), including the target-like count."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.operators.curation import _dsir_weights
    from duckdb_gsheets_spark.plans.catalog import load_table
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_dsir_weight_counts,
    )

    got = {
        r.source: (r.n_docs, r.n_tokens, r.w_scaled_sum, r.n_target_like)
        for r in streaming_dsir_weight_counts(spark, SF).collect()
    }
    batch = {
        r.source: (r.n_docs, r.n_tokens, r.w_scaled_sum, r.n_target_like)
        for r in _dsir_weights(load_table(spark, SF, "documents"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("n_tokens"),
            F.sum("w_scaled").alias("w_scaled_sum"),
            F.sum((F.col("w_scaled") > 0).cast("long")).alias(
                "n_target_like"
            ),
        )
        .collect()
    }
    assert got == batch
    assert len(got) > 1
    # Qualitative DSIR invariant on this fixture: every target
    # source's MEAN weight beats every non-target source's (sums are
    # all negative here — p_raw includes the target slice, shrinking
    # log-ratios toward zero from below; ranks are what matter).
    from duckdb_gsheets_spark.operators.curation import DSIR_TARGET_SOURCES

    means = {s: v[2] / v[0] for s, v in got.items()}
    t_means = [m for s, m in means.items() if s in DSIR_TARGET_SOURCES]
    r_means = [m for s, m in means.items() if s not in DSIR_TARGET_SOURCES]
    assert t_means and r_means
    assert min(t_means) > max(r_means)


def test_streaming_dsir_scorer_checkpoint_resume(spark, tmp_path):
    """Checkpoint-resume for the stateless DSIR ingest scorer: run the
    scoring stream over half the corpus with a parquet sink +
    checkpoint, land the second half, rerun on the SAME checkpoint —
    the second run appends ONLY the new docs (offsets came from the
    checkpoint, no rescoring/duplication), and every score equals the
    batch core's weight for that doc."""
    import time
    import uuid

    from duckdb_gsheets_spark.operators.curation import _dsir_weights
    from duckdb_gsheets_spark.plans.catalog import load_table
    from duckdb_gsheets_spark.streaming.events_stream import dsir_row_scorer

    docs = load_table(spark, SF, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    src = str(tmp_path / "docs_src")
    half1 = docs.where(docs.doc_id <= cut)
    half2 = docs.where(docs.doc_id > cut)
    half1.write.parquet(src)  # first availableNow run sees half 1

    scorer = dsir_row_scorer(spark, SF)  # artifact fit on FULL corpus
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "scored")

    def run_once():
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            scorer(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "availableNow drain timed out"
        return spark.read.parquet(out)

    # The scorer drops NULL texts (same filter as the batch core).
    n_scorable_1 = half1.where(half1.text.isNotNull()).count()
    n_scorable = docs.where(docs.text.isNotNull()).count()
    first = run_once()
    assert first.count() == n_scorable_1

    # Land the second half as NEW files, resume from the checkpoint.
    half2.write.mode("append").parquet(src)
    second = run_once()
    assert second.count() == n_scorable
    assert second.select("doc_id").distinct().count() == n_scorable

    got = {
        r.doc_id: (r.n_feats, r.w_scaled) for r in second.collect()
    }
    expected = {
        r.doc_id: (r.n_feats, r.w_scaled)
        for r in _dsir_weights(docs).collect()
    }
    assert got == expected


def test_streaming_cdc_upsert_matches_batch_merge(spark, tmp_path):
    """Replaying the synthetic CDC batch as a two-micro-batch
    foreachBatch MERGE loop must land the keyed table in EXACTLY the
    state the one-shot batch MERGE (corpus_upsert) computes — same
    keys, same text hashes, same update-wins column values."""
    from duckdb_gsheets_spark.operators.pipeline import corpus_upsert
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_corpus_upsert_state,
    )

    got = {
        r.doc_id: (r.text_md5, r.lang, r.source)
        for r in streaming_corpus_upsert_state(
            spark, SF, work_dir=str(tmp_path / "cdc")
        ).collect()
    }
    expected = {
        r.doc_id: (r.text_md5, r.lang, r.source)
        for r in corpus_upsert(spark, SF).collect()
    }
    assert got == expected
    assert any(v[2] == "cdc" for v in got.values())


def test_streaming_cdc_upsert_checkpoint_resume_orders_writes(
    spark, tmp_path
):
    """Checkpoint-resume + ordering: after the first availableNow run
    drains both CDC batches, a SECOND revision of an already-updated
    key lands as a new file; rerunning on the same checkpoint must
    apply ONLY the new batch (no replay of batches 0-1) and
    last-writer-wins must leave the second revision in the table."""
    import os
    import time

    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.streaming.events_stream import (
        cdc_merge_apply,
        streaming_corpus_upsert_state,
        with_cdc_lineage,
    )

    work = str(tmp_path / "cdc")
    first = streaming_corpus_upsert_state(spark, SF, work_dir=work)
    target = min(
        r.doc_id for r in first.where(F.col("source") == "cdc").collect()
    )
    versions_after_first = sorted(os.listdir(os.path.join(work, "table")))

    d = os.path.join(work, "cdc_src", "batch_2")
    spark.createDataFrame(
        [(int(target), "second revision wins", "en", "cdc2")],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(d)
    now = time.time()
    for f in os.listdir(d):
        os.utime(os.path.join(d, f), (now, now))

    # Resume: same work dir → same checkpoint; the helper reuses the
    # existing src/table dirs and only the new file forms a batch.
    state_tbl = {"cur": os.path.join(work, "table", versions_after_first[-1]),
                 "version": int(versions_after_first[-1][1:])}
    stream = with_cdc_lineage(
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "cdc_src", "*"))
    )
    q = (
        stream.writeStream.foreachBatch(cdc_merge_apply(spark, state_tbl))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "availableNow drain timed out"

    # Exactly ONE new snapshot version: only batch_2 was applied.
    versions_after_second = sorted(os.listdir(os.path.join(work, "table")))
    assert len(versions_after_second) == len(versions_after_first) + 1

    final = spark.read.parquet(state_tbl["cur"])
    row = final.where(F.col("doc_id") == target).collect()[0]
    assert (row.text, row.source) == ("second revision wins", "cdc2")
    # Untouched keys keep their post-run-1 state.
    n_before = first.count()
    assert final.count() == n_before


def test_cdc_merge_dedupes_multi_change_batches(spark, tmp_path):
    """Keyed-table invariant under HOSTILE batch composition: when one
    micro-batch carries SEVERAL changes for the same doc_id (the file
    source packs multiple CDC files into a trigger), the applier must
    pre-reduce to one row per key — last source file wins — instead
    of fanning the full-outer merge out into duplicate doc_id rows."""
    import os
    import time

    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.streaming.events_stream import (
        cdc_merge_apply,
        with_cdc_lineage,
    )

    work = str(tmp_path / "cdc_multi")
    table0 = os.path.join(work, "table", "v0")
    spark.createDataFrame(
        [(1, "base one", "en", "seed"), (2, "base two", "en", "seed")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(table0)

    # TWO change files for doc_id 1 in the SAME batch (no
    # maxFilesPerTrigger cap). The directory names are ADVERSARIAL
    # on purpose: the later change lands in "change_10", which sorts
    # BEFORE "change_9" lexicographically — last-writer-wins must
    # follow file modification time (arrival order), not path order.
    src = os.path.join(work, "src")
    now = time.time() - 60
    for i, (dirname, txt) in enumerate(
        (("change_9", "z-first change"), ("change_10", "a-second change"))
    ):
        d = os.path.join(src, dirname)
        spark.createDataFrame(
            [(1, txt, "en", f"cdc{i}")],
            "doc_id long, text string, lang string, source string",
        ).coalesce(1).write.mode("overwrite").parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + i, now + i))

    state = {"cur": table0, "version": 0}
    q = (
        with_cdc_lineage(
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(os.path.join(src, "*"))
        )
        .writeStream.foreachBatch(cdc_merge_apply(spark, state))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert state["version"] == 1  # both files arrived as ONE batch

    final = spark.read.parquet(state["cur"])
    # exactly one row per key — the invariant the pre-reduce protects
    assert final.count() == 2
    assert final.groupBy("doc_id").count().agg(
        F.max("count")
    ).first()[0] == 1
    row = final.where(F.col("doc_id") == 1).collect()[0]
    # change_10 arrived LAST (greater mtime) → it wins, even though
    # "change_10" < "change_9" in path order
    assert (row.text, row.source) == ("a-second change", "cdc1")
    assert final.where(F.col("doc_id") == 2).collect()[0].text == "base two"


def test_cdc_merge_equal_mtime_numeric_sequence_wins(spark, tmp_path):
    """Coarse-clock filesystems can stamp change_9 and change_10 with
    the SAME mtime; the pre-reduce must then fall to the numeric-aware
    file sequence (trailing number of the CDC file-set name), not raw
    lexicographic path order, which sorts change_10 before change_9."""
    import os
    import time

    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.streaming.events_stream import (
        cdc_merge_apply,
        with_cdc_lineage,
    )

    work = str(tmp_path / "cdc_eqmtime")
    table0 = os.path.join(work, "table", "v0")
    spark.createDataFrame(
        [(1, "base one", "en", "seed")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(table0)

    src = os.path.join(work, "src")
    same = time.time() - 60  # identical mtime for BOTH change files
    for i, (dirname, txt) in enumerate(
        (("change_9", "z-first change"), ("change_10", "a-second change"))
    ):
        d = os.path.join(src, dirname)
        spark.createDataFrame(
            [(1, txt, "en", f"cdc{i}")],
            "doc_id long, text string, lang string, source string",
        ).coalesce(1).write.mode("overwrite").parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (same, same))

    state = {"cur": table0, "version": 0}
    q = (
        with_cdc_lineage(
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(os.path.join(src, "*"))
        )
        .writeStream.foreachBatch(cdc_merge_apply(spark, state))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    final = spark.read.parquet(state["cur"])
    assert final.count() == 1
    row = final.collect()[0]
    # change_10's sequence number (10) outranks change_9's (9) at
    # equal mtime, despite "change_10" < "change_9" in path order
    assert (row.text, row.source) == ("a-second change", "cdc1")


def test_cdc_merge_set_sequence_dominates_leaf_numbers(spark, tmp_path):
    """Change-set DIRECTORIES with non-part leaf names: at equal mtime
    the set number (parent segment) must dominate — change_9/data-002
    must NOT outrank change_10/data-001 just because its file-local
    part number (2) is bigger. Leaf numbers only break ties WITHIN a
    set."""
    import os
    import time

    from duckdb_gsheets_spark.streaming.events_stream import (
        cdc_merge_apply,
        with_cdc_lineage,
    )

    work = str(tmp_path / "cdc_setseq")
    table0 = os.path.join(work, "table", "v0")
    spark.createDataFrame(
        [(1, "base one", "en", "seed")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(table0)

    src = os.path.join(work, "src")
    same = time.time() - 60
    for i, (dirname, leafname, txt) in enumerate(
        (
            ("change_9", "data-002.parquet", "z-first change"),
            ("change_10", "data-001.parquet", "a-second change"),
        )
    ):
        d = os.path.join(src, dirname)
        spark.createDataFrame(
            [(1, txt, "en", f"cdc{i}")],
            "doc_id long, text string, lang string, source string",
        ).coalesce(1).write.mode("overwrite").parquet(d)
        # rename the writer part file to the adversarial leaf name
        part = next(
            f for f in os.listdir(d)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.rename(os.path.join(d, part), os.path.join(d, leafname))
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (same, same))

    state = {"cur": table0, "version": 0}
    q = (
        with_cdc_lineage(
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(os.path.join(src, "*"))
        )
        .writeStream.foreachBatch(cdc_merge_apply(spark, state))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    final = spark.read.parquet(state["cur"])
    assert final.count() == 1
    row = final.collect()[0]
    # set 10 wins over set 9 despite 9's bigger leaf number
    assert (row.text, row.source) == ("a-second change", "cdc1")


def test_cdc_merge_stray_flat_writer_file_stays_inert(spark, tmp_path):
    """A writer-numbered file dropped FLAT in the watch dir
    (data-050.parquet) alongside genuine change-set directories must
    NOT have its file-local number promoted to a set number: at equal
    mtime, change_9/data-001 (set 9) outranks flat data-050
    ((-1, 50) — inert tiebreaker), even though 50 > 9. Promotion of
    flat leaf numbers only applies in uniformly-flat batches, where a
    leaf number IS the set number."""
    import os
    import time

    from duckdb_gsheets_spark.streaming.events_stream import (
        cdc_merge_apply,
        with_cdc_lineage,
    )

    work = str(tmp_path / "cdc_strayflat")
    table0 = os.path.join(work, "table", "v0")
    spark.createDataFrame(
        [(1, "base one", "en", "seed")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(table0)

    src = os.path.join(work, "src")
    same = time.time() - 60
    # genuine change set: change_9/data-001.parquet
    d = os.path.join(src, "change_9")
    spark.createDataFrame(
        [(1, "set change", "en", "cdc_set")],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(d)
    part = next(
        f for f in os.listdir(d)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.rename(os.path.join(d, part), os.path.join(d, "data-001.parquet"))
    for f in os.listdir(d):
        os.utime(os.path.join(d, f), (same, same))
    # stray writer file dropped flat: src/data-050.parquet
    tmp_dir = os.path.join(work, "flat_stage")
    spark.createDataFrame(
        [(1, "stray change", "en", "cdc_stray")],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(tmp_dir)
    part = next(
        f for f in os.listdir(tmp_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    flat = os.path.join(src, "data-050.parquet")
    os.rename(os.path.join(tmp_dir, part), flat)
    os.utime(flat, (same, same))

    state = {"cur": table0, "version": 0}
    q = (
        with_cdc_lineage(
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(os.path.join(src, "*"))
        )
        .writeStream.foreachBatch(cdc_merge_apply(spark, state))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    final = spark.read.parquet(state["cur"])
    assert final.count() == 1
    row = final.collect()[0]
    # the change-set row wins: 50 is a file-local number, not a set
    assert (row.text, row.source) == ("set change", "cdc_set")


def test_cdc_merge_flat_feed_under_digit_suffixed_watch_dir(
    spark, tmp_path
):
    """A uniformly-flat data-NNN feed under a DIGIT-SUFFIXED watch dir
    (feed2/data-050.parquet): the batch has only ONE distinct parent
    segment (the watch dir itself), so it must NOT flip into mixed
    mode — set numbers in the leaves keep ordering the merge at equal
    mtime (data-050 outranks data-049 despite "data-050" losing a
    struct/path tiebreak to nothing in particular)."""
    import os
    import time

    from duckdb_gsheets_spark.streaming.events_stream import (
        cdc_merge_apply,
        with_cdc_lineage,
    )

    work = str(tmp_path / "cdc_digitwatch")
    table0 = os.path.join(work, "table", "v0")
    spark.createDataFrame(
        [(1, "base one", "en", "seed")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(table0)

    src = os.path.join(work, "feed2")
    os.makedirs(src, exist_ok=True)
    same = time.time() - 60
    for leaf, text in (
        ("data-049.parquet", "z-first change"),
        ("data-050.parquet", "a-second change"),
    ):
        tmp_dir = os.path.join(work, "stage_" + leaf)
        spark.createDataFrame(
            [(1, text, "en", "cdc_" + leaf[:8])],
            "doc_id long, text string, lang string, source string",
        ).coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        part = next(
            f for f in os.listdir(tmp_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dest = os.path.join(src, leaf)
        os.rename(os.path.join(tmp_dir, part), dest)
        os.utime(dest, (same, same))

    state = {"cur": table0, "version": 0}
    q = (
        with_cdc_lineage(
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(src)
        )
        .writeStream.foreachBatch(cdc_merge_apply(spark, state))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    final = spark.read.parquet(state["cur"])
    assert final.count() == 1
    row = final.collect()[0]
    # set 50 (the later flat set file) wins at equal mtime
    assert (row.text, row.source) == ("a-second change", "cdc_data-050")


def test_dsir_bucket_llr_rejects_streaming_frame(spark):
    """The llr artifact builder is batch-only by design (agg-on-agg +
    eager checkpoint are analysis-illegal under streaming); a
    streaming feats frame must fail LOUDLY at build time, not deep in
    Catalyst analysis — the streaming scorer fits from the static
    corpus and broadcasts the collected table instead."""
    import pytest

    from duckdb_gsheets_spark.operators.curation import (
        _dsir_feats,
        dsir_bucket_llr,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        read_documents_stream,
    )

    stream_feats = _dsir_feats(read_documents_stream(spark, SF))
    assert stream_feats.isStreaming
    with pytest.raises(ValueError, match="STATIC corpus only"):
        dsir_bucket_llr(stream_feats)


def test_streaming_substring_scrub_matches_batch(spark):
    """The streaming ExactSubstr intake scrubber must reproduce the
    batch removal manifest EXACTLY: candidates fit once from the
    static corpus, every streamed document's (n_spans, tokens_matched,
    max_match_len) row equals dedup_substring_scrub's — and the
    ledger is non-trivial on the test corpus."""
    from duckdb_gsheets_spark.operators.dedup import dedup_substring_scrub
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_substring_scrub_counts,
    )

    got = {
        r.doc_id: (r.n_spans, r.tokens_matched, r.max_match_len)
        for r in streaming_substring_scrub_counts(spark, SF).collect()
    }
    exp = {
        r.doc_id: (r.n_spans, r.tokens_matched, r.max_match_len)
        for r in dedup_substring_scrub(spark, SF).collect()
    }
    assert got == exp
    assert got and all(v[0] >= 1 and v[1] >= v[2] for v in got.values())


def test_streaming_substring_scrub_empty_candidates(spark, tmp_path):
    """A fitting corpus with NO repeated substring of the minimum
    length is a legitimate intake state: the scrubber must return an
    EMPTY ledger with the full schema (batch parity on the empty
    case), not crash building the per-row expression."""
    from duckdb_gsheets_spark.operators.dedup import (
        dedup_substring_scrub,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_substring_scrub_counts,
    )

    # every text unique, no 4-token window shared between any two
    texts = [
        (i, " ".join(f"tok{i}_{j}" for j in range(8)))
        for i in range(20)
    ]
    sf = str(tmp_path / "nodup_sf")
    spark.createDataFrame(
        texts, "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    out = streaming_substring_scrub_counts(spark, sf)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_spans", "tokens_matched", "max_match_len",
    ]
    assert dedup_substring_scrub(spark, sf).count() == 0  # batch parity


def test_streaming_ab_monitor_matches_batch_readout(spark):
    """The live experiment monitor's final sufficient statistics must
    reproduce the batch Welch readout exactly: folding the sink's
    per-arm (n, Σx, Σx²) through the same fixed double expression
    yields the batch operator's means and z bit-for-bit."""
    import math

    from duckdb_gsheets_spark.operators.events import events_ab_test
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_ab_test_counts,
    )

    stats = {
        r.arm: (int(r.n), int(r.sx), int(r.sxx))
        for r in streaming_ab_test_counts(spark, SF).collect()
    }
    assert set(stats) == {"A", "B"}

    def fold(arm):
        n, sx, sxx = stats[arm]
        mean = sx / n / 100.0
        var = (n * sxx - sx * sx) / (n * (n - 1.0))
        return n, mean, var

    n_a, m_a, v_a = fold("A")
    n_b, m_b, v_b = fold("B")
    z = (m_a - m_b) / math.sqrt(
        v_a / 10000.0 / n_a + v_b / 10000.0 / n_b
    )
    batch = events_ab_test(spark, SF).collect()[0]
    assert (batch.n_a, batch.n_b) == (n_a, n_b)
    assert batch.mean_a == round(m_a, 6)
    assert batch.mean_b == round(m_b, 6)
    assert batch.welch_z == round(z, 6)


def test_streaming_fineweb_gates_match_batch_funnel(spark):
    """The streaming FineWeb intake gate must reproduce the batch
    funnel's stage-1/2 ledger columns exactly (n_docs,
    n_pass_quality, n_pass_c4 per source) — the dedup stage is
    chained separately by design."""
    from duckdb_gsheets_spark.operators.pipeline import (
        pipeline_fineweb_corpus,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_fineweb_gate_counts,
    )

    got = {
        r.source: (r.n_docs, r.n_pass_quality, r.n_pass_c4)
        for r in streaming_fineweb_gate_counts(spark, SF).collect()
    }
    batch = {
        r.source: (r.n_docs, r.n_pass_quality, r.n_pass_c4)
        for r in pipeline_fineweb_corpus(spark, SF).collect()
    }
    assert got == batch
    assert len(got) > 1
    assert any(v[1] > 0 for v in got.values())


def test_streaming_exactsubstr_retention_matches_batch(spark):
    """The streaming per-source ExactSubstr release ledger must equal
    the composed batch pipeline row-for-row: same candidates (fit once
    from the static corpus), same per-doc cut, same per-source rollup
    and retention ratio — and the ledger is non-trivial (at least one
    source actually loses tokens on the test corpus)."""
    from duckdb_gsheets_spark.operators.dedup import (
        pipeline_exactsubstr_corpus,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_exactsubstr_retention,
    )

    got = {
        r.source: (
            r.n_docs,
            r.n_docs_scrubbed,
            r.tokens_in,
            r.tokens_scrubbed,
            r.tokens_out,
            r.token_retention,
        )
        for r in streaming_exactsubstr_retention(spark, SF).collect()
    }
    exp = {
        r.source: (
            r.n_docs,
            r.n_docs_scrubbed,
            r.tokens_in,
            r.tokens_scrubbed,
            r.tokens_out,
            r.token_retention,
        )
        for r in pipeline_exactsubstr_corpus(spark, SF).collect()
    }
    assert got == exp
    assert any(v[3] > 0 for v in got.values())


def test_streaming_exactsubstr_apply_matches_batch(spark):
    """The intake APPLY twin must reproduce the registered
    pipeline_exactsubstr_apply rows verbatim: same fitted candidate
    artifact, same span set (exists-membership over the shared span
    array equals the batch plan's merged cut list token-for-token),
    same digest of the retained stream."""
    from duckdb_gsheets_spark.operators.dedup import (
        pipeline_exactsubstr_apply,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_exactsubstr_apply,
    )

    got = sorted(
        (r.doc_id, r.n_tokens_in, r.tokens_removed, r.n_tokens_out,
         r.scrubbed_digest)
        for r in streaming_exactsubstr_apply(spark, SF).collect()
    )
    exp = sorted(
        (r.doc_id, r.n_tokens_in, r.tokens_removed, r.n_tokens_out,
         r.scrubbed_digest)
        for r in pipeline_exactsubstr_apply(spark, SF).collect()
    )
    assert got == exp
    assert len(got) > 0


def test_streaming_ann_probe_matches_batch_ivf(spark):
    """The online-retrieval twin must reproduce the registered
    ann_ivf_topk result verbatim: same probes, same candidates from
    the stream-static list join, same round-6 rerank, same
    (−sim, vec_b) ranking — the declarative form of the fused
    kernel, drained over the query stream."""
    from duckdb_gsheets_spark.operators.similarity import ann_ivf_topk
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_ann_probe,
    )

    got = sorted(
        (r.vec_a, r.vec_b, r.cos_sim, r.rank)
        for r in streaming_ann_probe(spark, SF).collect()
    )
    exp = sorted(
        (r.vec_a, r.vec_b, r.cos_sim, r.rank)
        for r in ann_ivf_topk(spark, SF).collect()
    )
    assert got == exp
    assert len(got) == 50  # 10 queries × k


def test_streaming_sq8_probe_matches_batch(spark):
    """The SQ8 online-serving twin must reproduce the registered
    ann_sq8_topk result verbatim: same absmax dequantization grid on
    the static side, same round-6 asymmetric scoring, same
    (−sim, vec_b) ranking through the shared sorted-slice top-k."""
    from duckdb_gsheets_spark.operators.similarity import ann_sq8_topk
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_sq8_probe,
    )

    got = sorted(
        (r.vec_a, r.vec_b, r.sq_sim, r.rank)
        for r in streaming_sq8_probe(spark, SF).collect()
    )
    exp = sorted(
        (r.vec_a, r.vec_b, r.sq_sim, r.rank)
        for r in ann_sq8_topk(spark, SF).collect()
    )
    assert got == exp
    assert len(got) == 50  # 10 queries x k


def test_streaming_ivfpq_probe_matches_batch(spark):
    """The IVF-PQ online-serving twin must reproduce the registered
    ann_ivfpq_topk result verbatim: the checkpointed code index is
    built with the kernel's exact coarse-assign + encode math, the
    ADC udf replays the per-subspace LUT einsum in the same order,
    and candidates are restricted to probed lists by the
    stream-static list_id join."""
    from duckdb_gsheets_spark.operators.similarity import ann_ivfpq_topk
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_ivfpq_probe,
    )

    got = sorted(
        (r.vec_a, r.vec_b, r.adc_sim, r.rank)
        for r in streaming_ivfpq_probe(spark, SF).collect()
    )
    exp = sorted(
        (r.vec_a, r.vec_b, r.adc_sim, r.rank)
        for r in ann_ivfpq_topk(spark, SF).collect()
    )
    assert got == exp
    assert len(got) == 50


def test_streaming_bloom_gate_matches_batch_audit(spark):
    """The live intake gate must reproduce the batch audit's screen
    columns exactly: same artifact (fit through the one shared
    builder), same per-doc verdicts, same per-source counts."""
    from duckdb_gsheets_spark.operators.chunking import contamination_bloom
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_bloom_gate,
    )

    got = {
        r.source: (r.n_docs_screened, r.n_bloom_flagged)
        for r in streaming_bloom_gate(spark, SF).collect()
    }
    exp = {
        r.source: (r.n_docs_screened, r.n_bloom_flagged)
        for r in contamination_bloom(spark, SF).collect()
    }
    assert got == exp
    assert sum(v[1] for v in got.values()) > 0  # gate is not degenerate


def test_cdc_merge_mixed_flat_and_dir_layouts_order_by_set_number(
    spark, tmp_path
):
    """A feed migrating between layouts at equal mtime: a change-set
    DIRECTORY (change_9/data-001.parquet, set number in the parent)
    followed by a FLAT file (change_10.parquet, set number in the
    leaf) must order by SET number — the flat leaf number promotes
    into the set component, so (10,10) outranks (9,1); before this
    fix the flat file read (-1, 10) and the OLDER change_9 won."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.streaming.events_stream import (
        cdc_merge_apply,
        with_cdc_lineage,
    )

    work = str(tmp_path / "cdc_mixed")
    table0 = os.path.join(work, "table", "v0")
    spark.createDataFrame(
        [(1, "base one", "en", "seed")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(table0)

    src = os.path.join(work, "src")
    same = time.time() - 60
    # Set 9: directory layout with a numbered data file.
    d9 = os.path.join(src, "change_9")
    spark.createDataFrame(
        [(1, "z-first change", "en", "cdc0")],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(d9)
    for f in list(os.listdir(d9)):
        p = os.path.join(d9, f)
        if f.endswith(".parquet"):
            p2 = os.path.join(d9, "data-001.parquet")
            os.rename(p, p2)
            p = p2
        os.utime(p, (same, same))
    # Set 10: flat layout — the parquet file itself is the change set.
    tmp10 = os.path.join(work, "tmp10")
    spark.createDataFrame(
        [(1, "a-second change", "en", "cdc1")],
        "doc_id long, text string, lang string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(tmp10)
    part = next(f for f in os.listdir(tmp10) if f.endswith(".parquet"))
    flat = os.path.join(src, "change_10.parquet")
    shutil.move(os.path.join(tmp10, part), flat)
    os.utime(flat, (same, same))

    state = {"cur": table0, "version": 0}
    q = (
        with_cdc_lineage(
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string"
            ).parquet(os.path.join(src, "*"))
        )
        .writeStream.foreachBatch(cdc_merge_apply(spark, state))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    final = spark.read.parquet(state["cur"])
    assert final.count() == 1
    row = final.collect()[0]
    assert (row.text, row.source) == ("a-second change", "cdc1")


def test_streaming_doremi_gate_matches_batch(spark):
    """streaming_doremi_gate's per-language ledger must equal the
    batch application of the same fitted gate to the same corpus
    (deterministic md5 hash-Bernoulli — nothing to drift), and the
    gate's semantics must hold: a domain whose epoch multiplier is
    >= 1 (under-represented vs its mixture weight) keeps EVERYTHING,
    while any down-sampled domain keeps a strict, nonzero subset."""
    import pyspark.sql.functions as F

    from duckdb_gsheets_spark.plans.catalog import load_table
    from duckdb_gsheets_spark.streaming.events_stream import (
        doremi_row_gate,
        streaming_doremi_gate,
    )

    got = {
        r.lang: (r.n_seen, r.n_kept, r.tokens_seen, r.tokens_kept)
        for r in streaming_doremi_gate(spark, SF).collect()
    }
    gate = doremi_row_gate(spark, SF)
    batch = {
        r.lang: (r.n_seen, r.n_kept, r.tokens_seen, r.tokens_kept)
        for r in gate(load_table(spark, SF, "documents"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(F.col("n_tokens").cast("long")).alias("tokens_seen"),
            F.sum(
                F.when(
                    F.col("kept"), F.col("n_tokens").cast("long")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("tokens_kept"),
        )
        .collect()
    }
    assert got == batch
    assert len(got) > 1

    # the gate consumes the round-T mixture of the full EG loop
    from duckdb_gsheets_spark.operators.pipeline import (
        pipeline_doremi_iterative,
    )

    eps = {
        r.lang: r.epochs_micro
        for r in pipeline_doremi_iterative(spark, SF).collect()
    }
    full_keep = [l for l, e in eps.items() if e >= 1_000_000]
    down = [l for l, e in eps.items() if e < 1_000_000]
    assert full_keep and down  # the fixture has both regimes
    for lang in full_keep:
        assert got[lang][1] == got[lang][0]
    for lang in down:
        assert 0 < got[lang][1] < got[lang][0]


def test_streaming_phash_gate_matches_batch(spark):
    """streaming_phash_gate (twin #29): the streamed delta's
    perceptual near-dup ledger must equal the batch application of
    the same gate core to the same delta slice, the per-row HOF
    signature must be bit-identical to the batch signature builder
    (formulation equivalence), and the fixture must actually flag a
    perceptual match within threshold."""
    import pyspark.sql.functions as F

    from duckdb_gsheets_spark.operators.dedup import DELTA_SOURCE
    from duckdb_gsheets_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        media_from_docs,
        media_table,
        phash_row_signatures,
        phash_signatures,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table
    from duckdb_gsheets_spark.streaming.events_stream import (
        phash_gate_ledger,
        streaming_phash_gate,
    )

    got = {
        r.doc_id: (r.format, r.n_matches, r.min_hamming)
        for r in streaming_phash_gate(spark, SF).collect()
    }
    delta = load_table(spark, SF, "documents").where(
        F.col("source") == DELTA_SOURCE
    )
    batch = {
        r.doc_id: (r.format, r.n_matches, r.min_hamming)
        for r in phash_gate_ledger(
            spark, SF, media_from_docs(delta)
        ).collect()
    }
    assert got == batch
    assert got  # the fixture's delta contains a perceptual near-dup
    assert all(v[2] <= PHASH_MAX_HAMMING for v in got.values())

    # formulation equivalence: the production builder (per-row HOF
    # since round 14), the streaming per-row signature, and the
    # round-13 posexplode+window reference must all be bit-identical.
    from duckdb_gsheets_spark.operators.multimodal import (
        _phash_sigs_explode_reference,
    )

    b = {
        r.doc_id: (r.format, r.sig)
        for r in phash_signatures(spark, SF).collect()
    }
    rw = {
        r.doc_id: (r.format, r.sig)
        for r in phash_row_signatures(media_table(spark, SF)).collect()
    }
    ref = {
        r.doc_id: (r.format, r.sig)
        for r in _phash_sigs_explode_reference(
            media_table(spark, SF)
        ).collect()
    }
    assert b == rw
    assert b == ref


def test_doremi_gate_unseen_lang_keeps_all(spark):
    """A domain ABSENT from the fitted mixture must get a DEFINED
    keep-all verdict — epochs_micro exactly 1.0 epochs and kept=True
    — never a NULL epochs whose NULL verdict a downstream WHERE kept
    would silently discard without hitting any drop tally."""
    from duckdb_gsheets_spark.streaming.events_stream import (
        doremi_row_gate,
    )

    gate = doremi_row_gate(spark, SF)
    docs = spark.createDataFrame(
        [
            (
                "unseen-dom-doc-1",
                "zz-never-fitted",
                "src_test",
                "some tokens that were never in the fitted corpus",
            )
        ],
        "doc_id string, lang string, source string, text string",
    )
    rows = gate(docs).collect()
    assert len(rows) == 1
    assert rows[0].epochs_micro == 1_000_000
    assert rows[0].kept is True


def test_streaming_quality_survivor_gate_matches_batch(spark):
    """Twin #30 batch equality: the streaming per-source survivor
    ledger must equal the shared rollup applied to the static delta
    slice, and the fixture must be non-degenerate — some arrivals
    kept (new fingerprints and/or incumbent-beating wins), the
    kept split exactly n_new_fp + n_wins."""
    import pyspark.sql.functions as F

    from duckdb_gsheets_spark.operators.dedup import DELTA_SOURCE
    from duckdb_gsheets_spark.plans.catalog import load_table
    from duckdb_gsheets_spark.streaming.events_stream import (
        quality_survivor_ledger,
        quality_survivor_scorer,
        streaming_quality_survivor_gate,
    )

    got = sorted(
        map(tuple, streaming_quality_survivor_gate(spark, SF).collect())
    )
    gate = quality_survivor_scorer(spark, SF)
    delta = load_table(spark, SF, "documents").where(
        F.col("source") == DELTA_SOURCE
    )
    expected = sorted(
        map(tuple, quality_survivor_ledger(gate(delta)).collect())
    )
    assert got == expected and got
    for row in streaming_quality_survivor_gate(spark, SF).collect():
        assert row.n_kept == row.n_new_fp + row.n_wins
        assert 0 <= row.n_kept <= row.n_docs
    assert sum(r[2] for r in got) > 0  # n_kept somewhere


def test_streaming_classifier_gate_matches_batch(spark):
    """Twin #31 batch equality: the whole corpus streamed through the
    frozen classifier probe must land the EXACT per-source ledger the
    batch pipeline_classifier_gate computes — same scores, same
    Pareto verdicts, same integer means."""
    from duckdb_gsheets_spark.operators.pipeline import (
        pipeline_classifier_gate,
    )
    from duckdb_gsheets_spark.streaming.events_stream import (
        streaming_classifier_gate,
    )

    got = sorted(map(tuple, streaming_classifier_gate(spark, SF).collect()))
    expected = sorted(
        map(tuple, pipeline_classifier_gate(spark, SF).collect())
    )
    assert got == expected and got
    assert sum(r[2] for r in got) > 0  # the Pareto tail keeps some docs


def test_streaming_quality_survivor_checkpoint_resume(spark, tmp_path):
    """Checkpoint-resume for the stateless survivor gate: half the
    delta lands, the verdict stream drains to parquet with a
    checkpoint, the second half lands, the SAME checkpoint resumes —
    only new arrivals append (no re-verdicts), and the final verdict
    set equals the batch gate on the full delta."""
    import pyspark.sql.functions as F

    from duckdb_gsheets_spark.operators.dedup import DELTA_SOURCE
    from duckdb_gsheets_spark.plans.catalog import load_table
    from duckdb_gsheets_spark.streaming.events_stream import (
        quality_survivor_scorer,
    )

    delta = load_table(spark, SF, "documents").where(
        F.col("source") == DELTA_SOURCE
    )
    ids = sorted(r.doc_id for r in delta.select("doc_id").collect())
    assert len(ids) >= 2
    cut = ids[len(ids) // 2]
    src = str(tmp_path / "delta_src")
    half1 = delta.where(delta.doc_id <= cut)
    half2 = delta.where(delta.doc_id > cut)
    half1.write.parquet(src)

    gate = quality_survivor_scorer(spark, SF)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "verdicts")

    def run_once():
        stream = spark.readStream.schema(delta.schema).parquet(src)
        q = (
            gate(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "availableNow drain timed out"
        return spark.read.parquet(out)

    n1 = half1.where(half1.text.isNotNull()).count()
    n_all = delta.where(delta.text.isNotNull()).count()
    first = run_once()
    assert first.count() == n1

    half2.write.mode("append").parquet(src)
    second = run_once()
    assert second.count() == n_all
    assert second.select("doc_id").distinct().count() == n_all

    got = {r.doc_id: (r.kept, r.qm) for r in second.collect()}
    expected = {r.doc_id: (r.kept, r.qm) for r in gate(delta).collect()}
    assert got == expected
