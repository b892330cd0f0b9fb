"""End-to-end writes through df.write.format("gsheets") against the
fake server — mirrors test/sql/copy_to*.test including the
overwrite/append matrix and the header-once multi-batch invariant."""

import pytest

from duckdb_gsheets_spark.sources.gsheets import read_gsheet, write_gsheet


def opts(server):
    return {"token": "test-token", "api_base": server.base_url}


@pytest.fixture()
def spreadsheets_df(spark):
    """FIXTURES.md F9 write round-trip table."""
    return spark.createDataFrame(
        [
            ("Microsoft", "Excel", 1985),
            ("Google", "Google Sheets", 2006),
            ("Apple", "Numbers", 1984),
            ("LibreOffice", "Calc", 2000),
        ],
        ["company", "product", "year_founded"],
    )


def _fresh(sheets_server, name: str):
    store = sheets_server.new_spreadsheet(name)
    store.add_sheet("Sheet1", [])
    return name, store


def test_write_and_readback(spark, sheets_server, spreadsheets_df):
    sid, store = _fresh(sheets_server, "write-basic")
    write_gsheet(spreadsheets_df.coalesce(1), sid, **opts(sheets_server))
    grid = store.grids["Sheet1"]
    assert grid[0] == ["company", "product", "year_founded"]
    assert len(grid) == 5
    # Readback collapses year to DOUBLE (types.test semantics).
    df = read_gsheet(spark, sid, **opts(sheets_server))
    row = {r.company: r.year_founded for r in df.collect()}
    assert row["Microsoft"] == 1985.0


def test_overwrite_sheet_wipes_previous(spark, sheets_server, spreadsheets_df):
    sid, store = _fresh(sheets_server, "write-overwrite")
    store.grids["Sheet1"] = [["old", "junk"], ["1", "2"]]
    write_gsheet(spreadsheets_df.coalesce(1), sid, **opts(sheets_server))
    grid = store.grids["Sheet1"]
    assert grid[0] == ["company", "product", "year_founded"]
    assert not any("old" in row for row in grid)


def test_append_mode_no_header(spark, sheets_server, spreadsheets_df):
    """overwrite_sheet=false, overwrite_range=false → pure append,
    header defaults false (copy_to_range_flags.test / docs 158-167)."""
    sid, store = _fresh(sheets_server, "write-append")
    write_gsheet(spreadsheets_df.coalesce(1), sid, **opts(sheets_server))
    n_before = len(store.grids["Sheet1"])
    write_gsheet(
        spreadsheets_df.coalesce(1),
        sid,
        mode="append",
        **opts(sheets_server),
    )
    grid = store.grids["Sheet1"]
    assert len(grid) == n_before + 4  # no second header
    assert sum(1 for row in grid if row and row[0] == "company") == 1


def test_overwrite_range_preserves_outside_cells(spark, sheets_server, spreadsheets_df):
    """F12 overwrite_canvas: ranged overwrite must not disturb
    sentinels outside the range (copy_to_range_flags.test:59-69)."""
    sid, store = _fresh(sheets_server, "write-range")
    grid = [[""] * 10 for _ in range(20)]
    grid[1][0] = "leave this cell alone"
    grid[13][7] = "More leaving alone"
    store.grids["Sheet1"] = grid
    write_gsheet(
        spreadsheets_df.coalesce(1),
        sid,
        range="C6:E10",
        overwrite_range=True,
        **opts(sheets_server),
    )
    g = store.grids["Sheet1"]
    assert g[1][0] == "leave this cell alone"
    assert g[13][7] == "More leaving alone"
    assert g[5][2] == "company"  # header at anchor C6
    assert g[6][2] == "Microsoft"


def test_ranged_write_single_anchor(spark, sheets_server, spreadsheets_df):
    """copy_to.test: single-cell anchor C6 places the table there."""
    sid, store = _fresh(sheets_server, "write-anchor")
    write_gsheet(
        spreadsheets_df.coalesce(1),
        sid,
        range="C6",
        overwrite_range=True,
        **opts(sheets_server),
    )
    g = store.grids["Sheet1"]
    assert g[5][2] == "company"
    assert g[6][2] == "Microsoft"


def test_header_once_across_batches(spark, sheets_server):
    """copy_multiple_vectors.test: 10,000 rows → ⌈n/2048⌉ appends but
    exactly one header row; all rows round-trip."""
    sid, store = _fresh(sheets_server, "write-10k")
    df = spark.range(10000).selectExpr("CAST(id AS INT) AS i").coalesce(1)
    sheets_server.request_log.clear()
    write_gsheet(df, sid, **opts(sheets_server))
    grid = store.grids["Sheet1"]
    assert grid[0] == ["i"]
    assert len(grid) == 10001
    assert sum(1 for row in grid if row == ["i"]) == 1
    appends = [p for m, p in sheets_server.request_log if p.endswith(":append")]
    # 1 header append + ceil(10000/2048)=5 data appends
    assert len(appends) == 6
    # Order preserved end-to-end (single partition).
    assert [row[0] for row in grid[1:6]] == ["0", "1", "2", "3", "4"]
    readback = read_gsheet(spark, sid, **opts(sheets_server))
    assert readback.count() == 10000


def test_create_if_not_exists(spark, sheets_server, spreadsheets_df):
    sid, store = _fresh(sheets_server, "write-create")
    write_gsheet(
        spreadsheets_df.coalesce(1),
        sid,
        sheet="Fresh",
        create_if_not_exists=True,
        **opts(sheets_server),
    )
    assert "Fresh" in store.grids
    assert store.grids["Fresh"][0] == ["company", "product", "year_founded"]


def test_create_if_not_exists_requires_sheet(spark, sheets_server, spreadsheets_df):
    sid, _ = _fresh(sheets_server, "write-create-noname")
    with pytest.raises(Exception, match="requires an explicit 'sheet'"):
        write_gsheet(
            spreadsheets_df.coalesce(1),
            sid,
            create_if_not_exists=True,
            **opts(sheets_server),
        )


def test_missing_sheet_without_create_raises(spark, sheets_server, spreadsheets_df):
    sid, _ = _fresh(sheets_server, "write-missing-sheet")
    with pytest.raises(Exception, match="[Nn]ot found"):
        write_gsheet(
            spreadsheets_df.coalesce(1),
            sid,
            sheet="Nope",
            **opts(sheets_server),
        )


def test_param_beats_url_gid(spark, sheets_server, spreadsheets_df):
    """copy_to_range_flags.test:115-149: explicit sheet option beats
    the URL's gid."""
    sid = "write-precedence"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", [])
    second = store.add_sheet("Second", [])
    url = f"https://docs.google.com/spreadsheets/d/{sid}/edit?gid={second['sheetId']}"
    write_gsheet(
        spreadsheets_df.coalesce(1), url, sheet="Sheet1", **opts(sheets_server)
    )
    assert store.grids["Sheet1"]
    assert not store.grids["Second"]


@pytest.mark.parametrize("tab", ["out", "Q1"])
def test_write_then_read_tab_named_like_a1_ref(
    spark, sheets_server, spreadsheets_df, tab
):
    """A tab whose name also reads as A1 notation (column OUT, cell Q1)
    is a plain tab name for the writer, as it is for the reader: the
    header lands in column A of that tab, not in a range on it, and
    the other tabs stay untouched."""
    sid = f"write-a1-name-{tab}"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", [["keep"]])
    store.add_sheet(tab, [])
    write_gsheet(spreadsheets_df.coalesce(1), sid, sheet=tab, **opts(sheets_server))
    assert store.grids[tab][0] == ["company", "product", "year_founded"]
    assert len(store.grids[tab]) == 5
    assert store.grids["Sheet1"] == [["keep"]]
    df = read_gsheet(spark, sid, sheet=tab, **opts(sheets_server))
    assert sorted((r.company, r.year_founded) for r in df.collect()) == [
        ("Apple", 1984.0),
        ("Google", 2006.0),
        ("LibreOffice", 2000.0),
        ("Microsoft", 1985.0),
    ]


def test_null_cells_written_empty(spark, sheets_server):
    """NULL → '' on write (src/gsheets_copy.cpp:163-175)."""
    sid, store = _fresh(sheets_server, "write-nulls")
    df = spark.createDataFrame([("a", None), (None, 2.5)], ["x", "y"])
    write_gsheet(df.coalesce(1), sid, **opts(sheets_server))
    grid = store.grids["Sheet1"]
    assert ["a", ""] in grid
    assert ["", "2.5"] in grid


def test_default_write_preserves_order_without_caller_coalesce(
    spark, sheets_server
):
    """write_gsheet defaults to one ordered append stream — a
    multi-partition frame lands in row order with no caller-side
    coalesce (reference appends are strictly ordered)."""
    sid, store = _fresh(sheets_server, "write-ordered")
    df = spark.range(100).selectExpr("id AS n").repartition(8)
    write_gsheet(df.orderBy("n"), sid, **opts(sheets_server))
    grid = store.grids["Sheet1"]
    assert grid[0] == ["n"]
    assert [row[0] for row in grid[1:]] == [str(i) for i in range(100)]


def test_parallel_write_lands_all_rows(spark, sheets_server):
    """An 8-partition frame written by parallel tasks lands every row
    exactly once, under one header."""
    sid, store = _fresh(sheets_server, "write-parallel")
    df = spark.range(100).selectExpr("id AS n").repartition(8)
    write_gsheet(df, sid, **opts(sheets_server))
    grid = store.grids["Sheet1"]
    body = sorted(int(row[0]) for row in grid[1:])
    assert body == list(range(100))
    assert grid[0] == ["n"]


def test_task_retry_cannot_double_append(spark, sheets_server, spreadsheets_df):
    """write() does no IO — a retried/speculative task attempt produces
    a duplicate commit message that Spark discards, and only commit()
    appends. Simulate a retry by calling write() twice and committing
    one message: rows must land exactly once."""
    from duckdb_gsheets_spark.sources.gsheets.datasource import GSheetsWriter

    sid, store = _fresh(sheets_server, "write-retry")
    options = {"path": sid, **opts(sheets_server)}
    writer = GSheetsWriter(options, spreadsheets_df.schema, overwrite=True)
    data = [("Microsoft", "Excel", 1985), ("Google", "Google Sheets", 2006)]
    first = writer.write(iter(data))
    second = writer.write(iter(data))  # the "retry" attempt
    assert first.rows == second.rows
    before = len(sheets_server.request_log)
    writer.commit([first])  # Spark delivers one message per partition
    appends = [
        p
        for m, p in sheets_server.request_log[before:]
        if m == "POST" and ":append" in p
    ]
    assert len(appends) == 1
    grid = store.grids["Sheet1"]
    assert grid[-2:] == [
        ["Microsoft", "Excel", "1985"],
        ["Google", "Google Sheets", "2006"],
    ]


def test_commit_appends_in_partition_order(spark, sheets_server, spreadsheets_df):
    """Commit messages are applied sorted by partition id, so sheet row
    order is deterministic even when tasks finish out of order."""
    from duckdb_gsheets_spark.sources.gsheets.datasource import (
        AppendResult,
        GSheetsWriter,
    )

    sid, store = _fresh(sheets_server, "write-commit-order")
    options = {"path": sid, **opts(sheets_server)}
    writer = GSheetsWriter(options, spreadsheets_df.schema, overwrite=True)
    writer.commit(
        [
            AppendResult(1, [["late", "x", "1"]]),
            None,  # a partition may report nothing
            AppendResult(0, [["early", "y", "0"]]),
        ]
    )
    grid = store.grids["Sheet1"]
    assert grid[-2:] == [["early", "y", "0"], ["late", "x", "1"]]


def test_streaming_sink_matches_batch_write(spark, sheets_server, tmp_path):
    """write_gsheet_stream must land the same grid a batch write_gsheet
    of the same rows produces: header once (batch 0), every micro-batch
    appended in order, no re-clearing between batches."""
    import pyspark.sql.functions as F

    from duckdb_gsheets_spark.sources.gsheets import write_gsheet_stream

    src = tmp_path / "stream_src"
    src.mkdir()
    rows1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], ["id", "name"]
    )
    rows1.coalesce(1).write.mode("overwrite").parquet(str(src / "p1"))

    sid, store = _fresh(sheets_server, "stream-sink")
    stream = (
        spark.readStream.schema("id long, name string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    write_gsheet_stream(
        stream.select("id", "name"),
        sid,
        checkpoint_dir=str(tmp_path / "ckpt"),
        **opts(sheets_server),
    )
    grid = store.grids["Sheet1"]
    assert grid[0] == ["id", "name"]
    assert sorted(grid[1:]) == [["1", "alpha"], ["2", "beta"]]

    # A second drain with NEW files appends without clearing: the
    # checkpoint remembers batch 0 already ran, so the header is not
    # rewritten and existing rows survive.
    rows2 = spark.createDataFrame([(3, "gamma")], ["id", "name"])
    rows2.coalesce(1).write.mode("overwrite").parquet(str(src / "p2"))
    stream2 = (
        spark.readStream.schema("id long, name string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    write_gsheet_stream(
        stream2.select("id", "name"),
        sid,
        checkpoint_dir=str(tmp_path / "ckpt"),
        **opts(sheets_server),
    )
    grid = store.grids["Sheet1"]
    assert grid[0] == ["id", "name"]
    assert sorted(grid[1:]) == [
        ["1", "alpha"],
        ["2", "beta"],
        ["3", "gamma"],
    ]
    assert sum(1 for row in grid if row == ["id", "name"]) == 1


def test_streaming_sink_overwrite_range(spark, sheets_server, tmp_path):
    """Streaming twin of copy_to_range_flags.test:59-69: batch 0
    clears ONLY the target range (sentinels outside survive), the
    header lands once at the range anchor, and every later micro-batch
    appends below WITHOUT re-running the ranged clear — a second
    batch must never wipe the first batch's rows."""
    from duckdb_gsheets_spark.sources.gsheets import write_gsheet_stream

    src = tmp_path / "range_stream_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha")], ["id", "name"]
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "p1"))
    spark.createDataFrame(
        [(2, "beta")], ["id", "name"]
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "p2"))

    sid, store = _fresh(sheets_server, "stream-range")
    grid = [[""] * 10 for _ in range(20)]
    grid[1][0] = "leave this cell alone"
    grid[13][7] = "More leaving alone"
    grid[6][2] = "stale-inside-range"  # must be cleared by batch 0
    store.grids["Sheet1"] = grid

    stream = (
        spark.readStream.schema("id long, name string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    write_gsheet_stream(
        stream.select("id", "name"),
        sid,
        checkpoint_dir=str(tmp_path / "ckpt_range"),
        range="C6:D10",
        overwrite_range=True,
        **opts(sheets_server),
    )
    g = store.grids["Sheet1"]
    # outside-range sentinels intact; stale in-range cell gone
    assert g[1][0] == "leave this cell alone"
    assert g[13][7] == "More leaving alone"
    assert "stale-inside-range" not in [row[2] for row in g if len(row) > 2]
    # header once at the C6 anchor, both micro-batches' rows below it
    assert g[5][2:4] == ["id", "name"]
    body = sorted(row[2:4] for row in g[6:] if len(row) > 3 and row[2])
    assert body == [["1", "alpha"], ["2", "beta"]]
    header_count = sum(
        1 for row in g if len(row) > 3 and row[2:4] == ["id", "name"]
    )
    assert header_count == 1
