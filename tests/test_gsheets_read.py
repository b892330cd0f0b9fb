"""End-to-end reads through spark.read.format("gsheets") against the
fake Sheets server — mirrors test/sql/read_gsheet.test case by case."""

import pytest

from duckdb_gsheets_spark.sources.gsheets import read_gsheet
from duckdb_gsheets_spark.sources.gsheets.api import register
from duckdb_gsheets_spark.sources.gsheets.errors import SheetsParseError


def url_for(sid: str) -> str:
    return f"https://docs.google.com/spreadsheets/d/{sid}/edit"


def opts(server):
    return {"token": "test-token", "api_base": server.base_url}


def test_basic_read_with_types(spark, sheets_server, people_sheet):
    sid, _ = people_sheet
    df = read_gsheet(spark, sid, **opts(sheets_server))
    assert [f.name for f in df.schema.fields] == ["name", "age", "city"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string",
        "double",
        "string",
    ]
    rows = df.collect()
    assert len(rows) == 6
    assert rows[0].asDict() == {"name": "Alice", "age": 30.0, "city": "Toronto"}
    # issue-47 ragged row and fully blank row → NULL padding
    assert rows[3].asDict() == {"name": "Drake", "age": None, "city": None}
    assert rows[4].asDict() == {"name": None, "age": None, "city": None}
    assert rows[5].asDict() == {"name": "Archie", "age": 99.0, "city": None}


def test_read_by_full_url(spark, sheets_server, people_sheet):
    sid, _ = people_sheet
    df = read_gsheet(spark, url_for(sid), **opts(sheets_server))
    assert df.count() == 6


def test_catalyst_filter_over_scan(spark, sheets_server, people_sheet):
    """The SURVEY §7 'minimum end-to-end slice': Catalyst supplies
    filter+projection above the connector scan."""
    sid, _ = people_sheet
    df = read_gsheet(spark, sid, **opts(sheets_server))
    names = [r.name for r in df.filter(df.age > 28).select("name").collect()]
    assert sorted(names) == ["Alice", "Archie", "Charlie"]


def test_header_false(spark, sheets_server, people_sheet):
    sid, _ = people_sheet
    df = read_gsheet(spark, sid, header=False, **opts(sheets_server))
    assert [f.name for f in df.schema.fields] == ["column1", "column2", "column3"]
    assert df.count() == 7  # header row becomes data


def test_all_varchar(spark, sheets_server, people_sheet):
    sid, _ = people_sheet
    df = read_gsheet(spark, sid, all_varchar=True, **opts(sheets_server))
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 3
    assert df.collect()[0].age == "30"


def test_range_read(spark, sheets_server, people_sheet):
    """read_gsheet.test:63-131 range reads: A2:B7 (no header row)."""
    sid, _ = people_sheet
    df = read_gsheet(
        spark, sid, range="A2:B7", header=False, **opts(sheets_server)
    )
    assert [f.name for f in df.schema.fields] == ["column1", "column2"]
    assert df.count() == 6


def test_single_cell_read(spark, sheets_server, people_sheet):
    sid, _ = people_sheet
    df = read_gsheet(spark, sid, range="A2", header=False, **opts(sheets_server))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].column1 == "Alice"


def test_sheet_by_name_and_embedded_range(spark, sheets_server):
    sid = "multi-tab"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", [["x"], ["1"]])
    store.add_sheet("Data", [["a", "b"], ["1", "2"], ["3", "4"]])
    df = read_gsheet(spark, sid, sheet="Data", **opts(sheets_server))
    assert df.count() == 2
    # A1 embedded in the sheet param (src/gsheets_read.cpp:127-157).
    df2 = read_gsheet(
        spark, sid, sheet="Data!A1:B2", **opts(sheets_server)
    )
    assert df2.count() == 1


def test_sheet_by_gid_in_url(spark, sheets_server):
    sid = "gid-select"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", [["x"], ["1"]])
    second = store.add_sheet("Second", [["y"], ["2"], ["3"]])
    url = f"https://docs.google.com/spreadsheets/d/{sid}/edit?gid={second['sheetId']}"
    df = read_gsheet(spark, url, **opts(sheets_server))
    assert [f.name for f in df.schema.fields] == ["y"]
    assert df.count() == 2


def test_range_param_in_url(spark, sheets_server, people_sheet):
    sid, _ = people_sheet
    url = f"https://docs.google.com/spreadsheets/d/{sid}/edit?range=B1%3AC7"
    df = read_gsheet(spark, url, **opts(sheets_server))
    assert [f.name for f in df.schema.fields] == ["age", "city"]


def test_missing_sheet_raises(spark, sheets_server, people_sheet):
    sid, _ = people_sheet
    with pytest.raises(Exception, match="[Nn]ot found"):
        read_gsheet(spark, sid, sheet="DoesNotExist", **opts(sheets_server))


def test_header_only_sheet(spark, sheets_server):
    """read_gsheet.test:176-178: header-only → 0 rows, VARCHAR schema."""
    sid = "header-only"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", [["id", "name"]])
    df = read_gsheet(spark, sid, **opts(sheets_server))
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    assert df.count() == 0


def test_empty_sheet_raises(spark, sheets_server):
    """read_gsheet.test:181-184: empty sheet → 'Range ... is empty'."""
    sid = "empty-sheet"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", [])
    with pytest.raises(Exception, match="is empty"):
        read_gsheet(spark, sid, **opts(sheets_server))


def test_no_credentials_raises(spark, sheets_server, people_sheet, monkeypatch):
    monkeypatch.delenv("GSHEETS_TOKEN", raising=False)
    monkeypatch.delenv("GOOGLE_APPLICATION_CREDENTIALS", raising=False)
    sid, _ = people_sheet
    register(spark)
    with pytest.raises(Exception, match="credentials"):
        spark.read.format("gsheets").option(
            "api_base", sheets_server.base_url
        ).load(sid).collect()


def test_http_call_count_matches_reference(spark, sheets_server):
    """BASELINE.md connector micro-contract: 1 values GET + ≤1 metadata
    GET per read (src/gsheets_read.cpp:153,165,169,187)."""
    sid = "call-count"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", [["a"], ["1"], ["2"]])
    sheets_server.request_log.clear()
    df = read_gsheet(spark, sid, **opts(sheets_server))
    df.collect()
    gets = [p for m, p in sheets_server.request_log if m == "GET"]
    values_gets = [p for p in gets if "/values/" in p]
    meta_gets = [p for p in gets if "/values/" not in p]
    assert len(values_gets) == 1
    assert len(meta_gets) <= 1


def test_arrow_partitions_carry_only_their_own_rows():
    """Each ArrowBlock holds one record batch of at most ARROW_BATCH_ROWS
    rows that owns its own buffers, the blocks together are the table,
    and the reader object pickled with every task is near-empty after
    partitions() — a task must never deserialize the whole grid."""
    import pickle

    import pyarrow as pa

    from duckdb_gsheets_spark.sources.gsheets.datasource import (
        ARROW_BATCH_ROWS,
        GSheetsReader,
    )

    n = 3 * ARROW_BATCH_ROWS + 5
    table = pa.table(
        {"n": pa.array([float(i) for i in range(n)]), "s": ["x" * 100] * n}
    )
    whole = len(pickle.dumps(table))
    reader = GSheetsReader(table)
    blocks = reader.partitions()
    assert [b.batch.num_rows for b in blocks] == [ARROW_BATCH_ROWS] * 3 + [5]
    assert pa.Table.from_batches([b.batch for b in blocks]).equals(table)
    # A block's payload follows its own row count, not the table's (a
    # bare slice would pickle the parent's full buffers).
    for b in blocks:
        assert len(pickle.dumps(b)) < whole * b.batch.num_rows / n + 4096
    # The reader itself ships slim: far smaller than one block.
    assert len(pickle.dumps(reader)) < len(pickle.dumps(blocks[0])) / 100
    assert list(reader.read(blocks[3])) == [blocks[3].batch]


def test_data_source_hands_its_table_to_the_reader():
    """Spark pickles the data source instance into every read task's
    command, so after reader() it must no longer hold the bound table."""
    import pickle

    import pyarrow as pa

    from duckdb_gsheets_spark.sources.gsheets.datasource import GSheetsDataSource
    from duckdb_gsheets_spark.sources.gsheets.inference import SheetSchema

    table = pa.table({"s": ["x" * 100] * 10_000})
    source = GSheetsDataSource({})
    source._cached = (SheetSchema(("s",), ("string",)), table)
    reader = source.reader(source.schema())
    assert len(pickle.dumps(source)) < 10_000
    assert pa.Table.from_batches([b.batch for b in reader.partitions()]).equals(table)


def test_read_gsheet_leaves_session_conf_as_it_was(spark, sheets_server, people_sheet):
    """read_gsheet lowers the LocalRelation threshold for its own
    createDataFrame call only."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    sid, _ = people_sheet
    read_gsheet(spark, sid, **opts(sheets_server))
    assert spark.conf.get(key, None) is None
    spark.conf.set(key, "1MB")
    try:
        read_gsheet(spark, sid, **opts(sheets_server))
        assert spark.conf.get(key, None) == "1MB"
    finally:
        spark.conf.unset(key)


def _entry_point_reads(spark, server, sid, options):
    """One sheet read through each read surface: read_gsheet,
    spark.read.format("gsheets"), a USING gsheets temp view and
    sheets_sql. Returns {surface: (schema, rows)}."""
    from duckdb_gsheets_spark.sources.gsheets import sheets_sql

    register(spark)
    creds = opts(server)
    frames = {"read_gsheet": read_gsheet(spark, sid, **creds, **options)}
    reader = spark.read.format("gsheets")
    for key, value in {**creds, **options}.items():
        reader = reader.option(key, value)
    frames["format"] = reader.load(sid)
    view = f"entry_points_{sid.replace('-', '_')}"
    sql_opts = "".join(
        f", {key} '{str(value).lower() if isinstance(value, bool) else value}'"
        for key, value in options.items()
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view} USING gsheets OPTIONS ("
        f"path '{url_for(sid)}', token 'test-token', "
        f"api_base '{server.base_url}'{sql_opts})"
    )
    frames["using_view"] = spark.table(view)
    frames["sheets_sql"] = sheets_sql(
        spark, f"SELECT * FROM '{url_for(sid)}'", **creds, **options
    )
    return {
        name: (df.schema, [tuple(r) for r in df.collect()])
        for name, df in frames.items()
    }


@pytest.mark.parametrize(
    "grid, options, n_rows",
    [
        pytest.param(None, {}, 6, id="people"),
        pytest.param(None, {"Header": False}, 7, id="header_false"),
        pytest.param(None, {"ALL_VARCHAR": True}, 6, id="all_varchar"),
        pytest.param([["id", "name"]], {"header": "true"}, 0, id="header_only"),
    ],
)
def test_read_entry_points_agree(
    spark, sheets_server, people_sheet, grid, options, n_rows
):
    """Every read surface binds the same way and returns the same schema
    and rows, whether options come as bool kwargs or strings and
    whatever the case of their keys."""
    sid, store = people_sheet
    if grid is not None:
        store.grids["Sheet1"] = grid
    got = _entry_point_reads(spark, sheets_server, sid, options)
    schema, rows = got["read_gsheet"]
    assert len(rows) == n_rows
    for name, result in got.items():
        assert result == (schema, rows), name
    if grid is not None:
        assert [f.dataType.simpleString() for f in schema.fields] == ["string"] * 2


def test_sheets_catalog_lists_tabs_and_reads_each_way(
    spark, sheets_server
):
    """Spreadsheet-as-catalog (C6/C7 surfaced as a helper): sheets()
    lists every tab of a spreadsheet as (gid, title, sheet_index,
    sheet_type) rows, and each listed tab is readable as a table by
    NAME (sheet option), by POSITION (sheet_index), and by GID (URL
    ?gid= param) — the DuckDB-side workflow a spreadsheets.get user
    runs, end to end against the fake server."""
    from duckdb_gsheets_spark.sources.gsheets import read_gsheet, sheets

    store = sheets_server.new_spreadsheet("catalog-book")
    store.add_sheet("People", [["name"], ["Alice"], ["Bob"]])
    store.add_sheet("Cities", [["city"], ["Toronto"]])
    store.add_sheet("Empty headerless", [["x"], ["1"]])

    tabs = sheets(
        spark, url_for("catalog-book"), **opts(sheets_server)
    ).collect()
    assert [(t.title, t.sheet_index) for t in tabs] == [
        ("People", 0),
        ("Cities", 1),
        ("Empty headerless", 2),
    ]
    assert len({t.gid for t in tabs}) == 3

    # by NAME
    by_name = read_gsheet(
        spark, url_for("catalog-book"), sheet="Cities", **opts(sheets_server)
    )
    assert [r.city for r in by_name.collect()] == ["Toronto"]
    # by POSITION via the catalog row
    idx1 = next(t for t in tabs if t.sheet_index == 1)
    by_pos = read_gsheet(
        spark, url_for("catalog-book"), sheet=idx1.title, **opts(sheets_server)
    )
    assert [r.city for r in by_pos.collect()] == ["Toronto"]
    # by GID in the URL fragment
    gid = next(t.gid for t in tabs if t.title == "People")
    by_gid = read_gsheet(
        spark,
        url_for("catalog-book") + f"?gid={gid}#gid={gid}",
        **opts(sheets_server),
    )
    assert sorted(r.name for r in by_gid.collect()) == ["Alice", "Bob"]


def test_register_sheet_catalog_sql_only_surface(spark, sheets_server):
    """SQL-only catalog surface: register_sheet_catalog() registers
    one global temp view per tab plus a listing view, so tab
    enumeration (SHOW TABLES IN global_temp / SELECT FROM the listing
    view) and tab reads (qualified global_temp identifiers) need no
    further Python. Title sanitization must keep odd tab names
    SQL-addressable and collisions deduplicated."""
    from duckdb_gsheets_spark.sources.gsheets import (
        register_sheet_catalog,
    )

    store = sheets_server.new_spreadsheet("sql-catalog")
    store.add_sheet("People", [["name"], ["Alice"], ["Bob"]])
    store.add_sheet("City Stats!", [["city"], ["Toronto"]])
    store.add_sheet("City-Stats", [["city"], ["Berlin"]])

    listing = register_sheet_catalog(
        spark, url_for("sql-catalog"), name="book", **opts(sheets_server)
    )
    names = [r.view_name for r in listing.collect()]
    assert names == ["book_people", "book_city_stats", "book_city_stats_2"]

    shown = {
        r.tableName
        for r in spark.sql("SHOW TABLES IN global_temp").collect()
    }
    assert {"book", *names} <= shown

    # the listing view IS the catalog table, queryable in plain SQL
    cat = spark.sql(
        "SELECT title, view_name FROM global_temp.book ORDER BY sheet_index"
    ).collect()
    assert [(r.title, r.view_name) for r in cat] == [
        ("People", "book_people"),
        ("City Stats!", "book_city_stats"),
        ("City-Stats", "book_city_stats_2"),
    ]
    # a tab read through its qualified identifier, no Python reader
    assert [
        r.name
        for r in spark.sql(
            "SELECT name FROM global_temp.book_people ORDER BY name"
        ).collect()
    ] == ["Alice", "Bob"]
    assert [
        r.city
        for r in spark.sql(
            "SELECT city FROM global_temp.book_city_stats_2"
        ).collect()
    ] == ["Berlin"]


def test_catalog_helpers_accept_option_keys_in_any_case(spark, sheets_server):
    """sheets() and register_sheet_catalog() read option keys without
    regard to case, as read_gsheet and the Data Source do: TOKEN and
    API_BASE are the token and api_base options."""
    from duckdb_gsheets_spark.sources.gsheets import (
        register_sheet_catalog,
        sheets,
    )

    store = sheets_server.new_spreadsheet("upper-case-options")
    store.add_sheet("People", [["name"], ["Alice"]])
    upper = {"TOKEN": "test-token", "API_BASE": sheets_server.base_url}

    tabs = sheets(spark, url_for("upper-case-options"), **upper).collect()
    assert [t.title for t in tabs] == ["People"]
    listing = register_sheet_catalog(
        spark, url_for("upper-case-options"), name="upper", **upper
    )
    assert [r.view_name for r in listing.collect()] == ["upper_people"]
    assert [
        r.name for r in spark.table("global_temp.upper_people").collect()
    ] == ["Alice"]


def test_only_write_gsheet_registers_the_data_source(
    spark, sheets_server, people_sheet, monkeypatch
):
    """``read_gsheet`` and ``sheets_sql`` bind in the caller, so they
    leave the session's formats alone; ``write_gsheet`` goes through
    ``format("gsheets")`` and registers it once per call."""
    from pyspark.sql.datasource import DataSourceRegistration

    from duckdb_gsheets_spark.sources.gsheets import sheets_sql, write_gsheet

    calls = []
    original = DataSourceRegistration.register

    def recording(self, data_source):
        calls.append(data_source.name())
        return original(self, data_source)

    monkeypatch.setattr(DataSourceRegistration, "register", recording)
    sid, _ = people_sheet
    assert read_gsheet(spark, sid, **opts(sheets_server)).count() == 6
    sql = f"SELECT count(*) AS n FROM '{url_for(sid)}'"
    assert sheets_sql(spark, sql, **opts(sheets_server)).first().n == 6
    assert calls == []
    out = sheets_server.new_spreadsheet("register-once")
    out.add_sheet("Sheet1", [])
    write_gsheet(spark.range(3).coalesce(1), "register-once", **opts(sheets_server))
    assert calls == ["gsheets"]
    assert len(out.grids["Sheet1"]) == 4


def test_a_json_null_cell_reads_as_null(spark, sheets_server):
    """A cell the API sends as JSON ``null`` is NULL in every column
    type, not the string ``"None"``; a null header cell is unnamed."""
    sid = "json-null"
    store = sheets_server.new_spreadsheet(sid)
    store.add_sheet(
        "Sheet1",
        [
            ["name", "n", "ok", None],
            ["ada", "1", "TRUE", "x"],
            [None, None, None, "y"],
            ["bob", "2", None, None],
        ],
    )
    df = read_gsheet(spark, sid, **opts(sheets_server))
    assert df.columns == ["name", "n", "ok", "column4"]
    assert [tuple(r) for r in df.collect()] == [
        ("ada", 1.0, True, "x"),
        (None, None, None, "y"),
        ("bob", 2.0, None, None),
    ]


def test_concurrent_read_gsheet_leaves_session_conf_as_it_was(
    spark, sheets_server, people_sheet, monkeypatch
):
    """Two threads in ``read_gsheet`` at once must not leave the
    LocalRelation threshold lowered. ``createDataFrame`` is held at a
    barrier so both calls would be inside it together; the later one
    then returns only after the earlier one has restored the conf, the
    order that loses the conf when the section is not exclusive. When
    it is, the barrier times out and the calls run one after another."""
    import threading
    import time

    key = "spark.sql.execution.arrow.localRelationThreshold"
    sid, _ = people_sheet
    barrier = threading.Barrier(2, timeout=3)
    arrivals = []
    create = spark.createDataFrame

    def meeting_create(*args, **kwargs):
        arrivals.append(threading.get_ident())
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            return create(*args, **kwargs)
        if arrivals[-1] == threading.get_ident():  # the later arrival
            deadline = time.monotonic() + 10
            while spark.conf.get(key, None) is not None:
                assert time.monotonic() < deadline
                time.sleep(0.01)
        return create(*args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", meeting_create)
    assert spark.conf.get(key, None) is None
    results = []

    def read():
        results.append(read_gsheet(spark, sid, **opts(sheets_server)))

    threads = [threading.Thread(target=read) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(results) == 2
    assert spark.conf.get(key, None) is None


def test_read_gsheet_under_thread_stress(spark, sheets_server, people_sheet):
    """More reading threads than cores, switching often: every read
    returns the sheet and the session's threshold ends as it began."""
    import sys
    import threading

    key = "spark.sql.execution.arrow.localRelationThreshold"
    sid, _ = people_sheet
    results = []

    def read():
        rows = read_gsheet(spark, sid, **opts(sheets_server)).collect()
        results.append(len(rows))

    spark.conf.set(key, "1MB")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=read) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
        assert spark.conf.get(key, None) == "1MB"
    finally:
        sys.setswitchinterval(interval)
        spark.conf.unset(key)
    assert results == [6] * 8



def _bind_grid(server, sid, grid, body=None):
    from duckdb_gsheets_spark.sources.gsheets.datasource import bind

    store = server.new_spreadsheet(sid)
    store.add_sheet("Sheet1", grid)
    if body is not None:  # the emulator serves a cached body as is
        store.get_cache["Sheet1"] = body
    return bind({"path": sid, **opts(server)})


def test_cells_arrow_cannot_type_bind_as_before(sheets_server):
    """A body Arrow's JSON reader cannot type as string cells binds
    through ``json.loads``: numbers and booleans read as ``str()`` of
    them (``True`` is text, not a boolean), JSON ``null`` as NULL."""
    schema, table = _bind_grid(
        sheets_server,
        "scalar-cells",
        [["a", "b", "c"], [1, True, 2.5], [False, None, 1e300]],
    )
    assert schema.types == ("double", "string", "double")
    assert [tuple(r.values()) for r in table.to_pylist()] == [
        (1.0, "True", 2.5),
        (None, None, 1e300),
    ]


@pytest.mark.parametrize(
    "sid, grid, body, error",
    [
        ("truncated", [["a"]], b'{"values": [["a"], ["b"', SheetsParseError),
        ("surrogate", [["a", "b"], ["\ud800", "x"]], None, UnicodeEncodeError),
    ],
)
def test_bodies_arrow_cannot_read_fail_as_before(sheets_server, sid, grid, body, error):
    """Truncated JSON is a ``SheetsParseError``; a lone surrogate escape
    fails converting to Arrow text."""
    with pytest.raises(error):
        _bind_grid(sheets_server, sid, grid, body)
