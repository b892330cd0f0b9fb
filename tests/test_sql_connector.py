"""The connector's SQL-string entry path — the reference's entire UX
is SQL (``SELECT ... FROM read_gsheet(...)``,
test/sql/read_gsheet.test:26; ``COPY ... TO ... (FORMAT gsheet)``,
test/sql/copy_to.test:18-36). The Spark analog is ``CREATE TEMPORARY
VIEW t USING gsheets OPTIONS (...)`` + plain ``spark.sql`` over the
view; the COPY direction is a SQL SELECT feeding the connector sink.

These tests exercise the registered format BY NAME through
``spark.sql`` against the fake server — a user's first SQL attempt,
end to end.
"""

import pytest

from duckdb_gsheets_spark.sources.gsheets import read_gsheet, write_gsheet
from duckdb_gsheets_spark.sources.gsheets.api import register


def url_for(sid: str) -> str:
    return f"https://docs.google.com/spreadsheets/d/{sid}/edit"


def _view_sql(view: str, server, sid: str, extra: str = "") -> str:
    return (
        f"CREATE OR REPLACE TEMPORARY VIEW {view} USING gsheets OPTIONS ("
        f"path '{url_for(sid)}', token 'test-token', "
        f"api_base '{server.base_url}'{extra})"
    )


def test_sql_view_select_with_filter(spark, sheets_server, people_sheet):
    """read_gsheet.test:26 through spark.sql: typed projection +
    predicate over the SQL-declared sheet view."""
    sid, _ = people_sheet
    register(spark)
    spark.sql(_view_sql("people_sql", sheets_server, sid))
    rows = spark.sql(
        "SELECT name, age FROM people_sql WHERE age > 28 ORDER BY name"
    ).collect()
    assert [(r.name, r.age) for r in rows] == [
        ("Alice", 30.0),
        ("Archie", 99.0),
        ("Charlie", 45.0),
    ]


def test_sql_view_aggregate_and_types(spark, sheets_server, people_sheet):
    """Aggregation over the SQL view; the inferred BOOLEAN/DOUBLE/
    VARCHAR schema is what SQL sees (types flow through the catalog)."""
    sid, _ = people_sheet
    register(spark)
    spark.sql(_view_sql("people_agg", sheets_server, sid))
    schema = {f.name: f.dataType.simpleString() for f in spark.table("people_agg").schema.fields}
    assert schema == {"name": "string", "age": "double", "city": "string"}
    out = spark.sql(
        "SELECT count(*) AS n, sum(age) AS total FROM people_agg WHERE age IS NOT NULL"
    ).collect()[0]
    assert out.n == 4 and out.total == 30.0 + 25.0 + 45.0 + 99.0


def test_sql_view_all_varchar_option(spark, sheets_server, people_sheet):
    """OPTIONS carry connector options, not just credentials:
    all_varchar 'true' through the SQL surface."""
    sid, _ = people_sheet
    register(spark)
    spark.sql(
        _view_sql("people_vc", sheets_server, sid, ", all_varchar 'true'")
    )
    fields = spark.table("people_vc").schema.fields
    assert [f.dataType.simpleString() for f in fields] == ["string"] * 3
    assert spark.sql("SELECT age FROM people_vc LIMIT 1").collect()[0].age == "30"


def test_sql_select_feeds_copy_to(spark, sheets_server, people_sheet):
    """copy_to.test:18-36 shape: a SQL SELECT materialized through the
    connector sink, then read back via a second SQL view with
    identical rows."""
    sid, _ = people_sheet
    register(spark)
    out_sid = f"sqlcopy-{len(sheets_server.stores)}"
    sheets_server.new_spreadsheet(out_sid).add_sheet("Sheet1", [[]])
    spark.sql(_view_sql("people_src", sheets_server, sid))
    result = spark.sql(
        "SELECT name, age FROM people_src WHERE age IS NOT NULL ORDER BY age"
    )
    write_gsheet(
        result,
        url_for(out_sid),
        token="test-token",
        api_base=sheets_server.base_url,
    )
    spark.sql(_view_sql("people_copy", sheets_server, out_sid))
    back = spark.sql("SELECT name, age FROM people_copy ORDER BY age").collect()
    assert [(r.name, r.age) for r in back] == [
        ("Bob", 25.0),
        ("Alice", 30.0),
        ("Charlie", 45.0),
        ("Archie", 99.0),
    ]


def test_sql_insert_into_appends(spark, sheets_server, people_sheet):
    """``INSERT INTO <view>`` — the SQL spelling of the reference's
    append-mode COPY (copy_to.test append case): rows land below the
    existing table, header untouched. The view itself is a BIND-TIME
    SNAPSHOT (the eager-fetch read contract, SURVEY §2.1 S1), so the
    new row appears on re-bind, not in the already-created view."""
    sid, store = people_sheet
    register(spark)
    spark.sql(_view_sql("people_ins", sheets_server, sid))
    before = spark.sql("SELECT count(*) AS n FROM people_ins").collect()[0].n
    spark.sql("INSERT INTO people_ins VALUES ('Zed', 41.0, 'Berlin')")
    assert store.grids["Sheet1"][-1] == ["Zed", "41.0", "Berlin"]
    # The bound view still serves its snapshot...
    assert spark.sql("SELECT count(*) AS n FROM people_ins").collect()[0].n == before
    # ...and a re-bound view sees the appended row.
    spark.sql(_view_sql("people_ins", sheets_server, sid))
    assert spark.sql("SELECT count(*) AS n FROM people_ins").collect()[0].n == before + 1


def test_sql_insert_overwrite_replaces_sheet(spark, sheets_server, people_sheet):
    """``INSERT OVERWRITE <view>`` — the SQL spelling of the default
    overwrite_sheet COPY mode: clear the sheet, rewrite header +
    rows."""
    sid, store = people_sheet
    register(spark)
    spark.sql(_view_sql("people_ow", sheets_server, sid))
    spark.sql("INSERT OVERWRITE people_ow VALUES ('Solo', 1.0, 'X')")
    lived = [r for r in store.grids["Sheet1"] if any(c != "" for c in r)]
    assert lived == [["name", "age", "city"], ["Solo", "1.0", "X"]]


def test_sql_view_missing_credentials_is_actionable(spark, sheets_server, people_sheet):
    """A credential-less SQL view fails with the connector's
    actionable message, not a stack of internals."""
    sid, _ = people_sheet
    register(spark)
    with pytest.raises(Exception, match="credentials|token"):
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW people_noauth USING gsheets "
            f"OPTIONS (path '{url_for(sid)}', api_base '{sheets_server.base_url}')"
        )
        spark.sql("SELECT * FROM people_noauth").collect()


def _sheets_sql(spark, server, sql):
    from duckdb_gsheets_spark.sources.gsheets import sheets_sql

    return sheets_sql(
        spark, sql, token="test-token", api_base=server.base_url
    )


def test_literal_url_from_replacement(spark, sheets_server, people_sheet):
    """Entry point 2 parity (src/gsheets_extension.cpp:29-46): a bare
    quoted sheet URL after FROM reads the sheet, and the replaced
    table carries the URL base-name alias (``edit`` for a
    browser-copied URL) exactly as ExtractBaseName would."""
    sid, _ = people_sheet
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT edit.name, edit.age FROM '{url_for(sid)}' "
        "WHERE age > 28 ORDER BY edit.name",
    ).collect()
    assert [(r.name, r.age) for r in rows] == [
        ("Alice", 30.0),
        ("Archie", 99.0),
        ("Charlie", 45.0),
    ]


def test_literal_url_user_alias_wins(spark, sheets_server, people_sheet):
    """A user-supplied alias (bare or AS) suppresses the base-name
    alias, and a self-join through two literal references reads the
    sheet ONCE (one fetch per distinct URL per statement)."""
    sid, store = people_sheet
    sheets_server.request_log.clear()
    out = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT p.name, q.age FROM '{url_for(sid)}' AS p "
        f"JOIN '{url_for(sid)}' q ON p.name = q.name "
        "WHERE q.age > 40 ORDER BY p.name",
    ).collect()
    assert [(r.name, r.age) for r in out] == [
        ("Archie", 99.0),
        ("Charlie", 45.0),
    ]
    values_gets = [
        p for m, p in sheets_server.request_log if m == "GET" and "/values/" in p
    ]
    assert len(values_gets) == 1


def test_literal_url_only_in_table_position(spark, sheets_server, people_sheet):
    """URL literals OUTSIDE table position must stay strings — a
    replacement scan fires only for table resolution."""
    sid, _ = people_sheet
    url = url_for(sid)
    row = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT name, '{url}' AS src FROM '{url}' "
        "WHERE name = 'Alice'",
    ).collect()[0]
    assert row.name == "Alice" and row.src == url


def test_literal_url_prefix_guard(spark, sheets_server, people_sheet):
    """Non-sheet URLs are NOT replaced (the reference's StartsWith
    guard): the statement fails as plain SQL would, not by trying to
    fetch an arbitrary URL."""
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        _sheets_sql(
            spark,
            sheets_server,
            "SELECT * FROM 'https://example.com/spreadsheets/d/x'",
        )


def test_literal_url_alias_survives_table_suffix_clauses(spark, sheets_server, people_sheet):
    """Clauses that may follow a table reference must not be mistaken
    for a user alias: SORT BY and MINUS keep the base-name alias
    available, and TABLESAMPLE — which Spark only parses with the alias AFTER
    the clause — still rewrites to runnable SQL (alias suppressed;
    the user's own post-clause alias binds)."""
    sid, _ = people_sheet
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT edit.name FROM '{url_for(sid)}' SORT BY edit.name",
    ).collect()
    assert {r.name for r in rows} >= {"Alice", "Archie"}
    minus = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT edit.name FROM '{url_for(sid)}' MINUS SELECT 'Bob' AS name",
    ).collect()
    assert {r.name for r in minus} == {"Alice", "Charlie", "Drake", "Archie", None}
    sampled = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT s.name FROM '{url_for(sid)}' TABLESAMPLE (100 PERCENT) AS s "
        "WHERE s.name IS NOT NULL ORDER BY s.name LIMIT 2",
    ).collect()
    assert [r.name for r in sampled] == ["Alice", "Archie"]


def test_literal_url_double_quoted(spark, sheets_server, people_sheet):
    """Spark SQL admits double-quoted string literals too; the
    replacement scan must fire on them exactly as on single-quoted
    ones (the reference fires on any string literal in table
    position)."""
    sid, _ = people_sheet
    rows = _sheets_sql(
        spark,
        sheets_server,
        f'SELECT edit.name FROM "{url_for(sid)}" '
        "WHERE edit.age > 40 ORDER BY edit.name",
    ).collect()
    assert [r.name for r in rows] == ["Archie", "Charlie"]


def test_literal_url_prefix_is_case_sensitive(spark, sheets_server, people_sheet):
    """The reference's StartsWith guard is case-SENSITIVE
    (src/gsheets_extension.cpp:31-33): a case-variant prefix must stay
    a plain string literal (and fail as SQL), not fetch a sheet."""
    import pytest
    from pyspark.errors import AnalysisException

    sid, _ = people_sheet
    shouty = url_for(sid).replace("https://docs", "HTTPS://DOCS")
    with pytest.raises(AnalysisException):
        _sheets_sql(spark, sheets_server, f"SELECT * FROM '{shouty}'")


def test_literal_url_colliding_base_aliases_deduplicate(
    spark, sheets_server, people_sheet
):
    """Two DIFFERENT sheets whose URLs share the browser-copy '/edit'
    base name in one statement: the injected aliases must not collide
    — the second gets a numeric suffix (edit, edit_2) instead of a
    duplicate-alias AnalysisException over SQL the user never wrote."""
    sid, _ = people_sheet
    other = sheets_server.new_spreadsheet("other-people")
    other.add_sheet(
        "Sheet1", [["name", "bonus"], ["Alice", "7"], ["Charlie", "9"]]
    )
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT edit.name, edit_2.bonus FROM '{url_for(sid)}' "
        f"JOIN '{url_for('other-people')}' ON edit.name = edit_2.name "
        "ORDER BY edit.name",
    ).collect()
    assert [(r.name, r.bonus) for r in rows] == [
        ("Alice", 7.0),
        ("Charlie", 9.0),
    ]


def test_literal_url_comma_table_list(spark, sheets_server, people_sheet):
    """Comma-separated refs in one FROM list — the reference's
    replacement scan fires per table reference, so
    ``FROM 'u1', 'u2'`` must resolve both. A comma ref only rewrites
    when chained directly after an already-injected view (optionally
    through its alias), so string literals in SELECT/IN lists stay
    untouched."""
    sid, _ = people_sheet
    other = sheets_server.new_spreadsheet("comma-people")
    other.add_sheet(
        "Sheet1", [["name", "bonus"], ["Alice", "7"], ["Charlie", "9"]]
    )
    # implicit cross join, user aliases on both
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT p.name, q.bonus FROM '{url_for(sid)}' p, "
        f"'{url_for('comma-people')}' q "
        "WHERE p.name = q.name ORDER BY p.name",
    ).collect()
    assert [(r.name, r.bonus) for r in rows] == [
        ("Alice", 7.0),
        ("Charlie", 9.0),
    ]
    # base-name aliases: first is `edit`, comma-chained second
    # deduplicates to `edit_2`
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT edit.name, edit_2.bonus FROM '{url_for(sid)}', "
        f"'{url_for('comma-people')}' "
        "WHERE edit.name = edit_2.name ORDER BY edit.name",
    ).collect()
    assert [(r.name, r.bonus) for r in rows] == [
        ("Alice", 7.0),
        ("Charlie", 9.0),
    ]


def test_literal_url_injected_alias_avoids_user_alias(
    spark, sheets_server, people_sheet
):
    """A USER-written alias must never be shadowed by an injected
    base-name alias: with the user claiming `edit` on one ref, the
    other ref's injected alias deduplicates away from it (user
    aliases are pre-scanned before any rewrite, so visit order
    doesn't matter)."""
    sid, _ = people_sheet
    other = sheets_server.new_spreadsheet("alias-people")
    other.add_sheet(
        "Sheet1", [["name", "bonus"], ["Alice", "7"], ["Charlie", "9"]]
    )
    # user alias `edit` on the SECOND ref: the first ref's injected
    # alias must skip to edit_2 even though it rewrites first
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT edit_2.name, edit.bonus FROM '{url_for(sid)}' "
        f"JOIN '{url_for('alias-people')}' AS edit "
        "ON edit_2.name = edit.name ORDER BY edit_2.name",
    ).collect()
    assert [(r.name, r.bonus) for r in rows] == [
        ("Alice", 7.0),
        ("Charlie", 9.0),
    ]


def test_literal_url_comma_user_alias_prescanned(
    spark, sheets_server, people_sheet
):
    """A user alias in COMMA-list position is seen by the pre-scan:
    ``FROM 'a', 'b' AS edit`` must inject `edit_2` for 'a' instead of
    colliding with the user's `edit` on 'b' (the comma ref is only
    REWRITTEN after 'a' resolves, but its alias must be reserved
    before 'a''s base-name alias is chosen)."""
    sid, _ = people_sheet
    other = sheets_server.new_spreadsheet("comma-alias-people")
    other.add_sheet(
        "Sheet1", [["name", "bonus"], ["Alice", "7"], ["Charlie", "9"]]
    )
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT edit_2.name, edit.bonus FROM '{url_for(sid)}', "
        f"'{url_for('comma-alias-people')}' AS edit "
        "WHERE edit_2.name = edit.name ORDER BY edit_2.name",
    ).collect()
    assert [(r.name, r.bonus) for r in rows] == [
        ("Alice", 7.0),
        ("Charlie", 9.0),
    ]


def test_literal_url_comma_list_then_join_numbering(
    spark, sheets_server, people_sheet
):
    """``FROM 'a', 'b' JOIN 'c'`` over three different sheets: injected
    base-name aliases are numbered over the FROM/JOIN refs first, in
    text order, then over the comma-listed refs — 'a' is `edit`, 'c'
    is `edit_2` and the comma-listed 'b' is `edit_3`."""
    sid, _ = people_sheet
    bonus = sheets_server.new_spreadsheet("numbering-bonus")
    bonus.add_sheet("Sheet1", [["who", "bonus"], ["Alice", "7"], ["Charlie", "9"]])
    team = sheets_server.new_spreadsheet("numbering-team")
    team.add_sheet(
        "Sheet1", [["member", "team"], ["Alice", "red"], ["Charlie", "blue"]]
    )
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT edit.name, edit_3.bonus, edit_2.team FROM '{url_for(sid)}', "
        f"'{url_for('numbering-bonus')}' JOIN '{url_for('numbering-team')}' "
        "ON edit_3.who = edit_2.member "
        "WHERE edit.name = edit_3.who ORDER BY edit.name",
    ).collect()
    assert [(r.name, r.bonus, r.team) for r in rows] == [
        ("Alice", 7.0, "red"),
        ("Charlie", 9.0, "blue"),
    ]


def test_literal_url_temp_view_outlives_the_call(spark, sheets_server, people_sheet):
    """A temp view that ``sheets_sql`` creates over a sheet URL stays
    queryable after the call returns: the sheet's own view persists in
    the session, so the user's view still resolves."""
    sid, _ = people_sheet
    _sheets_sql(
        spark,
        sheets_server,
        "CREATE OR REPLACE TEMP VIEW people_from_url AS "
        f"SELECT name FROM '{url_for(sid)}' WHERE age > 28",
    )
    rows = spark.table("people_from_url").orderBy("name").collect()
    assert [r.name for r in rows] == ["Alice", "Archie", "Charlie"]


def test_literal_url_braces_in_string_literal_survive(
    spark, sheets_server, people_sheet
):
    """The rewrite splices view names into the statement and leaves
    every other character alone — ``{`` and ``}`` in a string literal
    come through as written."""
    sid, _ = people_sheet
    row = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT name, '{{x}} {{0}}' AS tag FROM '{url_for(sid)}' "
        "WHERE name = 'Alice'",
    ).collect()[0]
    assert (row.name, row.tag) == ("Alice", "{x} {0}")


def test_literal_url_view_is_keyed_on_read_options(
    spark, sheets_server, people_sheet
):
    """A later ``sheets_sql`` over the same URL with other read options
    gets its own sheet view, so a user view built on the first read
    keeps its columns; no credential enters the view name."""
    from duckdb_gsheets_spark.sources.gsheets import sheets_sql
    from duckdb_gsheets_spark.sources.gsheets.api import _view_name

    sid, _ = people_sheet
    _sheets_sql(
        spark,
        sheets_server,
        "CREATE OR REPLACE TEMP VIEW people_by_header AS "
        f"SELECT name, age FROM '{url_for(sid)}'",
    )
    headerless = sheets_sql(
        spark,
        f"SELECT * FROM '{url_for(sid)}'",
        header=False,
        token="test-token",
        api_base=sheets_server.base_url,
    )
    assert headerless.columns == ["column1", "column2", "column3"]
    rows = spark.table("people_by_header").where("age > 28").orderBy("name")
    assert [r.name for r in rows.collect()] == ["Alice", "Archie", "Charlie"]
    assert _view_name(url_for(sid), {"token": "a"}) == _view_name(
        url_for(sid), {"TOKEN": "b"}
    )


def _two_tab_book(server, sid):
    store = server.new_spreadsheet(sid)
    store.add_sheet("fact", [["k", "v"], ["1", "10"], ["2", "20"], ["2", "5"]])
    store.add_sheet("dim", [["key", "region"], ["1", "north"], ["2", "south"]])
    return [f"{url_for(sid)}?gid={gid}" for gid in (0, 1)]


def test_sheets_sql_over_two_tabs_keeps_the_call_contract(
    spark, sheets_server, monkeypatch
):
    """Two tabs of one spreadsheet, read concurrently: one metadata GET
    and one values GET per tab, one module-level ``read_gsheet`` call
    per distinct URL (``perfbench/sheets.py`` times binds by patching
    that name), and the joined rows."""
    from duckdb_gsheets_spark.sources.gsheets import api

    fact, dim = _two_tab_book(sheets_server, "two-tabs")
    calls = []
    original = api.read_gsheet

    def counting_read_gsheet(spark, url_or_id, **options):
        calls.append(url_or_id)
        return original(spark, url_or_id, **options)

    monkeypatch.setattr(api, "read_gsheet", counting_read_gsheet)
    sheets_server.request_log.clear()
    rows = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT d.region, sum(f.v) AS total FROM '{fact}' AS f "
        f"JOIN '{dim}' AS d ON f.k = d.key "
        f"WHERE f.k IN (SELECT k FROM '{fact}') GROUP BY d.region ORDER BY 1",
    ).collect()
    assert [tuple(r) for r in rows] == [("north", 10.0), ("south", 25.0)]
    assert sorted(calls) == sorted([fact, dim])
    gets = [p for m, p in sheets_server.request_log if m == "GET"]
    assert len(gets) == len(sheets_server.request_log) == 4
    assert gets.count("/v4/spreadsheets/two-tabs") == 2
    values_gets = sorted(p.rsplit("/", 1)[1] for p in gets if "/values/" in p)
    assert values_gets == ["'dim'", "fact"]  # "dim" also reads as a column


def test_sheets_sql_raises_the_first_failing_tab_in_text_order(
    spark, sheets_server
):
    """When several tabs fail to read, the error is the first one's in
    the statement, as when the tabs were read one after another."""
    from duckdb_gsheets_spark.sources.gsheets.errors import SheetNotFoundError

    _two_tab_book(sheets_server, "bad-tabs")
    bad = [f"{url_for('bad-tabs')}?gid={gid}" for gid in (7, 9)]
    with pytest.raises(SheetNotFoundError, match="7"):
        _sheets_sql(
            spark, sheets_server, f"SELECT * FROM '{bad[0]}' JOIN '{bad[1]}' USING (k)"
        )
    with pytest.raises(SheetNotFoundError, match="9"):
        _sheets_sql(
            spark, sheets_server, f"SELECT * FROM '{bad[1]}' JOIN '{bad[0]}' USING (k)"
        )


def _sized_book(server, sid):
    """A 300-row fact tab and a 30-row dim tab: the dim tab is the small
    one by any measure."""
    store = server.new_spreadsheet(sid)
    store.add_sheet("fact", [["k", "v"]] + [[str(i % 30), str(i)] for i in range(300)])
    store.add_sheet("dim", [["key", "region"]] + [[str(i), f"r{i % 3}"] for i in range(30)])
    return [f"{url_for(sid)}?gid={gid}" for gid in (0, 1)]


_JOIN_SQL = (
    "SELECT d.region, sum(f.v) AS total FROM '{fact}' AS f "
    "JOIN '{dim}' AS d ON f.k = d.key GROUP BY d.region ORDER BY 1"
)
#: Every group sums the fact's v over the keys of its region.
_JOIN_ROWS = [
    (f"r{g}", float(sum(i for i in range(300) if i % 30 % 3 == g))) for g in range(3)
]


def _children(node):
    """A physical plan node's children, AQE query stages opened up."""
    if "QueryStage" in node.nodeName():
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _subtree(node) -> list:
    """``node`` and every node under it, preorder."""
    nodes = [node]
    for child in _children(node):
        nodes += _subtree(child)
    return nodes


def _executed(df) -> list:
    """Every node of ``df``'s executed plan after AQE has finished it."""
    return _subtree(df._jdf.queryExecution().executedPlan().executedPlan())


def _scans(nodes) -> list[str]:
    return [n.output().toString() for n in nodes if n.nodeName().startswith("Scan")]


def _hinted(df) -> bool:
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


def test_sheets_sql_broadcasts_the_small_tab_of_a_join(spark, sheets_server):
    """The join builds its hash table from the small tab, broadcast, and
    the large tab's scan feeds the join with no shuffle in between."""
    fact, dim = _sized_book(sheets_server, "broadcast-plan")
    df = _sheets_sql(spark, sheets_server, _JOIN_SQL.format(fact=fact, dim=dim))
    assert [tuple(r) for r in df.collect()] == _JOIN_ROWS
    joins = [n for n in _executed(df) if n.nodeName() == "BroadcastHashJoin"]
    assert len(joins) == 1
    join = joins[0]
    build, stream = (
        (join.right(), join.left())
        if join.buildSide().toString() == "BuildRight"
        else (join.left(), join.right())
    )
    assert [s for s in _scans(_subtree(build)) if "region" in s]
    stream_nodes = _subtree(stream)
    assert [s for s in _scans(stream_nodes) if "v#" in s]
    assert not [n for n in stream_nodes if "Exchange" in n.nodeName()]


def test_sheets_sql_hints_nothing_when_broadcast_is_off_or_one_tab(
    spark, sheets_server
):
    """``spark.sql.autoBroadcastJoinThreshold=-1`` keeps the sort-merge
    join and the statement unhinted; a self join reads one tab and is
    never hinted."""
    fact, dim = _sized_book(sheets_server, "no-broadcast-plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _sheets_sql(spark, sheets_server, _JOIN_SQL.format(fact=fact, dim=dim))
        assert [tuple(r) for r in df.collect()] == _JOIN_ROWS
        names = [n.nodeName() for n in _executed(df)]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert not _hinted(df)
    assert "SortMergeJoin" in names and "BroadcastHashJoin" not in names
    self_join = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT count(*) AS n FROM '{dim}' AS a JOIN '{dim}' AS b ON a.key = b.key",
    )
    assert self_join.first().n == 30
    assert not _hinted(self_join)


def test_sheets_sql_union_of_two_tabs_is_not_hinted(spark, sheets_server):
    """Tabs that no join uses get no hint, which Spark would log as an
    unused join hint; the rows are the tabs' rows."""
    fact, dim = _sized_book(sheets_server, "union-tabs")
    df = _sheets_sql(
        spark,
        sheets_server,
        f"SELECT k FROM '{fact}' UNION ALL SELECT key FROM '{dim}'",
    )
    assert sorted(r.k for r in df.collect()) == sorted(
        [float(i % 30) for i in range(300)] + [float(i) for i in range(30)]
    )
    assert not _hinted(df)


@pytest.mark.parametrize(
    "sql, joined",
    [
        ("SELECT * FROM 'A' f JOIN 'B' d ON f.k = d.k", [True, True]),
        ("SELECT * FROM 'A' LEFT JOIN 'B' USING (k)", [True, True]),
        ("SELECT * FROM 'A' AS f, 'B' AS d WHERE f.k = d.k", [True, True]),
        ("SELECT k FROM 'A' UNION ALL SELECT k FROM 'B'", [False, False]),
        ("SELECT * FROM 'A' f WHERE f.k IN (SELECT k FROM 'B')", [False, False]),
        ("SELECT * FROM (SELECT * FROM 'A') t JOIN 'B' d ON t.k = d.k", [False, True]),
    ],
)
def test_sheet_refs_mark_the_sides_of_a_join(sql, joined):
    """A reference is a join side when it follows JOIN, a join starts
    right after it and its alias, or it is in a comma list."""
    from duckdb_gsheets_spark.sources.gsheets.api import _sheet_refs

    sql = sql.replace("'A'", f"'{url_for('a')}'").replace("'B'", f"'{url_for('b')}'")
    assert [r.joined for r in _sheet_refs(sql)] == joined
