"""User-facing helpers: registration + replacement-scan parity.

The reference rewrites a bare spreadsheet URL in FROM into
``read_gsheet(url)`` (src/gsheets_extension.cpp:29-46). Spark has no
replacement-scan hook, so the parity surface is:

* ``register(spark)`` once, then
  ``spark.read.format("gsheets").load(url)``, or
* ``read_gsheet(spark, url, **options)`` — the table function shape, or
* ``sheets_sql(spark, "SELECT ... FROM 'https://docs.google.com/...'")``
  — literal-URL SQL with the reference's replacement semantics.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import CaseInsensitiveDict
from pyspark.sql.utils import to_str

from duckdb_gsheets_spark.sources.gsheets.datasource import GSheetsDataSource, bind


def register(spark: SparkSession) -> None:
    """Register the ``gsheets`` format on this session."""
    spark.dataSource.register(GSheetsDataSource)


#: Below this many bytes of Arrow batches, ``createDataFrame`` copies
#: every row into a driver-side LocalRelation, which the optimizer copies
#: again for each projection or filter and each scan task then carries;
#: above it, the JVM keeps the batches and converts them in the scan.
_LOCAL_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


def read_gsheet(spark: SparkSession, url_or_id: str, **options) -> DataFrame:
    """``read_gsheet(...)`` table-function parity
    (src/gsheets_extension.cpp:55-59): named params header, sheet,
    range, all_varchar plus credential options.

    Binds in the calling process with the same :func:`bind` and the
    same Arrow table as the ``gsheets`` Data Source, then hands the
    table to ``spark.createDataFrame``: the JVM gets one partition per
    ``arrow.maxRecordsPerBatch``-row batch and converts it as the scan
    runs, so no Python planning worker or scan task runs. The
    LocalRelation threshold is 0 for that one call and restored after
    it: as a LocalRelation, a 40,000-row tab made the statements of
    ``perfbench``'s ``sheet_scan`` slower and the driver JVM's peak RSS
    14-41% higher (4-core machine). A concurrent ``createDataFrame`` in
    another thread may also skip the LocalRelation, which changes its
    plan, not its rows. Options are
    normalised the way ``DataFrameReader.option`` passes them to the
    Data Source (case-insensitive keys, ``true``/``false`` strings), so
    both surfaces read a sheet identically. Also registers the
    ``gsheets`` format on the session."""
    register(spark)
    opts = CaseInsensitiveDict({key: to_str(value) for key, value in options.items()})
    opts["path"] = url_or_id
    schema, table = bind(opts)
    previous = spark.conf.get(_LOCAL_RELATION_THRESHOLD, None)
    spark.conf.set(_LOCAL_RELATION_THRESHOLD, "0")
    try:
        return spark.createDataFrame(table, schema.to_struct_type())
    finally:
        if previous is None:
            spark.conf.unset(_LOCAL_RELATION_THRESHOLD)
        else:
            spark.conf.set(_LOCAL_RELATION_THRESHOLD, previous)


#: Only URLs with this prefix are replaced — the reference's exact
#: prefix check (src/gsheets_extension.cpp:31-33).
_SHEET_URL_PREFIX = "https://docs.google.com/spreadsheets/d/"

#: A quoted sheet URL in table position: FROM/JOIN then the literal,
#: single- OR double-quoted (the reference's replacement scan sees any
#: string literal the parser resolved as a table ref; Spark SQL admits
#: both quote styles for string literals). Literals anywhere else
#: (SELECT list, WHERE comparisons) stay strings, mirroring how a
#: replacement scan only fires when the parser resolves a TABLE
#: reference. Comma-separated table refs (``FROM 'u1', 'u2'``) are
#: handled by a second fixpoint pass (_COMMA_URL_RE): a bare comma
#: before a string literal is ambiguous (SELECT/IN lists), but a
#: comma directly after a view THIS rewrite just injected is
#: table-list position by construction.
#: The SQL keywords match case-insensitively but the URL PREFIX is
#: case-sensitive, matching the reference's StringUtil::StartsWith
#: guard (src/gsheets_extension.cpp:31-33) — a case-variant prefix
#: stays a plain string literal there too. Case-insensitivity is
#: spelled with character classes, NOT scoped ``(?i:...)`` groups:
#: scoped inline flags require Python >= 3.11 and this module declares
#: no interpreter floor.
_KW_FROM_JOIN = r"(?:[Ff][Rr][Oo][Mm]|[Jj][Oo][Ii][Nn])"
_KW_AS = r"[Aa][Ss]"

_FROM_URL_RE = re.compile(
    r"(\b" + _KW_FROM_JOIN + r"\s+)(?:"
    r"'(" + re.escape(_SHEET_URL_PREFIX) + r"[^']*)'"
    r"|\"(" + re.escape(_SHEET_URL_PREFIX) + r"[^\"]*)\")"
)

_ALIAS_PROBE_RE = re.compile(r"\s*(?:as\s+)?(`[^`]+`|[A-Za-z_]\w*)", re.IGNORECASE)

#: A sheet-URL literal chained by comma to a VIEW THIS REWRITE just
#: injected (optionally through its alias) — the only comma position
#: that is provably a table list without a real parse.
_COMMA_URL_RE = re.compile(
    r"(\bgsheet_[0-9a-f]{10}"
    r"(?:\s+(?:" + _KW_AS + r"\s+)?(?:`[^`]+`|[A-Za-z_]\w*))?\s*,\s*)(?:"
    r"'(" + re.escape(_SHEET_URL_PREFIX) + r"[^']*)'"
    r"|\"(" + re.escape(_SHEET_URL_PREFIX) + r"[^\"]*)\")"
)

#: A comma-chained sheet ref BEFORE any rewrite (pre-scan only): the
#: raw-SQL twin of _COMMA_URL_RE, used to walk FROM-list chains so a
#: user alias on a LATER comma ref is seen before the FIRST ref's
#: base-name alias is injected (``FROM 'a', 'b' AS edit`` must not
#: inject a colliding ``edit`` for 'a').
_RAW_COMMA_URL_RE = re.compile(
    r"\s*,\s*(?:"
    r"'(" + re.escape(_SHEET_URL_PREFIX) + r"[^']*)'"
    r"|\"(" + re.escape(_SHEET_URL_PREFIX) + r"[^\"]*)\")"
)

#: Keywords that may legally follow a table reference and therefore do
#: NOT read as a user-supplied alias — every clause Spark SQL accepts
#: in that position, incl. PIVOT/UNPIVOT and the BY-family heads
#: (verified to parse with an alias injected BEFORE them).
_NON_ALIAS_KEYWORDS = frozenset(
    """where group order limit offset having union intersect except
    join inner left right full cross natural on using qualify window
    semi anti lateral pivot unpivot sort distribute cluster
    tablesample""".split()
)

#: TABLESAMPLE binds tighter than the alias (Spark parses
#: ``tbl TABLESAMPLE (...) AS a`` but rejects
#: ``tbl AS a TABLESAMPLE (...)``), so injecting the base-name alias
#: before it would break the statement — recognize it as a non-alias
#: but SKIP the injection; the caller aliases after the clause.
_ALIAS_UNSAFE_KEYWORDS = frozenset({"tablesample"})


def _url_base_name(url: str) -> str:
    """Last path segment with any extension stripped — the alias the
    reference's FileSystem::ExtractBaseName produces for the replaced
    table (src/gsheets_extension.cpp:39-42); typically ``edit`` for a
    browser-copied sheet URL."""
    path = url.split("?", 1)[0].split("#", 1)[0].rstrip("/")
    base = path.rsplit("/", 1)[-1]
    dot = base.rfind(".")
    return base[:dot] if dot > 0 else base


def sheets_sql(spark: SparkSession, sql: str, **options) -> DataFrame:
    """Run SQL in which a bare spreadsheet URL is a table — the
    replacement-scan entry point (src/gsheets_extension.cpp:29-46)
    reproduced as a pre-parse rewrite, since stock PySpark exposes no
    replacement-scan hook (SURVEY §3 entry point 2).

    Semantics mirror the reference: only string literals (single- or
    double-quoted) with the exact case-sensitive
    ``https://docs.google.com/spreadsheets/d/`` prefix in TABLE
    position (after FROM/JOIN) are replaced; each becomes a
    :func:`read_gsheet` read (bound in the calling process) aliased to
    the URL's base name — unless the query supplies its own alias or
    the URL contains glob characters, matching the HasGlob guard.
    Injected base-name aliases DEDUPLICATE per statement (``edit``,
    ``edit_2``, …): browser-copied URLs all end in ``/edit``, so two
    different sheets in one statement would otherwise collide into a
    duplicate-alias AnalysisException over SQL the user never wrote
    (in the reference that collision surfaces as DuckDB's own
    duplicate-alias error; qualify with your own aliases for
    reference-identical naming). ``options`` (credentials, api_base,
    header/range/sheet/all_varchar) apply to every sheet the
    statement references. Each distinct URL is read once even when
    referenced twice.
    """
    register(spark)
    views: dict[str, str] = {}
    # Seed the dedup set with every USER-written alias on a sheet ref
    # (pre-scanned before any rewrite): an injected base-name alias
    # must not collide with an alias the user chose for another ref —
    # `FROM 'a' AS edit JOIN 'b'` would otherwise inject a second
    # `edit`, regardless of which ref the rewrite visits first.
    # Comma-chained refs hanging off a FROM/JOIN sheet ref are walked
    # too, so `FROM 'a', 'b' AS edit` sees the user's `edit` before
    # injecting 'a''s base-name alias.
    used_aliases: set[str] = set()
    for m in _FROM_URL_RE.finditer(sql):
        pos = m.end()
        while True:
            probe = _ALIAS_PROBE_RE.match(sql, pos)
            word = probe.group(1).strip("`").lower() if probe else ""
            if probe and word not in _NON_ALIAS_KEYWORDS:
                used_aliases.add(word)
                pos = probe.end()
            chain = _RAW_COMMA_URL_RE.match(sql, pos)
            if chain is None:
                break
            pos = chain.end()

    def _make_replacer(text: str):
        def _replace(m: re.Match) -> str:
            url = m.group(2) or m.group(3)
            view = views.get(url)
            if view is None:
                view = "gsheet_" + hashlib.md5(url.encode()).hexdigest()[:10]
                read_gsheet(spark, url, **options).createOrReplaceTempView(
                    view
                )
                views[url] = view
            probe = _ALIAS_PROBE_RE.match(text, m.end())
            word = probe.group(1).strip("`").lower() if probe else ""
            user_alias = bool(probe) and word not in _NON_ALIAS_KEYWORDS
            if (
                user_alias
                or word in _ALIAS_UNSAFE_KEYWORDS
                or any(ch in url for ch in "*?[")
            ):
                if user_alias:
                    # comma-pass refs aren't in the pre-scan; make
                    # their user aliases visible to later injections
                    used_aliases.add(word)
                return f"{m.group(1)}{view}"
            base = alias = _url_base_name(url)
            n = 1
            while alias.lower() in used_aliases:
                n += 1
                alias = f"{base}_{n}"
            used_aliases.add(alias.lower())
            return f"{m.group(1)}{view} AS `{alias}`"

        return _replace

    out = _FROM_URL_RE.sub(_make_replacer(sql), sql)
    # Comma-chained refs in the same FROM list (``FROM 'u1', 'u2'``):
    # a bare comma before a string literal is ambiguous (SELECT/IN
    # lists), but a comma DIRECTLY after a view we just injected is
    # table-list position by construction — iterate to fixpoint so
    # arbitrarily long lists resolve one ref per pass.
    while True:
        rewritten = _COMMA_URL_RE.sub(_make_replacer(out), out, count=1)
        if rewritten == out:
            break
        out = rewritten
    return spark.sql(out)


def sheets(spark: SparkSession, url_or_id: str, **options) -> DataFrame:
    """Spreadsheet-as-catalog: enumerate a spreadsheet's tabs as a
    DataFrame ``(gid, title, sheet_index, sheet_type)`` — the
    ``spreadsheets.get`` metadata surface (C6/C7,
    src/sheets/spreadsheet.cpp sheet lookup trio) exposed the way a
    Spark user lists a database's tables. Each row is directly
    readable as a table: ``read_gsheet(spark, url, sheet=title)``,
    by position via the ``sheet_index`` column, or by appending
    ``?gid=<gid>`` to the spreadsheet URL. ``options`` carry the same
    credential/transport settings as every other entry point.

    The tab list is bounded metadata (ONE spreadsheets.get call), so
    it enters the session as a local DataFrame — no job, no scan."""
    from duckdb_gsheets_spark.sources.gsheets.datasource import _build_client
    from duckdb_gsheets_spark.sources.gsheets.urls import (
        extract_spreadsheet_id,
    )

    opts = dict(options)
    opts.setdefault("path", url_or_id)
    client = _build_client(opts)
    meta = client.spreadsheet(
        extract_spreadsheet_id(url_or_id)
    ).get_metadata()
    rows = [
        (int(s.sheet_id), s.title, int(s.index), s.sheet_type)
        for s in meta.sheets
    ]
    return spark.createDataFrame(
        rows, "gid long, title string, sheet_index int, sheet_type string"
    )


def _catalog_ident(raw: str) -> str:
    """A SQL-safe identifier fragment: lowercase, every non-alnum run
    collapsed to ``_``, never empty, never digit-leading."""
    ident = re.sub(r"[^a-z0-9]+", "_", raw.lower()).strip("_") or "sheet"
    return ("t_" + ident) if ident[0].isdigit() else ident


def register_sheet_catalog(
    spark: SparkSession,
    url_or_id: str,
    name: str | None = None,
    **options,
) -> DataFrame:
    """SQL-only surface for the spreadsheet-as-catalog: register every
    tab of a spreadsheet as a GLOBAL temp view plus one listing view,
    so a user who never touches Python enumerates and reads tabs with
    plain SQL qualified identifiers::

        register_sheet_catalog(spark, url, name="mybook")
        spark.sql("SHOW TABLES IN global_temp")          -- tab views
        spark.sql("SELECT * FROM global_temp.mybook")    -- the catalog
        spark.sql("SELECT * FROM global_temp.mybook_cities")

    Stock PySpark exposes no Python hook for a DataSourceV2
    TableCatalog plugin (``spark.sql.catalog.*`` requires a JVM
    class), so this is the documented temp-view-registrar form of the
    same capability: ``global_temp`` is the qualifying database, the
    listing view ``<name>`` is the C6/C7 metadata table
    (:func:`sheets` plus a ``view_name`` column), and each
    ``<name>_<tab>`` view is a :func:`read_gsheet` read of that tab.
    Registration binds each tab eagerly (one values fetch
    per tab — the reference's replacement scan pays the same bind per
    referenced table); ``name`` defaults to a sanitized form of the
    spreadsheet id. Returns the listing DataFrame.
    """
    from duckdb_gsheets_spark.sources.gsheets.urls import (
        extract_spreadsheet_id,
    )

    tabs = sheets(spark, url_or_id, **options).collect()
    base = _catalog_ident(
        name
        if name is not None
        else "gsheet_" + extract_spreadsheet_id(url_or_id)
    )
    used: set[str] = set()
    rows = []
    for t in tabs:
        view = f"{base}_{_catalog_ident(t.title)}"
        n = 2
        while view in used:
            view = f"{base}_{_catalog_ident(t.title)}_{n}"
            n += 1
        used.add(view)
        # Read by GID, not title: a title containing '!' (legal in
        # Sheets) would be A1-split by the sheet parameter's P1
        # semantics; the gid path has no parsing surface at all.
        sid = extract_spreadsheet_id(url_or_id)
        read_gsheet(
            spark,
            f"https://docs.google.com/spreadsheets/d/{sid}/edit"
            f"?gid={t.gid}#gid={t.gid}",
            **options,
        ).createOrReplaceGlobalTempView(view)
        rows.append(
            (t.gid, t.title, t.sheet_index, t.sheet_type, view)
        )
    listing = spark.createDataFrame(
        rows,
        "gid long, title string, sheet_index int, sheet_type string, "
        "view_name string",
    )
    listing.createOrReplaceGlobalTempView(base)
    return listing


def write_gsheet(
    df: DataFrame,
    url_or_id: str,
    mode: str = "overwrite",
    parallel: bool = True,
    **options,
) -> None:
    """COPY TO parity: ``COPY t TO '<url>' (FORMAT gsheet, ...)``.

    The reference appends one ordered stream
    (src/gsheets_copy.cpp:129-181). The sink buffers each partition's
    stringified rows in its commit message and the driver appends them
    once, in partition order, at commit time — so row order matches the
    frame's partition order even with parallel tasks, and task
    retries/speculative attempts can never double-append.

    ``parallel`` is kept for API compatibility: ``False`` coalesces to
    one partition first, which is never needed for ordering anymore and
    only serializes the (cheap) stringify stage.
    """
    register(df.sparkSession)
    if not parallel:
        df = df.coalesce(1)
    writer = df.write.format("gsheets").mode(mode)
    for key, value in options.items():
        writer = writer.option(key, value)
    writer.save(url_or_id)


def write_gsheet_stream(
    stream_df: DataFrame,
    url_or_id: str,
    checkpoint_dir: str,
    mode: str = "overwrite",
    timeout_s: float = 120.0,
    **options,
):
    """Streaming sink twin of :func:`write_gsheet`: continuously COPY
    a streaming DataFrame TO a sheet via ``foreachBatch`` — the shape
    a live ingest-gate dashboard publishes through (the reference's
    COPY is batch-only; this is the Spark-native extension of the same
    sink, one ordered append stream per micro-batch,
    src/gsheets_copy.cpp:129-181 semantics per batch).

    Batch 0 honors ``mode`` AND the batch writer's full K1 clear
    matrix (overwrite clears + writes the header once;
    ``overwrite_range=True`` with a ``range`` option clears ONLY the
    target range, the ``copy_to_range_flags.test:59-69`` semantics);
    every later micro-batch appends rows only — both overwrite flags
    are forced off past batch 0, so a ranged stream never re-clears
    its own earlier batches — the multi-batch header-once invariant
    the batch writer already enforces per job, extended across the
    stream's lifetime. Durability contract: the
    checkpoint gives foreachBatch at-least-once delivery, and Sheets
    appends are not idempotent — a batch retried after a sink-side
    failure can duplicate rows, exactly as re-running the reference's
    COPY would. Dedup by key belongs in the sheet's consumer or in a
    pre-sink ``dropDuplicates``.

    Runs with an ``availableNow`` trigger (drain-all semantics, same
    as the other streaming twins) and blocks until the drain finishes;
    returns the terminated query handle.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Batch 0 always runs, even empty: the overwrite/clear +
        # header must happen exactly once at stream start, not at the
        # first batch that happens to carry rows (an empty batch 0
        # followed by data would otherwise append headerless rows
        # onto stale sheet content).
        if batch_df.isEmpty() and batch_id > 0:
            return
        batch_mode = mode if batch_id == 0 else "append"
        batch_opts = dict(options)
        if batch_id > 0:
            batch_opts["header"] = False
            # Clears belong to batch 0 only: a later batch re-running
            # the K1 clear (whole-sheet OR ranged) would wipe the
            # rows earlier batches appended.
            batch_opts["overwrite_sheet"] = False
            batch_opts["overwrite_range"] = False
        write_gsheet(batch_df, url_or_id, mode=batch_mode, **batch_opts)

    query = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"gsheets streaming sink did not drain within {timeout_s}s; "
            "query stopped — re-trigger with the same checkpoint to resume"
        )
    return query
