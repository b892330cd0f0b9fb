"""User-facing helpers: registration + replacement-scan parity.

The reference rewrites a bare spreadsheet URL in FROM into
``read_gsheet(url)`` (src/gsheets_extension.cpp:29-46). Spark has no
replacement-scan hook, so the parity surface is:

* ``register(spark)`` once, then
  ``spark.read.format("gsheets").load(url)``, or
* ``read_gsheet(spark, url, **options)`` — the table function shape, or
* ``sheets_sql(spark, "SELECT ... FROM 'https://docs.google.com/...'")``
  — literal-URL SQL with the reference's replacement semantics.

``read_gsheet`` and ``sheets_sql`` bind in the caller and never use the
Data Source, so they leave the session's formats alone; only
:func:`write_gsheet` and :func:`write_gsheet_stream` register
``gsheets`` themselves.
"""

from __future__ import annotations

import hashlib
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import CaseInsensitiveDict
from pyspark.sql.utils import to_str

from duckdb_gsheets_spark.sources.gsheets.auth import redact_options
from duckdb_gsheets_spark.sources.gsheets.datasource import (
    GSheetsDataSource,
    _build_client,
    bind,
)
from duckdb_gsheets_spark.sources.gsheets.urls import extract_spreadsheet_id


def register(spark: SparkSession) -> None:
    """Register the ``gsheets`` format on this session."""
    spark.dataSource.register(GSheetsDataSource)


def _options(url_or_id: str, options: dict) -> CaseInsensitiveDict:
    """Keyword options normalised the way ``DataFrameReader.option``
    passes them to the Data Source: case-insensitive keys,
    ``true``/``false`` strings, and ``path`` set to the sheet."""
    opts = CaseInsensitiveDict({key: to_str(value) for key, value in options.items()})
    opts["path"] = url_or_id
    return opts


#: Below this many bytes of Arrow batches, ``createDataFrame`` copies
#: every row into a driver-side LocalRelation, which the optimizer copies
#: again for each projection or filter and each scan task then carries;
#: above it, the JVM keeps the batches and converts them in the scan.
_LOCAL_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"

#: Held while :func:`read_gsheet` has the threshold lowered: two calls
#: interleaving their save, set and restore could leave it at 0.
_THRESHOLD_LOCK = threading.Lock()


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
    14-41% higher (4-core machine). Concurrent calls bind in parallel
    but take turns for that section (:data:`_THRESHOLD_LOCK`). A
    concurrent ``createDataFrame`` elsewhere may also skip the
    LocalRelation, which changes its plan, not its rows. Options go
    through :func:`_options`, so this and the Data Source read a sheet
    identically.

    The returned frame's ``arrow_nbytes`` attribute holds the Arrow
    table's size in bytes, which Catalyst cannot see through the
    scan: :func:`sheets_sql` sizes its tabs by it."""
    schema, table = bind(_options(url_or_id, options))
    with _THRESHOLD_LOCK:
        previous = spark.conf.get(_LOCAL_RELATION_THRESHOLD, None)
        spark.conf.set(_LOCAL_RELATION_THRESHOLD, "0")
        try:
            df = spark.createDataFrame(table, schema.to_struct_type())
        finally:
            if previous is None:
                spark.conf.unset(_LOCAL_RELATION_THRESHOLD)
            else:
                spark.conf.set(_LOCAL_RELATION_THRESHOLD, previous)
    df.arrow_nbytes = table.nbytes
    return df


#: Only URLs with this prefix are replaced — the reference's exact
#: prefix check (src/gsheets_extension.cpp:31-33).
_SHEET_URL_PREFIX = "https://docs.google.com/spreadsheets/d/"

#: A sheet-URL literal, single- OR double-quoted (Spark SQL admits both
#: quote styles): group 1 is the literal, group 2 or 3 its URL. The
#: prefix is case-sensitive, like the reference's StartsWith.
_URL_LITERAL = (
    r"('(" + re.escape(_SHEET_URL_PREFIX) + r"[^']*)'"
    r"|\"(" + re.escape(_SHEET_URL_PREFIX) + r"[^\"]*)\")"
)

#: A sheet-URL literal in table position: after FROM/JOIN (keywords
#: spelled with character classes, since scoped ``(?i:...)`` groups
#: need Python >= 3.11) ...
_FROM_URL_RE = re.compile(
    r"\b(?:[Ff][Rr][Oo][Mm]|[Jj][Oo][Ii][Nn])\s+" + _URL_LITERAL
)

#: ... or after a comma that directly follows a table-position literal
#: and its alias (``FROM 'u1' a, 'u2'``). A bare comma before a literal
#: is ambiguous (SELECT/IN lists); only a chain from FROM/JOIN is a
#: table list. Literals anywhere else stay strings, as a replacement
#: scan only fires for a TABLE reference.
_COMMA_URL_RE = re.compile(r"\s*,\s*" + _URL_LITERAL)

#: The word after a table reference: a user alias unless it is a
#: keyword below.
_ALIAS_PROBE_RE = re.compile(r"\s*(?:as\s+)?(`[^`]+`|[A-Za-z_]\w*)", re.IGNORECASE)

#: Keywords that may legally follow a table reference and therefore do
#: NOT read as a user-supplied alias — every clause Spark SQL accepts
#: in that position, incl. PIVOT/UNPIVOT and the BY-family heads
#: (verified to parse with an alias injected BEFORE them).
_NON_ALIAS_KEYWORDS = frozenset(
    """where group order limit offset having union intersect except
    minus join inner left right full cross natural on using qualify
    window semi anti lateral pivot unpivot sort distribute cluster
    tablesample""".split()
)

#: TABLESAMPLE binds tighter than the alias (Spark parses
#: ``tbl TABLESAMPLE (...) AS a`` but rejects
#: ``tbl AS a TABLESAMPLE (...)``), so injecting the base-name alias
#: before it would break the statement — recognize it as a non-alias
#: but SKIP the injection; the caller aliases after the clause.
_ALIAS_UNSAFE_KEYWORDS = frozenset({"tablesample"})

#: Words that, right after a table reference and its alias, start a
#: join of which the reference is the left side.
_JOIN_HEADS = frozenset("join inner left right full cross natural".split())


class _SheetRef(NamedTuple):
    start: int  # span of the URL literal in the statement
    end: int
    url: str
    word: str  # the lowercased word after the literal, or ""
    in_list: bool  # comma-chained after an earlier ref
    joined: bool  # a side of a join: after JOIN, before one, or in a list


def _is_user_alias(word: str) -> bool:
    return bool(word) and word not in _NON_ALIAS_KEYWORDS


def _next_word(sql: str, pos: int) -> tuple[str, int]:
    """The lowercased word at ``pos`` (after blanks and an ``AS``) and
    where it ends; ``""`` and ``pos`` when none is there."""
    probe = _ALIAS_PROBE_RE.match(sql, pos)
    return (probe.group(1).strip("`").lower(), probe.end()) if probe else ("", pos)


def _sheet_refs(sql: str) -> list[_SheetRef]:
    """Every sheet-URL literal in table position, in text order: each
    FROM/JOIN literal, then the comma-separated literals chained after
    it and its alias. A reference is ``joined`` when the text makes it
    a side of a join: it follows JOIN, a join starts right after it
    and its alias, or it is in a comma list of sheet literals. That
    reads the text, not the plan, so it misses joins the text does not
    show at the reference (a sheet inside a joined subquery)."""
    refs = []
    m, in_list = _FROM_URL_RE.search(sql), False
    while m:
        end = pos = m.end()
        word, after = _next_word(sql, pos)
        next_word = word
        if _is_user_alias(word):
            pos = after
            next_word = _next_word(sql, pos)[0]
        chained = _COMMA_URL_RE.match(sql, pos)
        joined = (
            in_list
            or bool(chained)
            or m.group(0)[:4].lower() == "join"
            or next_word in _JOIN_HEADS
        )
        url = m.group(2) or m.group(3)
        refs.append(_SheetRef(*m.span(1), url, word, in_list, joined))
        if chained:
            m, in_list = chained, True
        else:
            m, in_list = _FROM_URL_RE.search(sql, end), False
    return refs


def _url_base_name(url: str) -> str:
    """Last path segment with any extension stripped — the alias the
    reference's FileSystem::ExtractBaseName produces for the replaced
    table (src/gsheets_extension.cpp:39-42); typically ``edit`` for a
    browser-copied sheet URL."""
    path = url.split("?", 1)[0].split("#", 1)[0].rstrip("/")
    base = path.rsplit("/", 1)[-1]
    dot = base.rfind(".")
    return base[:dot] if dot > 0 else base


def _view_name(url: str, options: dict) -> str:
    """``gsheet_<md5>`` of the URL and its normalised read options, so
    a read with other options gets its own view instead of replacing
    one that user views are built on. Credentials are redacted before
    hashing."""
    key = repr(sorted(redact_options(_options(url, options)).items()))
    return "gsheet_" + hashlib.md5(key.encode()).hexdigest()[:10]


def sheets_sql(spark: SparkSession, sql: str, **options) -> DataFrame:
    """Run SQL in which a bare spreadsheet URL is a table — the
    replacement-scan entry point (src/gsheets_extension.cpp:29-46)
    reproduced as a pre-parse rewrite, since stock PySpark exposes no
    replacement-scan hook (SURVEY §3 entry point 2).

    Semantics mirror the reference: only string literals (single- or
    double-quoted) with the exact case-sensitive
    ``https://docs.google.com/spreadsheets/d/`` prefix in TABLE
    position (after FROM/JOIN, or comma-listed after such a literal)
    are replaced; each becomes a :func:`read_gsheet` read (bound in
    the calling process) aliased to the URL's base name — unless the
    query supplies its own alias or the URL contains glob characters,
    matching the HasGlob guard. Injected base-name aliases
    DEDUPLICATE per statement (``edit``, ``edit_2``, …): browser-copied
    URLs all end in ``/edit``, so two different sheets in one
    statement would otherwise collide into a duplicate-alias
    AnalysisException over SQL the user never wrote (qualify with
    your own aliases for reference-identical naming). ``options``
    (credentials, api_base, header/range/sheet/all_varchar) apply to
    every sheet the statement references.

    The statement is scanned once (:func:`_sheet_refs`). Each distinct
    URL is read once by :func:`_read_all`, all of them at the same
    time, and registered as a session temp view named by
    :func:`_view_name`, which outlives the call so SQL views over it
    keep working. User aliases are reserved first; base-name aliases
    are then numbered over the FROM/JOIN references in text order,
    then the comma-listed ones. One splice puts the view names in the
    statement.

    Before registering, :func:`_broadcast_small` hints each small tab
    that the statement joins, except its largest, for a broadcast join:
    Spark's size rule applied to the tab's Arrow size, which Catalyst
    cannot see through the scan. The hint stays on the tab's view.
    """
    refs = _sheet_refs(sql)
    urls = list(dict.fromkeys(ref.url for ref in refs))
    views = {url: _view_name(url, options) for url in urls}
    joined = [all(r.joined for r in refs if r.url == url) for url in urls]
    frames = _broadcast_small(spark, _read_all(spark, urls, options), joined)
    for url, df in zip(urls, frames):
        df.createOrReplaceTempView(views[url])
    user_aliases = {r.word for r in refs if _is_user_alias(r.word)}
    used_aliases = set(user_aliases)
    spliced: dict[_SheetRef, str] = {}
    for ref in sorted(refs, key=lambda r: r.in_list):
        view = views[ref.url]
        if (
            ref.word in user_aliases
            or ref.word in _ALIAS_UNSAFE_KEYWORDS
            or any(ch in ref.url for ch in "*?[")
        ):
            spliced[ref] = view
            continue
        base = alias = _url_base_name(ref.url)
        n = 1
        while alias.lower() in used_aliases:
            n += 1
            alias = f"{base}_{n}"
        used_aliases.add(alias.lower())
        spliced[ref] = f"{view} AS `{alias}`"
    parts, pos = [], 0
    for ref in refs:
        parts += [sql[pos : ref.start], spliced[ref]]
        pos = ref.end
    parts.append(sql[pos:])
    return spark.sql("".join(parts))


def _read_all(spark: SparkSession, urls: list[str], options: dict) -> list[DataFrame]:
    """:func:`read_gsheet` of each URL, all at the same time, so a
    statement waits for its slowest tab instead of the sum of its tabs'
    round trips: the caller reads the first URL while a thread each
    reads the others. Every read finishes before this returns or
    raises; the first URL in ``urls`` whose read failed raises."""
    if not urls:
        return []
    with ThreadPoolExecutor(max_workers=max(1, len(urls) - 1)) as pool:
        rest = [pool.submit(read_gsheet, spark, url, **options) for url in urls[1:]]
        first = read_gsheet(spark, urls[0], **options)
        return [first] + [read.result() for read in rest]


def _broadcast_small(
    spark: SparkSession, frames: list[DataFrame], joined: list[bool]
) -> list[DataFrame]:
    """``frames`` (one per tab of a statement), each small tab hinted for
    a broadcast join. Catalyst sees no size through a tab's Arrow scan,
    so without the hint it plans a sort-merge join that shuffles both
    tabs. Spark's size rule decides what is small: an Arrow size
    (``arrow_nbytes``) of at most the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (-1: nothing is).

    The statement's largest tab is never hinted: with both sides hinted,
    Catalyst picks the build side by the pruned projection's estimate,
    which can be the large tab. Nor is a tab that the text does not
    show as a side of a join at every reference (``_SheetRef.joined``):
    Spark warns about a join hint that no join uses."""
    if len(frames) < 2:
        return frames
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    sizes = [df.arrow_nbytes for df in frames]
    largest = sizes.index(max(sizes))
    return [
        df.hint("broadcast") if i != largest and join and size <= threshold else df
        for i, (df, join, size) in enumerate(zip(frames, joined, sizes))
    ]


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
    return spark.createDataFrame(
        _tabs(url_or_id, options),
        "gid long, title string, sheet_index int, sheet_type string",
    )


def _tabs(url_or_id: str, options: dict) -> list[tuple[int, str, int, str]]:
    """``(gid, title, sheet_index, sheet_type)`` of every tab, from one
    metadata call."""
    client = _build_client(_options(url_or_id, options))
    meta = client.spreadsheet(extract_spreadsheet_id(url_or_id)).get_metadata()
    return [
        (int(s.sheet_id), s.title, int(s.index), s.sheet_type)
        for s in meta.sheets
    ]


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
    sid = extract_spreadsheet_id(url_or_id)
    base = _catalog_ident(name if name is not None else "gsheet_" + sid)
    used: set[str] = set()
    rows = []
    for gid, title, sheet_index, sheet_type in _tabs(url_or_id, options):
        view = f"{base}_{_catalog_ident(title)}"
        n = 2
        while view in used:
            view = f"{base}_{_catalog_ident(title)}_{n}"
            n += 1
        used.add(view)
        # Read by GID, not title: a title containing '!' (legal in
        # Sheets) would be A1-split by the sheet parameter's P1
        # semantics; the gid path has no parsing surface at all.
        read_gsheet(
            spark,
            f"https://docs.google.com/spreadsheets/d/{sid}/edit"
            f"?gid={gid}#gid={gid}",
            **options,
        ).createOrReplaceGlobalTempView(view)
        rows.append((gid, title, sheet_index, sheet_type, view))
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
    **options,
) -> None:
    """COPY TO parity: ``COPY t TO '<url>' (FORMAT gsheet, ...)``.

    The reference appends one ordered stream
    (src/gsheets_copy.cpp:129-181). The sink buffers each partition's
    stringified rows in its commit message. Once the job has succeeded,
    the driver resolves, clears and writes the header, then appends the
    rows once, in partition order — so row order matches the frame's
    partition order even with parallel tasks, task retries/speculative
    attempts can never double-append, and a failed job leaves the sheet
    untouched.
    """
    register(df.sparkSession)
    df.write.format("gsheets").mode(mode).options(**options).save(url_or_id)


def write_gsheet_stream(
    stream_df: DataFrame,
    url_or_id: str,
    checkpoint_dir: str,
    mode: str = "overwrite",
    timeout_s: float = 120.0,
    **options,
):
    """Streaming sink twin of :func:`write_gsheet`: continuously COPY
    a streaming DataFrame TO a sheet through
    ``writeStream.format("gsheets")`` — the shape a live ingest-gate
    dashboard publishes through (the reference's COPY is batch-only;
    this is the Spark-native extension of the same sink, one ordered
    append stream per micro-batch, src/gsheets_copy.cpp:129-181
    semantics per batch).

    Each micro-batch commits through the batch writer's own commit.
    Batch 0 honors ``mode`` AND the full K1 clear matrix (overwrite
    clears + writes the header once; ``overwrite_range=True`` with a
    ``range`` option clears ONLY the target range, the
    ``copy_to_range_flags.test:59-69`` semantics); every later
    micro-batch appends rows only, and a later batch without rows
    makes no call. The batch id comes from the checkpoint, so a restart
    on the same checkpoint never clears again. Durability contract:
    the checkpoint gives at-least-once delivery, and Sheets appends
    are not idempotent — a batch retried after a sink-side failure can
    duplicate rows, exactly as re-running the reference's COPY would.
    Dedup by key belongs in the sheet's consumer or in a pre-sink
    ``dropDuplicates``.

    Runs with an ``availableNow`` trigger (drain-all semantics) and
    blocks until the drain finishes;
    returns the terminated query handle.
    """
    register(stream_df.sparkSession)
    query = (
        stream_df.writeStream.format("gsheets")
        .options(**options, mode=mode, checkpointLocation=checkpoint_dir)
        .trigger(availableNow=True)
        .start(url_or_id)
    )
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"gsheets streaming sink did not drain within {timeout_s}s; "
            "query stopped — re-trigger with the same checkpoint to resume"
        )
    return query
