"""The ``gsheets`` Spark Data Source (Python Data Source API, Spark 4).

Spark-first equivalent of the reference's three surfaces (SURVEY §0):
the ``read_gsheet`` table function becomes
``spark.read.format("gsheets").load(url_or_id)``, the COPY TO sink
becomes ``df.write.format("gsheets")``, and the secret layer becomes
options/env resolution (auth.py). Catalyst supplies every relational
operator above the scan.

Read lifecycle (parity with ReadSheetBind, src/gsheets_read.cpp:86-241):
:func:`bind` resolves options + URL params (spreadsheet, sheet, A1
range) with at most one metadata GET, fetches the whole range with ONE
values.get (the reference's eager fetch — ≤10M cells by product limit,
so driver memory is safe), fixes the schema by first-row type
inference and casts the grid into one Arrow table. Every read surface
shares that bind and that table:

* ``read_gsheet`` / ``sheets_sql`` (api.py) bind in the calling process
  and hand the table to ``spark.createDataFrame``, which the JVM scans
  one record batch per partition, so no Python worker runs;
* ``spark.read.format("gsheets")`` and ``CREATE TEMPORARY VIEW ...
  USING gsheets`` bind in Spark's planning worker; :class:`GSheetsReader`
  serves the table as one partition per Arrow record batch;
* ``spark.readStream.format("gsheets")`` re-binds the grid per
  micro-batch in :class:`GSheetsStreamReader`.

Write lifecycle (parity with gsheets_copy.cpp): driver-side setup
(resolve sheet > gid > index 0, optional create, clear per
overwrite_sheet/overwrite_range, header append exactly once), then
per-partition batched ``values.append`` calls of 2048 rows.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping
from dataclasses import dataclass

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from duckdb_gsheets_spark.sources.gsheets.a1 import A1Range
from duckdb_gsheets_spark.sources.gsheets.auth import (
    auth_from_options,
    redact_options,
)
from duckdb_gsheets_spark.sources.gsheets.client import (
    BASE_URL,
    DRIVE_URL,
    GSheetsClient,
)
from duckdb_gsheets_spark.sources.gsheets.errors import SheetsError
from duckdb_gsheets_spark.sources.gsheets.inference import (
    SheetSchema,
    cast_rows,
    infer_schema,
)
from duckdb_gsheets_spark.sources.gsheets.transport import RequestsTransport
from duckdb_gsheets_spark.sources.gsheets.urls import (
    extract_sheet_id,
    extract_sheet_range,
    extract_spreadsheet_id,
)

BATCH_ROWS = 2048  # reference STANDARD_VECTOR_SIZE (src/gsheets_read.cpp:44)

#: Rows per read partition: Spark's default
#: ``spark.sql.execution.arrow.maxRecordsPerBatch``, the cut
#: ``createDataFrame`` makes of the same table on the ``read_gsheet`` path.
ARROW_BATCH_ROWS = 10_000


def _truthy(value: str | bool | None, default: bool) -> bool:
    if value is None:
        return default
    if isinstance(value, bool):
        return value
    return value.strip().lower() in ("true", "1", "yes", "t")


@dataclass
class ResolvedTarget:
    spreadsheet_id: str
    sheet_name: str
    cell_range: str | None

    def a1(self) -> str:
        return A1Range(self.sheet_name, self.cell_range).to_string()


def _build_client(options: Mapping) -> GSheetsClient:
    transport = RequestsTransport(
        proxy=options.get("proxy"),
        proxy_username=options.get("proxy_username"),
        proxy_password=options.get("proxy_password"),
    )
    auth = auth_from_options(options, transport)
    if auth is None:
        raise SheetsError(
            "no credentials: set option 'token' or 'key_file', or env "
            "GSHEETS_TOKEN / GOOGLE_APPLICATION_CREDENTIALS "
            f"(got options: {redact_options(options)})"
        )
    api_base = options.get("api_base", BASE_URL)
    # Drive base for the streaming reader's revision poll: explicit
    # option wins; otherwise, when a custom api_base points at a
    # hermetic/proxy host, derive its Drive root on the SAME host
    # (strip the Sheets /v4 suffix) so one fake server serves both
    # surfaces; the public default is DRIVE_URL.
    drive_base = options.get("drive_base")
    if drive_base is None:
        if api_base == BASE_URL:
            drive_base = DRIVE_URL
        else:
            drive_base = api_base.rstrip("/").removesuffix("/v4") + "/drive/v3"
    return GSheetsClient(transport, auth, api_base, drive_base)


def _resolve_target(
    options: Mapping, client: GSheetsClient, create_missing: bool = False
) -> ResolvedTarget:
    """Options + URL params → (spreadsheet, sheet, range), for the
    reader, the stream reader and the writer alike.

    Precedence (reference: src/gsheets_read.cpp:100-177,
    src/gsheets_copy.cpp:72-94): explicit ``sheet``/``range`` options
    beat URL ``gid=``/``range=`` params; a ``sheet`` option may embed
    A1 notation after ``!``, and without ``!`` it is a tab name even
    when it also reads as a cell or column (``out``, ``Q1``); default
    sheet is index 0. A named sheet costs one metadata GET to validate;
    ``create_missing`` (the writer's ``create_if_not_exists``) adds it
    instead of failing.
    """
    url = options.get("path") or options.get("url") or ""
    spreadsheet_id = extract_spreadsheet_id(url)
    sheet_name = options.get("sheet")
    cell_range = options.get("range")

    if sheet_name:
        parsed = A1Range.parse(sheet_name)
        if parsed.sheet is not None:
            sheet_name = parsed.sheet
            if cell_range is None:
                cell_range = parsed.cell_range

    if cell_range is None:
        cell_range = extract_sheet_range(url)

    spreadsheet = client.spreadsheet(spreadsheet_id)
    if sheet_name is None:
        gid = extract_sheet_id(url)
        if gid is not None:
            sheet_name = spreadsheet.sheet_by_id(gid).title
        else:
            sheet_name = spreadsheet.sheet_by_index(0).title
    else:
        # Validate existence like the reference (SheetNotFoundException).
        try:
            spreadsheet.sheet_by_name(sheet_name)
        except SheetsError:
            if not create_missing:
                raise
            spreadsheet.create_sheet(sheet_name)
    return ResolvedTarget(spreadsheet_id, sheet_name, cell_range)


def bind(options: Mapping) -> tuple[SheetSchema, pa.Table]:
    """The one read bind: resolve the target, fetch the whole range
    once, infer the schema and cast the grid into an Arrow table.

    ``options`` is normalised as Spark hands them to a data source:
    case-insensitive keys, string values."""
    client = _build_client(options)
    target = _resolve_target(options, client)
    header = _truthy(options.get("header"), True)
    a1 = target.a1()
    values = client.values(target.spreadsheet_id).get(a1).values
    schema = infer_schema(
        values,
        header=header,
        all_varchar=_truthy(options.get("all_varchar"), False),
        range_label=a1,
    )
    return schema, cast_rows(values, schema, header=header)


class GSheetsDataSource(DataSource):
    """format("gsheets"): read and write Google Sheets as tables."""

    @classmethod
    def name(cls) -> str:
        return "gsheets"

    def __init__(self, options):
        super().__init__(options)
        self._cached: tuple[SheetSchema, pa.Table] | None = None

    def _fetch(self) -> tuple[SheetSchema, pa.Table]:
        """Bind once: ``schema()`` runs first, and Spark ships this
        instance, cache included, to the planning worker."""
        if self._cached is None:
            self._cached = bind(self.options)
        return self._cached

    def schema(self) -> StructType:
        sheet_schema, _ = self._fetch()
        return sheet_schema.to_struct_type()

    def reader(self, schema: StructType) -> "GSheetsReader":
        _, table = self._fetch()
        # Spark pickles this instance into every read task's command:
        # the table travels in the partitions instead.
        self._cached = None
        return GSheetsReader(table)

    def writer(self, schema: StructType, overwrite: bool) -> "GSheetsWriter":
        return GSheetsWriter(dict(self.options), schema, overwrite)

    def simpleStreamReader(self, schema: StructType) -> "GSheetsStreamReader":
        """``spark.readStream.format("gsheets")``: micro-batch polling
        of the sheet (beyond-reference; the reference has no streaming
        surface — SURVEY §2.2)."""
        sheet_schema, _ = self._fetch()
        return GSheetsStreamReader(dict(self.options), sheet_schema)


class GSheetsStreamReader(SimpleDataSourceStreamReader):
    """Poll-based micro-batch reader: the offset is the count of data
    rows already emitted plus the spreadsheet's Drive REVISION counter
    at the time they were read; each batch first polls the cheap
    revision signal (``files.get(fields=version)`` — one tiny metadata
    GET) and refetches the grid ONLY when the revision moved, emitting
    the rows appended since the last offset.

    Revision-polling semantics: Drive's ``version`` is a monotonically
    increasing per-file counter that bumps on EVERY mutation (values,
    metadata, any sheet in the spreadsheet), so ``version unchanged``
    is a sound "no new rows" proof, while ``version changed`` merely
    permits a refetch that may find nothing appended (an edit to
    another tab) — correct either way, never missing data. When the
    Drive surface is unavailable (scope, proxy, hermetic server
    without the route) the poll returns ``None`` and every trigger
    degrades to the unconditional refetch — revision polling is an
    optimization, not a correctness dependency (pinned by
    tests/test_streaming.py::test_gsheets_stream_reader_degrades_without_drive).

    The schema is fixed at stream start (Spark's contract). Rows are
    assumed append-only between polls — in-place edits of
    already-emitted rows are NOT re-emitted (same cursor model as a
    file tail); shrinking the sheet makes the source re-emit from the
    new end, documented rather than hidden. ``readBetweenOffsets``
    replays a committed batch by slicing the refetched grid — exact
    when the sheet is append-only, best-effort otherwise (the Sheets
    API has no point-in-time snapshots).
    """

    def __init__(self, options: dict, schema: SheetSchema):
        self._options = options
        self._schema = schema
        self._header = _truthy(options.get("header"), True)
        self._client: GSheetsClient | None = None
        self._target: ResolvedTarget | None = None

    def _connect(self) -> None:
        if self._client is None:
            self._client = _build_client(dict(self._options))
            self._target = _resolve_target(dict(self._options), self._client)

    def _table(self) -> pa.Table:
        self._connect()
        grid = self._client.values(self._target.spreadsheet_id).get(
            self._target.a1()
        )
        return cast_rows(grid.values, self._schema, header=self._header)

    def _version(self) -> int | None:
        self._connect()
        return self._client.file_version(self._target.spreadsheet_id)

    def initialOffset(self) -> dict:
        return {"rows": 0, "version": None}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        v = self._version()
        # Unchanged revision => provably nothing new; skip the grid
        # fetch entirely and keep the offset (None never equals an
        # int, so a missing Drive surface always falls through; a
        # pre-revision checkpoint has no "version" key and refetches
        # once, then carries the revision forward).
        if v is not None and start.get("version") == v:
            return iter(()), start
        table = self._table()
        begin = min(start["rows"], table.num_rows)
        return _tuples(table.slice(begin)), {"rows": table.num_rows, "version": v}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        table = self._table()
        return _tuples(table.slice(start["rows"], end["rows"] - start["rows"]))


def _tuples(table: pa.Table) -> Iterator[tuple]:
    return zip(*(column.to_pylist() for column in table.columns))


@dataclass
class ArrowBlock(InputPartition):
    batch: pa.RecordBatch


def _compact(batch: pa.RecordBatch) -> pa.RecordBatch:
    """A copy that owns only its own rows: a slice pickles together
    with its parent's full buffers."""
    return pa.RecordBatch.from_arrays(
        [pa.concat_arrays([column]) for column in batch.columns],
        schema=batch.schema,
    )


class GSheetsReader(DataSourceReader):
    """Serve the bound Arrow table as one partition per record batch of
    at most :data:`ARROW_BATCH_ROWS` rows, the cut ``createDataFrame``
    makes on the ``read_gsheet`` path; ``read()`` yields the batch as
    is, so no row is converted in the read task.

    Each batch travels INSIDE its ``ArrowBlock`` InputPartition, copied
    out of the table, and the reader drops its own table reference in
    ``partitions()``: the pickled reader shipped with every task is
    then ~empty, so a task deserializes only its own rows instead of
    the whole grid.
    """

    def __init__(self, table: pa.Table):
        self._table = table

    def partitions(self) -> list[ArrowBlock]:
        table, self._table = self._table, None  # keep the task-pickled reader slim
        batches = table.to_batches(max_chunksize=ARROW_BATCH_ROWS) or [
            pa.RecordBatch.from_pylist([], schema=table.schema)
        ]
        return [ArrowBlock(_compact(batch)) for batch in batches]

    def read(self, partition: ArrowBlock) -> Iterator[pa.RecordBatch]:
        yield partition.batch


@dataclass
class AppendResult(WriterCommitMessage):
    """Per-partition buffered rows, applied once in ``commit()``.

    Executor tasks do NO network IO: Spark may re-run ``write()`` on
    task retry or speculative execution, but exactly one successful
    attempt's commit message per partition reaches ``commit()``, so
    buffering here and appending there makes the sink exactly-once.
    Driver-side buffering is safe for this sink because the Sheets API
    caps a spreadsheet at 10M cells — the payload is bounded small.
    """

    partition_id: int
    rows: list[list[str]]


def _stringify(value) -> str:
    """Cell serialization for USER_ENTERED writes (reference
    Value::ToString, src/gsheets_copy.cpp:163-175): NULL → ''."""
    if value is None:
        return ""
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


class GSheetsWriter(DataSourceWriter):
    """COPY TO parity: mode matrix from gsheets_copy.cpp:39-52.

    | overwrite_sheet | overwrite_range | effect                      |
    |-----------------|-----------------|-----------------------------|
    | true (default)  | false           | clear whole sheet, append   |
    | false           | true            | clear only target range     |
    | false           | false           | pure append below existing  |

    header defaults to (overwrite_sheet or overwrite_range);
    create_if_not_exists requires an explicit sheet name. Driver-side
    setup runs once in __init__ (the reference's global init); the
    pickled writer carries only what executors need for appends.
    """

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        self._options = options
        self._schema = schema
        self.overwrite_range = _truthy(options.get("overwrite_range"), False)
        self.overwrite_sheet = _truthy(
            options.get("overwrite_sheet"), overwrite and not self.overwrite_range
        )
        self.create_if_not_exists = _truthy(
            options.get("create_if_not_exists"), False
        )
        self.header = _truthy(
            options.get("header"), self.overwrite_sheet or self.overwrite_range
        )
        if self.create_if_not_exists and not options.get("sheet"):
            raise SheetsError(
                "create_if_not_exists requires an explicit 'sheet' option"
            )
        self._setup()

    def _setup(self) -> None:
        """Resolve sheet, optionally create, clear, write header once."""
        client = _build_client(self._options)
        target = _resolve_target(
            self._options, client, create_missing=self.create_if_not_exists
        )
        values = client.values(target.spreadsheet_id)
        # Range clear beats sheet clear (src/gsheets_copy.cpp:98-104).
        if self.overwrite_range and target.cell_range:
            values.clear(target.a1())
        elif self.overwrite_sheet:
            values.clear(A1Range(target.sheet_name, None).to_string())

        self._append_a1 = target.a1()
        self._spreadsheet_id = target.spreadsheet_id
        if self.header:
            header_row = [[f.name for f in self._schema.fields]]
            if target.cell_range:
                values.update(self._append_a1, header_row)
            else:
                values.append(self._append_a1, header_row)

    def write(self, iterator: Iterator) -> AppendResult:
        """Executor side: stringify only — rows ship to the driver in
        the commit message; all appends happen once in :meth:`commit`
        (retry/speculation-safe, see :class:`AppendResult`)."""
        ctx = TaskContext.get()
        partition_id = ctx.partitionId() if ctx is not None else 0
        return AppendResult(
            partition_id, [[_stringify(v) for v in row] for row in iterator]
        )

    def commit(self, messages) -> None:
        """Driver side: append every partition's rows exactly once, in
        partition order (deterministic sheet row order regardless of
        task scheduling), 2048 rows per POST like the reference
        (src/gsheets_copy.cpp:129-181)."""
        client = _build_client(dict(self._options))
        values = client.values(self._spreadsheet_id)
        for msg in sorted(
            (m for m in messages if m is not None),
            key=lambda m: m.partition_id,
        ):
            for start in range(0, len(msg.rows), BATCH_ROWS):
                values.append(self._append_a1, msg.rows[start : start + BATCH_ROWS])

    def abort(self, messages) -> None:
        # Nothing was appended (appends happen only in commit), so a
        # failed job cannot leave partial data rows. The bind-time
        # clear/header from _setup may have run — documented, same
        # exposure as the reference's non-transactional COPY.
        return None
