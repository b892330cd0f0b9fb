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
* ``spark.readStream.format("gsheets")`` refetches the range with one
  values.get per micro-batch in :class:`GSheetsStreamReader`, casts
  the new rows with the schema fixed at stream start and hands them to
  Spark as Arrow record batches.

Every surface speaks only the Sheets v4 API (plus the OAuth token
endpoint), like the reference.

Write lifecycle (parity with gsheets_copy.cpp), ``df.write`` and
``df.writeStream`` alike: each task only stringifies its rows into its
commit message; once every task has succeeded, ``commit()`` makes all
of the write's Sheets calls (resolve, optional create, clear, header,
then the rows in partition order as ``values.append`` calls of 2048
rows). A stream clears and writes the header at micro-batch 0 only.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping
from dataclasses import dataclass

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
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
from duckdb_gsheets_spark.sources.gsheets.client import BASE_URL, GSheetsClient
from duckdb_gsheets_spark.sources.gsheets.errors import (
    SheetNotFoundError,
    SheetsError,
)
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
    return GSheetsClient(transport, auth, options.get("api_base", BASE_URL))


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
    when that GET shows it missing. Any other failure of the GET (an
    HTTP error, malformed metadata) propagates as is.
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
        except SheetNotFoundError:
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

    def streamWriter(self, schema: StructType, overwrite: bool) -> "GSheetsWriter":
        """The batch writer, committed per micro-batch. Option ``mode``
        (default ``overwrite``) plays ``df.write``'s mode at batch 0;
        Spark's flag only marks the complete output mode."""
        overwrite = self.options.get("mode", "overwrite").lower() == "overwrite"
        return GSheetsWriter(dict(self.options), schema, overwrite)

    def simpleStreamReader(self, schema: StructType) -> "GSheetsStreamReader":
        """``spark.readStream.format("gsheets")``: micro-batch polling
        of the sheet (beyond-reference; the reference has no streaming
        surface — SURVEY §2.2)."""
        sheet_schema, _ = self._fetch()
        return GSheetsStreamReader(dict(self.options), sheet_schema)


class GSheetsStreamReader(SimpleDataSourceStreamReader):
    """Poll-based micro-batch reader: the offset is the count of data
    rows already emitted. Every trigger fetches the range with one
    values GET and casts and emits only the rows past the last offset,
    with the schema fixed at stream start, as Arrow record batches;
    ``read`` and ``readBetweenOffsets`` share that one fetch-and-slice.
    The Sheets API has no cheap change signal, so an unchanged sheet
    costs the same GET and emits nothing. A checkpoint that also carries a
    ``version`` key (written by an earlier reader) resumes from its
    ``rows`` alone.

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

    def _slice(
        self, start: dict, end: dict | None = None
    ) -> tuple[Iterator[pa.RecordBatch], dict]:
        """Fetch the range and return the data rows from ``start`` up to
        ``end`` (the current last row when ``end`` is None), cast, with
        the offset they end at. Only those rows, a slice of the fetched
        Arrow grid, are cast; no rows give no batch, as Spark wants of a
        read that did not advance."""
        if self._client is None:
            self._client = _build_client(self._options)
            self._target = _resolve_target(self._options, self._client)
        grid = self._client.values(self._target.spreadsheet_id).get(
            self._target.a1()
        ).values
        rows = grid[1:] if self._header else grid
        stop = len(rows) if end is None else end["rows"]
        begin = min(start["rows"], stop)
        table = cast_rows(rows[begin:stop], self._schema, header=False)
        return iter(table.to_batches() if table.num_rows else []), {"rows": stop}

    def initialOffset(self) -> dict:
        return {"rows": 0}

    def read(self, start: dict) -> tuple[Iterator[pa.RecordBatch], dict]:
        return self._slice(start)

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[pa.RecordBatch]:
        return self._slice(start, end)[0]


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
    buffering here and appending there makes a job's appends
    exactly-once. Driver-side buffering is safe for this sink because
    the Sheets API caps a spreadsheet at 10M cells — the payload is
    bounded small.
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


class GSheetsWriter(DataSourceWriter, DataSourceStreamWriter):
    """COPY TO parity: mode matrix from gsheets_copy.cpp:39-52.

    | overwrite_sheet | overwrite_range | effect                      |
    |-----------------|-----------------|-----------------------------|
    | true (default)  | false           | clear whole sheet, append   |
    | false           | true            | clear only target range     |
    | false           | false           | pure append below existing  |

    header defaults to (overwrite_sheet or overwrite_range);
    create_if_not_exists requires an explicit sheet name.

    The constructor only reads options: Spark builds the writer before
    the job, and a stream builds it again for every micro-batch's
    commit. Every Sheets call runs in :meth:`commit`, after all tasks
    have succeeded, so a failed job leaves the sheet as it was and
    ``abort`` (the base class's no-op) has nothing to undo. The cost: a
    wrong sheet name fails after the job, not before it; the Sheets
    10M-cell cap bounds that job. A batch write commits as micro-batch
    0 of a stream.
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

    def write(self, iterator: Iterator) -> AppendResult:
        """Executor side: stringify only — rows ship to the driver in
        the commit message; all appends happen once in :meth:`commit`
        (retry/speculation-safe, see :class:`AppendResult`)."""
        ctx = TaskContext.get()
        partition_id = ctx.partitionId() if ctx is not None else 0
        return AppendResult(
            partition_id, [[_stringify(v) for v in row] for row in iterator]
        )

    def commit(self, messages, batchId: int = 0) -> None:
        """Driver side, gsheets_copy.cpp:54-181 with one client: resolve
        the target (creating it if asked), clear, write the header, then
        append every partition's rows in partition order (deterministic
        regardless of task scheduling), 2048 rows per POST. Only batch 0
        clears and writes the header; a later batch without rows makes
        no call."""
        parts = sorted(
            (m for m in messages if m is not None), key=lambda m: m.partition_id
        )
        if batchId > 0 and not any(m.rows for m in parts):
            return
        client = _build_client(self._options)
        target = _resolve_target(
            self._options, client, create_missing=self.create_if_not_exists
        )
        values = client.values(target.spreadsheet_id)
        a1 = target.a1()
        if batchId == 0:
            # Range clear beats sheet clear (src/gsheets_copy.cpp:98-104).
            if self.overwrite_range and target.cell_range:
                values.clear(a1)
            elif self.overwrite_sheet:
                values.clear(A1Range(target.sheet_name, None).to_string())
            if self.header:
                header_row = [[f.name for f in self._schema.fields]]
                if target.cell_range:
                    values.update(a1, header_row)
                else:
                    values.append(a1, header_row)
        for msg in parts:
            for start in range(0, len(msg.rows), BATCH_ROWS):
                values.append(a1, msg.rows[start : start + BATCH_ROWS])
