"""Sheets API v4 client: typed metadata model + values/spreadsheet
resources over the transport layer.

Behavior parity with the reference's client facade and resources
(src/include/sheets/client.hpp:13-41, src/sheets/resources/*.cpp):
same endpoints, same ``valueInputOption=USER_ENTERED``, same error
mapping (non-2xx → SheetsApiError, bad JSON → SheetsParseError), same
sheet lookup by id/name/index with SheetNotFoundError.
"""

from __future__ import annotations

import io
import json
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.json as pa_json

from duckdb_gsheets_spark.sources.gsheets.auth import AuthProvider
from duckdb_gsheets_spark.sources.gsheets.errors import (
    SheetNotCreatedError,
    SheetNotFoundError,
    SheetsApiError,
    SheetsParseError,
)
from duckdb_gsheets_spark.sources.gsheets.transport import HttpResponse, Transport
from duckdb_gsheets_spark.sources.gsheets.urls import url_encode
from duckdb_gsheets_spark.version import __version__

BASE_URL = "https://sheets.googleapis.com/v4"


@dataclass(frozen=True)
class SheetProperties:
    """One sheet (tab) (reference: types.hpp:27-40)."""

    sheet_id: int
    title: str
    index: int
    sheet_type: str = "GRID"


@dataclass(frozen=True)
class SpreadsheetMetadata:
    """Spreadsheet-level metadata (reference: types.hpp:11-49)."""

    spreadsheet_id: str
    title: str
    locale: str = ""
    time_zone: str = ""
    sheets: tuple[SheetProperties, ...] = field(default_factory=tuple)


#: The grid of a values response: one list of cell texts per row, JSON
#: ``null`` as NULL. Large offsets: a grid near the Sheets cap (10M
#: cells) can hold more than 2 GB of text.
GRID_TYPE = pa.large_list(pa.large_string())


@dataclass(frozen=True)
class ValueRange:
    """Row-oriented payload (reference: types.hpp:95-101). ``values``
    is the grid as one :data:`GRID_TYPE` array, every row as the
    response has it (header row included), each cell as text: a string
    cell as is, any other JSON scalar as ``str()`` of its Python value
    (see :func:`as_grid`). The reader's inference types the columns
    (``inference.cast_rows``)."""

    range: str
    values: pa.LargeListArray
    major_dimension: str = "ROWS"


def as_grid(rows: list) -> pa.LargeListArray:
    """Decoded JSON rows as a :data:`GRID_TYPE` array: a row of strings
    and ``null`` as is, any other scalar (a number or boolean under a
    non-default value rendering) as ``str()`` of it."""
    try:
        return pa.array(rows, GRID_TYPE)
    except pa.ArrowTypeError:
        return pa.array(
            [[c if c is None else str(c) for c in row] for row in rows], GRID_TYPE
        )


#: The fields of a values response, as Arrow's JSON reader decodes
#: them; any other field is skipped.
_VALUES_SCHEMA = pa.schema(
    [
        ("range", pa.string()),
        ("majorDimension", pa.string()),
        ("values", pa.list_(pa.list_(pa.string()))),
    ]
)
_VALUES_PARSE = pa_json.ParseOptions(
    explicit_schema=_VALUES_SCHEMA,
    newlines_in_values=True,  # the API indents its JSON
    unexpected_field_behavior="ignore",
)


def _arrow_values(body: str, a1: str) -> ValueRange | None:
    """A 2xx values body read by Arrow's JSON reader, or None when that
    reader cannot type it as exactly one object under
    :data:`_VALUES_SCHEMA`. A body that is not an object never reaches
    the reader: it crashes on a bare ``null``."""
    if not body.lstrip(" \t\n\r").startswith("{"):
        return None
    try:
        data = body.encode()
        table = pa_json.read_json(
            io.BytesIO(data),
            read_options=pa_json.ReadOptions(
                use_threads=False, block_size=len(data) + 1
            ),
            parse_options=_VALUES_PARSE,
        )
    except (ValueError, OverflowError):  # ArrowInvalid, UnicodeEncodeError
        return None
    if table.num_rows != 1:
        return None
    return ValueRange(
        range=table.column("range")[0].as_py() or a1,
        values=table.column("values").combine_chunks().flatten().cast(GRID_TYPE),
        major_dimension=table.column("majorDimension")[0].as_py() or "ROWS",
    )


def _parse_json(resp: HttpResponse) -> dict:
    """Non-2xx → SheetsApiError; bad JSON → SheetsParseError
    (reference: response.hpp:11-21)."""
    if resp.status >= 300:
        raise SheetsApiError(resp.status, resp.body)
    try:
        return json.loads(resp.body) if resp.body else {}
    except json.JSONDecodeError as ex:
        raise SheetsParseError(f"malformed response JSON: {ex}") from ex


class GSheetsClient:
    """Facade: shared headers + resource accessors."""

    def __init__(
        self,
        transport: Transport,
        auth: AuthProvider,
        base_url: str = BASE_URL,
    ):
        self._transport = transport
        self._auth = auth
        self.base_url = base_url.rstrip("/")

    def headers(self) -> dict[str, str]:
        return {
            "Authorization": self._auth.authorization_header(),
            "Content-Type": "application/json",
            "Accept": "application/json",
            "User-Agent": f"duckdb-gsheets-spark/{__version__}",
        }

    def spreadsheet(self, spreadsheet_id: str) -> "SpreadsheetResource":
        return SpreadsheetResource(self, spreadsheet_id)

    def values(self, spreadsheet_id: str) -> "ValuesResource":
        return ValuesResource(self, spreadsheet_id)

    # HTTP verbs against base_url + path (reference: base.cpp:7-31).
    def do_get(self, path: str) -> HttpResponse:
        return self._transport.get(self.base_url + path, self.headers())

    def do_post(self, path: str, payload: dict) -> HttpResponse:
        return self._transport.post(
            self.base_url + path, json.dumps(payload), self.headers()
        )

    def do_put(self, path: str, payload: dict) -> HttpResponse:
        return self._transport.put(
            self.base_url + path, json.dumps(payload), self.headers()
        )


class SpreadsheetResource:
    """Metadata + sheet management (reference: spreadsheet.cpp)."""

    def __init__(self, client: GSheetsClient, spreadsheet_id: str):
        self._client = client
        self.spreadsheet_id = spreadsheet_id

    def get_metadata(self) -> SpreadsheetMetadata:
        payload = _parse_json(
            self._client.do_get(f"/spreadsheets/{self.spreadsheet_id}")
        )
        try:
            props = payload.get("properties", {})
            sheets = tuple(
                SheetProperties(
                    sheet_id=s["properties"]["sheetId"],
                    title=s["properties"]["title"],
                    index=s["properties"].get("index", i),
                    sheet_type=s["properties"].get("sheetType", "GRID"),
                )
                for i, s in enumerate(payload.get("sheets", []))
            )
            return SpreadsheetMetadata(
                spreadsheet_id=payload.get("spreadsheetId", self.spreadsheet_id),
                title=props.get("title", ""),
                locale=props.get("locale", ""),
                time_zone=props.get("timeZone", ""),
                sheets=sheets,
            )
        except (KeyError, TypeError) as ex:
            raise SheetsParseError(f"malformed spreadsheet metadata: {ex}") from ex

    def sheet_by_id(self, sheet_id: int) -> SheetProperties:
        for sheet in self.get_metadata().sheets:
            if sheet.sheet_id == sheet_id:
                return sheet
        raise SheetNotFoundError(sheet_id)

    def sheet_by_name(self, name: str) -> SheetProperties:
        for sheet in self.get_metadata().sheets:
            if sheet.title == name:
                return sheet
        raise SheetNotFoundError(name)

    def sheet_by_index(self, index: int) -> SheetProperties:
        sheets = self.get_metadata().sheets
        for sheet in sheets:
            if sheet.index == index:
                return sheet
        raise SheetNotFoundError(index)

    def create_sheet(self, name: str) -> SheetProperties:
        """addSheet via batchUpdate (reference: spreadsheet.cpp:56-75)."""
        payload = _parse_json(
            self._client.do_post(
                f"/spreadsheets/{self.spreadsheet_id}:batchUpdate",
                {"requests": [{"addSheet": {"properties": {"title": name}}}]},
            )
        )
        try:
            props = payload["replies"][0]["addSheet"]["properties"]
            return SheetProperties(
                sheet_id=props["sheetId"],
                title=props["title"],
                index=props.get("index", 0),
            )
        except (KeyError, IndexError, TypeError) as ex:
            raise SheetNotCreatedError(f"addSheet reply malformed: {ex}") from ex


class ValuesResource:
    """values.get/update/append/clear (reference: values.cpp:12-34)."""

    def __init__(self, client: GSheetsClient, spreadsheet_id: str):
        self._client = client
        self.spreadsheet_id = spreadsheet_id

    def _path(self, a1: str, suffix: str = "") -> str:
        return (
            f"/spreadsheets/{self.spreadsheet_id}/values/{url_encode(a1)}{suffix}"
        )

    def get(self, a1: str) -> ValueRange:
        """One values GET, its body decoded once, straight into the
        grid by Arrow's JSON reader. A body that reader cannot read as
        one object of string cells (a number or boolean cell, a lone
        surrogate escape, malformed JSON) is read as before:
        :func:`_parse_json`, then :func:`as_grid`, with the same
        results and errors."""
        resp = self._client.do_get(self._path(a1))
        decoded = _arrow_values(resp.body, a1) if resp.status < 300 else None
        if decoded is not None:
            return decoded
        payload = _parse_json(resp)
        return ValueRange(
            range=payload.get("range", a1),
            values=as_grid(payload.get("values") or []),
            major_dimension=payload.get("majorDimension", "ROWS"),
        )

    def update(self, a1: str, values: list[list[str]]) -> dict:
        return _parse_json(
            self._client.do_put(
                self._path(a1, "?valueInputOption=USER_ENTERED"),
                {"range": a1, "majorDimension": "ROWS", "values": values},
            )
        )

    def append(self, a1: str, values: list[list[str]]) -> dict:
        return _parse_json(
            self._client.do_post(
                self._path(a1, ":append?valueInputOption=USER_ENTERED"),
                {"range": a1, "majorDimension": "ROWS", "values": values},
            )
        )

    def clear(self, a1: str) -> dict:
        return _parse_json(self._client.do_post(self._path(a1, ":clear"), {}))
