"""Sheets API v4 client: typed metadata model + values/spreadsheet
resources over the transport layer.

Behavior parity with the reference's client facade and resources
(src/include/sheets/client.hpp:13-41, src/sheets/resources/*.cpp):
same endpoints, same ``valueInputOption=USER_ENTERED``, same error
mapping (non-2xx → SheetsApiError, bad JSON → SheetsParseError), same
sheet lookup by id/name/index with SheetNotFoundError.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

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


@dataclass(frozen=True)
class ValueRange:
    """Row-oriented payload (reference: types.hpp:95-101). ``values``
    holds the cells as the response JSON has them: strings under the
    default FORMATTED_VALUE rendering, any JSON scalar otherwise. The
    reader's inference turns them into text and types
    (``inference.cast_rows``), so no per-cell pass runs here."""

    range: str
    values: list[list]
    major_dimension: str = "ROWS"


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
        payload = _parse_json(self._client.do_get(self._path(a1)))
        return ValueRange(
            range=payload.get("range", a1),
            values=payload.get("values", []),
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
