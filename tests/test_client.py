"""Client/resources — pytest port of test_client.cpp, test_values.cpp,
test_spreadsheet.cpp: URL construction, headers, error mapping,
metadata decode, sheet lookup, addSheet."""

import json

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_gsheets_spark.sources.gsheets.auth import BearerTokenAuth
from duckdb_gsheets_spark.sources.gsheets.client import (
    GRID_TYPE,
    GSheetsClient,
    _arrow_values,
)
from duckdb_gsheets_spark.sources.gsheets.errors import (
    SheetNotCreatedError,
    SheetNotFoundError,
    SheetsApiError,
    SheetsParseError,
)
from duckdb_gsheets_spark.sources.gsheets.transport import MockTransport

META = {
    "spreadsheetId": "sid1",
    "properties": {"title": "Budget", "locale": "en_US", "timeZone": "Etc/UTC"},
    "sheets": [
        {"properties": {"sheetId": 0, "title": "Sheet1", "index": 0}},
        {"properties": {"sheetId": 644613997, "title": "Extras", "index": 1}},
    ],
}


def make_client() -> tuple[GSheetsClient, MockTransport]:
    transport = MockTransport()
    return GSheetsClient(transport, BearerTokenAuth("tok")), transport


def test_headers_injected():
    client, transport = make_client()
    transport.add_response(200, "{}")
    client.do_get("/spreadsheets/x")
    req = transport.requests[0]
    assert req.headers["Authorization"] == "Bearer tok"
    assert req.headers["Content-Type"] == "application/json"
    assert req.headers["User-Agent"].startswith("duckdb-gsheets-spark/")


def test_default_and_custom_base_url():
    client, transport = make_client()
    transport.add_response(200, "{}")
    client.do_get("/x")
    assert transport.requests[0].url == "https://sheets.googleapis.com/v4/x"
    transport2 = MockTransport()
    custom = GSheetsClient(transport2, BearerTokenAuth("t"), "http://localhost:9/v4")
    transport2.add_response(200, "{}")
    custom.do_get("/x")
    assert transport2.requests[0].url == "http://localhost:9/v4/x"


def test_values_get_url():
    client, transport = make_client()
    transport.add_response(200, json.dumps({"values": [["a", "b"]]}))
    vr = client.values("sid1").get("Sheet1!A1:B2")
    assert transport.requests[0].url.endswith(
        "/spreadsheets/sid1/values/Sheet1%21A1%3AB2"
    )
    assert vr.values.to_pylist() == [["a", "b"]]


def test_values_update_url():
    client, transport = make_client()
    transport.add_response(200, "{}")
    client.values("sid1").update("Sheet1!A1", [["x"]])
    req = transport.requests[0]
    assert req.method == "PUT"
    assert "valueInputOption=USER_ENTERED" in req.url
    assert json.loads(req.body)["values"] == [["x"]]


def test_values_append_url():
    client, transport = make_client()
    transport.add_response(200, "{}")
    client.values("sid1").append("Sheet1", [["x"]])
    req = transport.requests[0]
    assert req.method == "POST"
    assert ":append?valueInputOption=USER_ENTERED" in req.url


def test_values_clear_url():
    client, transport = make_client()
    transport.add_response(200, "{}")
    client.values("sid1").clear("Sheet1")
    assert transport.requests[0].url.endswith("/values/Sheet1:clear")


def test_api_error_404():
    client, transport = make_client()
    transport.add_response(404, '{"error": {"message": "nope"}}')
    with pytest.raises(SheetsApiError) as exc:
        client.values("sid1").get("Sheet1")
    assert exc.value.status == 404


def test_parse_error():
    client, transport = make_client()
    transport.add_response(200, "<html>not json</html>")
    with pytest.raises(SheetsParseError):
        client.values("sid1").get("Sheet1")


def test_metadata_decode_and_lookup():
    client, transport = make_client()
    for _ in range(4):
        transport.add_response(200, json.dumps(META))
    meta = client.spreadsheet("sid1").get_metadata()
    assert meta.title == "Budget"
    assert [s.title for s in meta.sheets] == ["Sheet1", "Extras"]
    assert client.spreadsheet("sid1").sheet_by_id(644613997).title == "Extras"
    assert client.spreadsheet("sid1").sheet_by_name("Sheet1").sheet_id == 0
    assert client.spreadsheet("sid1").sheet_by_index(1).title == "Extras"


def test_sheet_not_found():
    client, transport = make_client()
    for _ in range(3):
        transport.add_response(200, json.dumps(META))
    with pytest.raises(SheetNotFoundError):
        client.spreadsheet("sid1").sheet_by_id(12345)
    with pytest.raises(SheetNotFoundError):
        client.spreadsheet("sid1").sheet_by_name("Missing")
    with pytest.raises(SheetNotFoundError):
        client.spreadsheet("sid1").sheet_by_index(9)


def test_create_sheet():
    client, transport = make_client()
    transport.add_response(
        200,
        json.dumps(
            {
                "replies": [
                    {"addSheet": {"properties": {"sheetId": 7, "title": "New", "index": 2}}}
                ]
            }
        ),
    )
    props = client.spreadsheet("sid1").create_sheet("New")
    assert props.sheet_id == 7
    body = json.loads(transport.requests[0].body)
    assert body["requests"][0]["addSheet"]["properties"]["title"] == "New"


def test_create_sheet_malformed_reply():
    client, transport = make_client()
    transport.add_response(200, json.dumps({"replies": [{}]}))
    with pytest.raises(SheetNotCreatedError):
        client.spreadsheet("sid1").create_sheet("New")


_CELL_TEXT = st.one_of(
    st.none(),
    st.text(max_size=6),  # escapes, NUL, non-BMP characters
    st.sampled_from(["", "1", "TRUE", '"q"', "a\\b", "\n", "😀", "\x00"]),
)


@settings(max_examples=200, deadline=None)
@given(
    rows=st.lists(st.lists(_CELL_TEXT, max_size=5), max_size=8),
    with_values=st.booleans(),
    indent=st.sampled_from([None, 2]),
    ensure_ascii=st.booleans(),
)
def test_arrow_decode_equals_json_loads(rows, with_values, indent, ensure_ascii):
    """Arrow's JSON reader decodes a string-celled values body, compact
    or indented as the real API sends it, into the grid that
    ``json.loads`` and ``pa.array`` give, ragged, empty and missing rows
    included."""
    payload = {"range": "S!A1:E8", "majorDimension": "ROWS"}
    if with_values:
        payload["values"] = rows
    body = json.dumps(payload, indent=indent, ensure_ascii=ensure_ascii)
    decoded = _arrow_values(body, "S")
    assert decoded is not None
    expected = pa.array(json.loads(body).get("values", []), GRID_TYPE)
    assert decoded.values.type == GRID_TYPE
    assert decoded.values.equals(expected)
    assert (decoded.range, decoded.major_dimension) == ("S!A1:E8", "ROWS")
    client, transport = make_client()
    transport.add_response(200, body)
    assert client.values("sid1").get("S").values.equals(expected)


@pytest.mark.parametrize(
    "body",
    [
        '{"values": [["a", 1]]}',
        '{"values": [["a", true]]}',
        '{"values": [["\\ud800"]]}',
        '{"values": [["a"]]',
        '{"values": [["a"]]}\n{"values": [["b"]]}',
        "null",
        "",
    ],
)
def test_arrow_decode_declines_what_it_cannot_type(body):
    """A number or boolean cell, a lone surrogate escape, malformed JSON,
    more than one object and a body that is no object are left to the
    ``json.loads`` path."""
    assert _arrow_values(body, "S") is None
