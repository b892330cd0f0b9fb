"""Google Sheets v4 emulator owned by the benchmark.

Serves the endpoints the connector calls -- values get, update, append
and clear, spreadsheet metadata and ``batchUpdate addSheet`` -- with
the grid semantics of the Sheets API: trailing empty cells and rows are
trimmed on reads, an append lands below the last filled row of its
column span, and ``valueInputOption=USER_ENTERED`` turns a typed
``true``/``False`` into the canonical ``TRUE``/``FALSE``.

Every request costs time linear in the cells it touches: rows are kept
ragged (never re-padded) and each sheet tracks its last filled row, so
an append never rescans the table. Each API response is held for a
fixed modeled round trip (``--rtt-ms``) before it is sent, and every
API request is logged with its method, route, bytes in, bytes out and
handler time: from the whole request read to the response ready to
send, which leaves out the modeled round trip.

The benchmark runs this file as a child process::

    python3 emulator.py --rtt-ms 25

It prints ``PORT <n>`` once listening and exits when its standard input
closes. Control routes under ``/_bench/`` (not logged, no modeled round
trip) load spreadsheets, return a sheet's stored grid, drain the request
log and switch on a fault.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import re
import subprocess
import sys
import threading
import time
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

Grid = list[list[str]]

#: The Sheets API's per-spreadsheet cell limit; a write past it is refused.
CELL_LIMIT = 10_000_000

_RANGE_RE = re.compile(r"^\$?([A-Za-z]*)\$?(\d*)(?::\$?([A-Za-z]*)\$?(\d*))?$")


def _col_index(letters: str) -> int:
    n = 0
    for ch in letters.upper():
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def split_a1(a1: str) -> tuple[str | None, str]:
    """``'It''s'!A1:B2`` -> (``It's``, ``A1:B2``); no sheet -> None."""
    if a1.startswith("'"):
        i, name = 1, []
        while i < len(a1):
            if a1[i] == "'":
                if a1[i + 1 : i + 2] == "'":
                    name.append("'")
                    i += 2
                    continue
                break
            name.append(a1[i])
            i += 1
        return "".join(name), a1[i + 1 :].lstrip("!")
    if "!" in a1:
        sheet, rng = a1.rsplit("!", 1)
        return sheet, rng
    return None, a1


def parse_bounds(rng: str) -> tuple:
    """``A1:B2`` -> (row0, col0, row1, col1): 0-based inclusive bounds,
    ``None`` for an open side."""
    if not rng:
        return (None, None, None, None)
    m = _RANGE_RE.match(rng)
    if m is None:
        raise KeyError(f"bad range {rng!r}")
    c0, r0, c1, r1 = m.groups()
    if c1 is None and r1 is None:  # a single cell
        c1, r1 = c0, r0
    return (
        int(r0) - 1 if r0 else None,
        _col_index(c0) if c0 else None,
        int(r1) - 1 if r1 else None,
        _col_index(c1) if c1 else None,
    )


class Sheet:
    """One tab: ragged rows plus the index of the last filled row."""

    def __init__(self, sheet_id: int, title: str, index: int, grid: Grid):
        self.props = {"sheetId": sheet_id, "title": title, "index": index,
                      "sheetType": "GRID"}
        self.rows: Grid = []
        self.cells = 0  # stored cells, padding included
        self.last_filled = -1
        self.write(0, 0, grid)

    def write(self, r0: int, c0: int, values: Grid, max_r=None, max_c=None) -> int:
        """Store ``values`` with its top-left cell at (r0, c0), clipped to
        the bounds when given; returns the number of cells written."""
        if max_r is not None:
            values = values[: max(0, max_r - r0 + 1)]
        if max_c is not None:
            values = [v[: max(0, max_c - c0 + 1)] for v in values]
        if self.cells + len(values) * (c0 + max(map(len, values), default=0)) > CELL_LIMIT:
            raise ValueError(f"write of {len(values)} rows at column {c0} exceeds "
                             f"the {CELL_LIMIT} cell limit")
        n = sum(map(len, values))
        if c0 == 0 and r0 >= len(self.rows):  # below every stored row
            self.rows.extend([] for _ in range(r0 - len(self.rows)))
            self.rows.extend(values)
            self.cells += n
        else:
            if len(self.rows) < r0 + len(values):
                self.rows.extend([] for _ in range(r0 + len(values) - len(self.rows)))
            for r, vals in enumerate(values, r0):
                row = self.rows[r]
                self.cells -= len(row)
                if len(row) < c0 + len(vals):
                    row.extend([""] * (c0 + len(vals) - len(row)))
                row[c0 : c0 + len(vals)] = vals
                self.cells += len(row)
        for i in range(len(values) - 1, -1, -1):
            if any(values[i]):
                self.last_filled = max(self.last_filled, r0 + i)
                break
        self._settle()
        return n

    def _settle(self) -> None:
        """Step ``last_filled`` back over rows a write or clear emptied."""
        while self.last_filled >= 0 and not any(
            v != "" for v in self.rows[self.last_filled]
        ):
            self.last_filled -= 1

    def last_in_span(self, c0: int, c1) -> int:
        if c0 == 0 and c1 is None:
            return self.last_filled
        for r in range(self.last_filled, -1, -1):
            span = self.rows[r][c0 : None if c1 is None else c1 + 1]
            if any(v != "" for v in span):
                return r
        return -1

    def read(self, bounds: tuple) -> Grid:
        r0, c0, r1, c1 = bounds
        r0, c0 = r0 or 0, c0 or 0
        end = self.last_filled if r1 is None else min(r1, self.last_filled)
        out: Grid = []
        for r in range(r0, end + 1):
            cells = self.rows[r][c0 : None if c1 is None else c1 + 1]
            if cells and cells[-1] == "":
                cells = list(cells)
                while cells and cells[-1] == "":
                    cells.pop()
            out.append(cells)
        while out and not out[-1]:
            out.pop()
        return out

    def clear(self, bounds: tuple) -> None:
        r0, c0, r1, c1 = bounds
        if r0 is None and c0 is None and r1 is None:
            self.rows, self.cells, self.last_filled = [], 0, -1
            return
        r0, c0 = r0 or 0, c0 or 0
        end = self.last_filled if r1 is None else min(r1, self.last_filled)
        for r in range(r0, end + 1):
            row = self.rows[r]
            stop = len(row) if c1 is None else min(c1 + 1, len(row))
            for c in range(c0, stop):
                row[c] = ""
        self._settle()


class Spreadsheet:
    def __init__(self, spreadsheet_id: str):
        self.spreadsheet_id = spreadsheet_id
        self.sheets: dict[str, Sheet] = {}
        #: Encoded values-GET bodies by A1 range, dropped on any write.
        self.get_cache: dict[str, bytes] = {}

    def add_sheet(self, title: str, grid: Grid | None = None) -> dict:
        sheet = Sheet(len(self.sheets), title, len(self.sheets), grid or [])
        self.sheets[title] = sheet
        self.get_cache.clear()
        return sheet.props

    def resolve(self, a1: str) -> tuple[Sheet, tuple]:
        title, rng = split_a1(a1)
        if title is None and rng in self.sheets:  # a bare sheet name
            title, rng = rng, ""
        if title is None:
            title = next(iter(self.sheets))
        return self.sheets[title], parse_bounds(rng)

    def metadata(self) -> dict:
        return {
            "spreadsheetId": self.spreadsheet_id,
            "properties": {"title": self.spreadsheet_id, "locale": "en_US",
                           "timeZone": "Etc/UTC"},
            "sheets": [{"properties": s.props} for s in self.sheets.values()],
        }


#: Every casing of true/false; space-padded forms miss this lookup and
#: take a second, stripping pass when the request may hold one.
_BOOL_SPELLINGS = {
    "".join(chars): word.upper()
    for word in ("true", "false")
    for chars in itertools.product(*((ch, ch.upper()) for ch in word))
}


def user_entered(values: Grid, raw: bytes) -> Grid:
    """USER_ENTERED parsing of the one kind the connector round-trips: a
    typed true/false in any case, space-padded or not, becomes TRUE/FALSE.
    ``raw`` is the request body, searched for strings that start or end
    with a space."""
    get = _BOOL_SPELLINGS.get
    values = [list(map(get, row, row)) for row in values]
    if b'" ' in raw or b' ",' in raw or b' "]' in raw:
        values = [[get(c.strip(), c) if isinstance(c, str) else c for c in row]
                  for row in values]
    return values


_VALUES_RE = re.compile(r"^/v4/spreadsheets/([^/]+)/values/(.+)$")
_META_RE = re.compile(r"^/v4/spreadsheets/([^/:]+)$")
_BATCH_RE = re.compile(r"^/v4/spreadsheets/([^/:]+):batchUpdate$")


class Emulator:
    """The store, the request log and the HTTP server around them."""

    def __init__(self, rtt_s: float, host: str = "127.0.0.1"):
        self.rtt_s = rtt_s
        self.books: dict[str, Spreadsheet] = {}
        self.log: list[dict] = []
        self.fault: str | None = None
        self.lock = threading.Lock()
        emulator = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                emulator.handle(self, "GET")

            def do_POST(self):
                emulator.handle(self, "POST")

            def do_PUT(self):
                emulator.handle(self, "PUT")

        self.server = ThreadingHTTPServer((host, 0), Handler)
        self.server.daemon_threads = True

    # -- API routes ------------------------------------------------------
    def api(self, method: str, path: str, query: str, payload: dict, raw: bytes) -> tuple[str, int, object]:
        """-> (route, status, body); body is a dict or pre-encoded bytes."""
        m = _VALUES_RE.match(path)
        if m:
            book = self.books[m.group(1)]
            rest, verb = m.group(2), None
            for suffix in (":append", ":clear"):
                if rest.endswith(suffix):
                    rest, verb = rest[: -len(suffix)], suffix
            sheet, bounds = book.resolve(rest)
            entered = "valueInputOption=USER_ENTERED" in query
            if method == "GET" and verb is None:
                body = book.get_cache.get(rest)
                if body is None:
                    out = {"range": rest, "majorDimension": "ROWS"}
                    values = sheet.read(bounds)
                    if values:
                        out["values"] = values
                    body = json.dumps(out).encode()
                    book.get_cache[rest] = body
                if self.fault == "drop_row":
                    out = json.loads(body)
                    if len(out.get("values", [])) > 2:
                        del out["values"][len(out["values"]) // 2]
                    body = json.dumps(out).encode()
                return "values_get", 200, body
            book.get_cache.clear()
            values = payload.get("values", [])
            if entered:
                values = user_entered(values, raw)
            r0, c0, r1, c1 = bounds
            if method == "PUT" and verb is None:
                n = sheet.write(r0 or 0, c0 or 0, values, r1, c1)
                return "update", 200, {"updatedCells": n}
            if method == "POST" and verb == ":append":
                if self.fault == "drop_row" and len(values) > 1:
                    values = values[:-1]
                start = max(sheet.last_in_span(c0 or 0, c1) + 1, r0 or 0)
                n = sheet.write(start, c0 or 0, values)
                return "append", 200, {"updates": {"updatedCells": n}}
            if method == "POST" and verb == ":clear":
                sheet.clear(bounds)
                return "clear", 200, {"clearedRange": rest}
            return "bad_verb", 405, {"error": {"message": "bad verb"}}
        m = _BATCH_RE.match(path)
        if m and method == "POST":
            book = self.books[m.group(1)]
            replies = []
            for req in payload.get("requests", []):
                if "addSheet" in req:
                    title = req["addSheet"]["properties"]["title"]
                    replies.append({"addSheet": {"properties": book.add_sheet(title)}})
            return "batch_update", 200, {"replies": replies}
        m = _META_RE.match(path)
        if m and method == "GET":
            return "metadata_get", 200, self.books[m.group(1)].metadata()
        return "unknown", 404, {"error": {"message": f"no route {path}"}}

    # -- control routes --------------------------------------------------
    def control(self, method: str, path: str, params: dict, payload: dict) -> object:
        if path == "/_bench/spreadsheet" and method == "POST":
            book = Spreadsheet(payload["id"])
            for tab in payload["sheets"]:
                book.add_sheet(tab["title"], tab.get("grid"))
            self.books[book.spreadsheet_id] = book
            return book.metadata()
        if path == "/_bench/grid":
            book = self.books[params["id"][0]]
            return book.sheets[params["sheet"][0]].read((None, None, None, None))
        if path == "/_bench/log":
            entries, self.log = self.log, []
            return entries
        if path == "/_bench/fault" and method == "POST":
            self.fault = payload.get("fault")
            return {"fault": self.fault}
        raise KeyError(path)

    def handle(self, req: BaseHTTPRequestHandler, method: str) -> None:
        length = int(req.headers.get("Content-Length") or 0)
        raw = req.rfile.read(length) if length else b""
        # Handler time runs from a fully received request to a response
        # ready to send.
        t0 = time.perf_counter()
        path, _, query = req.path.partition("?")
        path = urllib.parse.unquote(path)
        status = 200
        try:
            payload = json.loads(raw) if raw else {}
            with self.lock:
                if path.startswith("/_bench/"):
                    route, body = None, self.control(
                        method, path, urllib.parse.parse_qs(query), payload
                    )
                elif not req.headers.get("Authorization", "").startswith("Bearer "):
                    route, status, body = "unauthorized", 401, {
                        "error": {"message": "unauthorized"}}
                else:
                    route, status, body = self.api(method, path, query, payload, raw)
        except (KeyError, ValueError) as ex:
            route = None if path.startswith("/_bench/") else "error"
            status = 404 if isinstance(ex, KeyError) else 400
            body = {"error": {"message": f"{type(ex).__name__}: {ex}"}}
        data = body if isinstance(body, bytes) else json.dumps(body).encode()
        if route is not None:
            busy = time.perf_counter() - t0
            with self.lock:
                self.log.append({
                    "method": method, "route": route, "status": status,
                    "bytes_in": len(raw), "bytes_out": len(data), "busy_s": busy,
                })
            time.sleep(self.rtt_s)
        req.send_response(status)
        req.send_header("Content-Type", "application/json")
        req.send_header("Content-Length", str(len(data)))
        req.end_headers()
        req.wfile.write(data)


class EmulatorProcess:
    """Runs the emulator as a child process and drives its control routes."""

    def __init__(self, rtt_ms: float):
        self.proc = subprocess.Popen(
            [sys.executable, __file__, "--rtt-ms", str(rtt_ms)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"emulator failed to start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"
        self.api_base = self.url + "/v4"
        # Talk to localhost directly, whatever proxy the environment names.
        self._opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def _call(self, path: str, payload=None):
        data = None if payload is None else json.dumps(payload).encode()
        req = urllib.request.Request(self.url + path, data=data, method="GET" if data is None else "POST")
        with self._opener.open(req, timeout=60) as resp:
            return json.loads(resp.read())

    def load(self, spreadsheet_id: str, sheets: list[tuple[str, Grid]]) -> dict:
        """Create (or replace) a spreadsheet; returns its metadata."""
        return self._call("/_bench/spreadsheet", {
            "id": spreadsheet_id,
            "sheets": [{"title": t, "grid": g} for t, g in sheets],
        })

    def grid(self, spreadsheet_id: str, sheet: str) -> Grid:
        q = urllib.parse.urlencode({"id": spreadsheet_id, "sheet": sheet})
        return self._call(f"/_bench/grid?{q}")

    def drain_log(self) -> list[dict]:
        return self._call("/_bench/log")

    def set_fault(self, fault: str | None) -> None:
        self._call("/_bench/fault", {"fault": fault})

    def close(self) -> None:
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--rtt-ms", type=float, default=25.0)
    args = parser.parse_args()
    # Grids are acyclic lists of strings that reference counting frees;
    # the cyclic collector would rescan every stored row as grids grow.
    gc.disable()
    emulator = Emulator(args.rtt_ms / 1000.0)
    server_thread = threading.Thread(target=emulator.server.serve_forever, daemon=True)
    server_thread.start()
    print(f"PORT {emulator.server.server_address[1]}", flush=True)
    sys.stdin.read()  # returns when the parent closes the pipe
    emulator.server.shutdown()
    emulator.server.server_close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
