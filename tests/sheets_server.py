"""The Sheets fake the tests run against: the benchmark's emulator
(``perfbench/emulator.py``) served in process with no modeled round
trip, plus the little only the tests use.

The emulator is loaded from its file, not imported from ``perfbench/``
on ``sys.path``, so that directory's top-level ``sheets``/``run``/
``corpus`` modules never shadow anything. The additions:

* the Drive ``files.get`` route the streaming reader polls, backed by a
  per-spreadsheet ``version`` that goes up on every successful write
  call, every added tab and every direct grid write;
* ``request_log``: one ``(method, path)`` tuple per API request;
* ``book.grids[title]``: a tab's stored rows; assigning replaces them.
"""

from __future__ import annotations

import importlib.util
import os
import re
import threading

_spec = importlib.util.spec_from_file_location(
    "perfbench_emulator",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench",
        "emulator.py",
    ),
)
emulator = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(emulator)

Grid = emulator.Grid

_BOOK_RE = re.compile(r"^/v4/spreadsheets/([^/:]+)")
#: Drive v3 files.get, served on the same host: the connector derives
#: the Drive root from a custom ``api_base``.
_DRIVE_RE = re.compile(r"^/drive/v3/files/([^/:]+)$")


class Grids:
    """``book.grids[title]`` reads a tab's rows; assigning replaces them
    through ``Sheet.write``, so the emulator's bookkeeping stays right."""

    def __init__(self, book: "Book"):
        self._book = book

    def __contains__(self, title: str) -> bool:
        return title in self._book.sheets

    def __getitem__(self, title: str) -> Grid:
        return self._book.sheets[title].rows

    def __setitem__(self, title: str, rows: Grid) -> None:
        sheet = self._book.sheets[title]
        sheet.clear((None, None, None, None))
        sheet.write(0, 0, [list(r) for r in rows])
        self._book.touch()


class Book(emulator.Spreadsheet):
    """A spreadsheet with a Drive version counter."""

    def __init__(self, spreadsheet_id: str):
        super().__init__(spreadsheet_id)
        self.version = 1
        self.grids = Grids(self)

    def touch(self, bump: bool = True) -> None:
        """Record a direct change: drop cached reads, bump the version."""
        self.get_cache.clear()
        if bump:
            self.version += 1

    def add_sheet(self, title: str, grid: Grid | None = None) -> dict:
        # Copy the rows: the emulator stores and later mutates them.
        props = super().add_sheet(title, [list(r) for r in grid or []])
        self.touch()
        return props

    def append_rows(self, title: str, rows: Grid, touch: bool = True) -> None:
        """Add rows below the tab's stored rows. ``touch=False`` leaves
        the version alone, as a change Drive has not yet reported."""
        sheet = self.sheets[title]
        sheet.write(len(sheet.rows), 0, [list(r) for r in rows])
        self.touch(bump=touch)


class SheetsServer(emulator.Emulator):
    def __init__(self) -> None:
        super().__init__(rtt_s=0.0)
        self.request_log: list[tuple[str, str]] = []

    @property
    def stores(self) -> dict[str, Book]:
        return self.books

    @property
    def base_url(self) -> str:
        host, port = self.server.server_address
        return f"http://{host}:{port}/v4"

    def new_spreadsheet(self, spreadsheet_id: str) -> Book:
        book = self.books[spreadsheet_id] = Book(spreadsheet_id)
        return book

    def api(self, method, path, query, payload, raw):
        self.request_log.append((method, path))
        m = _DRIVE_RE.match(path)
        if m and method == "GET":
            # Drive serialises version as a string.
            return "drive_get", 200, {"version": str(self.books[m.group(1)].version)}
        route, status, body = super().api(method, path, query, payload, raw)
        if method != "GET" and status == 200:
            self.books[_BOOK_RE.match(path).group(1)].version += 1
        return route, status, body

    def start(self) -> "SheetsServer":
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
