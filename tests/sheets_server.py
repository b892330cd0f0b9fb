"""The Sheets fake the tests run against: the benchmark's emulator
(``perfbench/emulator.py``) served in process with no modeled round
trip, plus the little only the tests use.

The emulator is loaded from its file, not imported from ``perfbench/``
on ``sys.path``, so that directory's top-level ``sheets``/``run``/
``corpus`` modules never shadow anything. The additions:

* ``request_log``: one ``(method, path)`` tuple per API request;
* ``book.grids[title]``: a tab's stored rows; assigning replaces them;
* ``book.append_rows(title, rows)``: add rows below a tab's stored rows.
"""

from __future__ import annotations

import importlib.util
import os
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
        self._book.get_cache.clear()


class Book(emulator.Spreadsheet):
    """A spreadsheet whose tabs tests can read and write directly."""

    def __init__(self, spreadsheet_id: str):
        super().__init__(spreadsheet_id)
        self.grids = Grids(self)

    def add_sheet(self, title: str, grid: Grid | None = None) -> dict:
        # Copy the rows: the emulator stores and later mutates them.
        return super().add_sheet(title, [list(r) for r in grid or []])

    def append_rows(self, title: str, rows: Grid) -> None:
        """Add rows below the tab's stored rows."""
        sheet = self.sheets[title]
        sheet.write(len(sheet.rows), 0, [list(r) for r in rows])
        self.get_cache.clear()


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
        return super().api(method, path, query, payload, raw)

    def start(self) -> "SheetsServer":
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
