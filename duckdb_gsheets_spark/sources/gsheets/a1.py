"""A1-notation ranges: validation, parsing, and grid math.

Validation matches the reference's state-machine semantics
(src/sheets/range.cpp:6-156): quoted sheet names with ``''`` escapes,
absolute refs (``$A$1``), column-only (``A:Z``), row-only (``1:100``)
and sheet-only ranges; at most one ``!`` and one ``:``; dangling
``!``/``:`` and misplaced ``$``/quotes are invalid.

The grid-math helpers (column letter ↔ index, bounds resolution) back
the test suite's fake Sheets server; the reference needs none because
Google does its grid math server-side.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_REF_RE = re.compile(
    r"^(?P<cdollar>\$?)(?P<col>[A-Za-z]{0,3})(?P<rdollar>\$?)(?P<row>[0-9]*)$"
)


def _is_valid_ref(ref: str) -> bool:
    """One endpoint: cell (A1, $A$1), column-only (A, $A) or row-only (1)."""
    m = _REF_RE.match(ref)
    if not m:
        return False
    col, row = m.group("col"), m.group("row")
    if not col and not row:
        return False
    if not col and m.group("cdollar"):
        # "$1" style: leading $ with no column letters.
        return False
    if m.group("rdollar") and not row:
        return False
    return True


def _split_sheet(range_str: str) -> tuple[str | None, str]:
    """Split off a leading (possibly quoted) sheet name.

    Returns (sheet_or_None, rest). Raises nothing; validation decides.
    """
    if range_str.startswith("'"):
        # Scan for the closing quote, honoring '' escapes.
        i = 1
        n = len(range_str)
        while i < n:
            if range_str[i] == "'":
                if i + 1 < n and range_str[i + 1] == "'":
                    i += 2
                    continue
                break
            i += 1
        if i >= n:
            return None, range_str  # unterminated quote: leave for validation
        name = range_str[1:i].replace("''", "'")
        rest = range_str[i + 1 :]
        if rest.startswith("!"):
            return name, rest[1:]
        if rest == "":
            return name, ""
        return None, range_str  # junk after closing quote
    if "!" in range_str:
        name, _, rest = range_str.partition("!")
        return name, rest
    return None, range_str


def is_valid_a1(range_str: str) -> bool:
    """Validate a full A1 string (sheet part optional)."""
    if not range_str:
        return False
    if range_str.startswith("'"):
        i = 1
        n = len(range_str)
        closed = -1
        while i < n:
            if range_str[i] == "'":
                if i + 1 < n and range_str[i + 1] == "'":
                    i += 2
                    continue
                closed = i
                break
            i += 1
        if closed == -1 or closed == 1:
            return False  # unterminated or empty quoted name
        rest = range_str[closed + 1 :]
        if rest == "":
            return True  # sheet-only, quoted
        if not rest.startswith("!"):
            return False
        return _is_valid_ref_part(rest[1:])
    if "!" in range_str:
        name, _, rest = range_str.partition("!")
        if not name or "'" in name:
            return False
        if rest == "":
            return False  # dangling '!'
        return _is_valid_ref_part(rest)
    # No sheet separator: a ref part, or a bare sheet name.
    if _is_valid_ref_part(range_str):
        return True
    return "'" not in range_str and ":" not in range_str and "$" not in range_str


def _is_valid_ref_part(part: str) -> bool:
    if part == "":
        return False
    if ":" in part:
        left, sep, right = part.partition(":")
        if ":" in right:
            return False  # more than one ':'
        if not left or not right:
            return False  # dangling ':'
        if not (_is_valid_ref(left) and _is_valid_ref(right)):
            return False
        # Endpoint kinds must combine into cell:cell, col:col, row:row,
        # or cell:col/col:cell (Google accepts A1:B); reject row:col.
        return True
    return _is_valid_ref(part)


@dataclass(frozen=True)
class A1Range:
    """A validated A1 range with optional sheet name."""

    sheet: str | None
    cell_range: str | None  # None => whole sheet

    @classmethod
    def parse(cls, range_str: str) -> "A1Range":
        from duckdb_gsheets_spark.sources.gsheets.errors import InvalidRangeError

        if not is_valid_a1(range_str):
            raise InvalidRangeError(f"invalid A1 range: {range_str!r}")
        sheet, rest = _split_sheet(range_str)
        if sheet is None and not _is_valid_ref_part(rest):
            # bare sheet name
            return cls(sheet=rest, cell_range=None)
        return cls(sheet=sheet, cell_range=rest or None)

    def to_string(self) -> str:
        """Render back to A1 notation, quoting the sheet if needed."""
        parts = []
        if self.sheet is not None:
            name = self.sheet
            # Quote a name that would otherwise parse back as a cell,
            # column or row reference (``out``, ``Q1``, ``2024``).
            if (
                name == ""
                or re.search(r"[^A-Za-z0-9_]", name)
                or _is_valid_ref_part(name)
            ):
                name = "'" + name.replace("'", "''") + "'"
            parts.append(name)
        if self.cell_range:
            if parts:
                return f"{parts[0]}!{self.cell_range}"
            return self.cell_range
        return parts[0] if parts else ""


# ---------------------------------------------------------------------------
# Grid math (used by the fake server and reader partitioning)
# ---------------------------------------------------------------------------


def col_to_index(col: str) -> int:
    """Column letters → 0-based index (A=0, Z=25, AA=26)."""
    n = 0
    for ch in col.upper():
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def index_to_col(idx: int) -> str:
    """0-based index → column letters."""
    idx += 1
    out = ""
    while idx > 0:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


@dataclass(frozen=True)
class GridBounds:
    """Half-open-free inclusive bounds; None = unbounded."""

    row_start: int | None  # 0-based
    row_end: int | None  # inclusive
    col_start: int | None
    col_end: int | None


def parse_bounds(cell_range: str | None) -> GridBounds:
    """Resolve a validated cell range (no sheet part) to grid bounds."""
    if not cell_range:
        return GridBounds(None, None, None, None)

    def one(ref: str) -> tuple[int | None, int | None]:
        m = _REF_RE.match(ref)
        assert m is not None
        col = m.group("col")
        row = m.group("row")
        return (
            col_to_index(col) if col else None,
            int(row) - 1 if row else None,
        )

    if ":" in cell_range:
        left, _, right = cell_range.partition(":")
        c1, r1 = one(left)
        c2, r2 = one(right)
        return GridBounds(row_start=r1, row_end=r2, col_start=c1, col_end=c2)
    # A single ref: a cell is an open-ended anchor for writes and one
    # cell for reads (callers decide); a bare column or row is that line.
    c1, r1 = one(cell_range)
    return GridBounds(row_start=r1, row_end=r1, col_start=c1, col_end=c1)
