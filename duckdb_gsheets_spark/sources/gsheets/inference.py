"""Schema inference + cell casting for sheet reads.

Exact behavior parity with the reference's bind-time inference
(src/gsheets_read.cpp:196-238) and chunk casting
(src/gsheets_read.cpp:31-84):

* Column count = max(header-row width, first-data-row width).
* Names from the header row when ``header=True``; a missing/blank
  header cell gets ``columnN`` (1-based).
* Types from the FIRST data row only: literal ``TRUE``/``FALSE`` →
  boolean; a fully-parseable number → double; anything else, a blank
  first cell, or ``all_varchar=True`` → string. Deliberately naive —
  do not "improve" (SURVEY §7 risk register): a numeric column with a
  blank first cell is VARCHAR, integers become DOUBLE.
* Casting: empty string and JSON ``null`` → NULL; a short row pads
  trailing NULLs; boolean cast is permissive (any-case true/false)
  like the engine cast the reference delegates to. The cast grid is
  one Arrow table, the single read format of every entry point.

The grid arrives as the client decoded it: one Arrow list array of
cell texts per row (``client.GRID_TYPE``). Rows given as Python lists
are accepted too, with any JSON scalar read as ``str()`` of itself
(``client.as_grid``). :func:`cast_cell` is the per-cell rule;
:func:`cast_rows` applies it a column at a time with pyarrow compute
and gives the same values.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from duckdb_gsheets_spark.sources.gsheets.client import as_grid
from duckdb_gsheets_spark.sources.gsheets.errors import EmptyRangeError


def is_valid_number(value: str) -> bool:
    """Full-string numeric parse (reference IsValidNumber,
    src/gsheets_read.cpp:14-29: stod must consume the whole string).
    ``stod`` skips leading whitespace but stops at trailing whitespace,
    at ``_`` and at any non-ASCII character (it reads ASCII digits
    only), all of which Python's ``float`` accepts."""
    if (
        not value
        or not value.isascii()
        or value[-1].isspace()
        or "_" in value
    ):
        return False
    try:
        float(value)
        return True
    except ValueError:
        return False


def _text(cell) -> str:
    """A JSON scalar as the string the casts read; ``null`` is blank."""
    return "" if cell is None else str(cell)


@dataclass(frozen=True)
class SheetSchema:
    names: tuple[str, ...]
    types: tuple[str, ...]  # "boolean" | "double" | "string"

    def to_struct_type(self) -> StructType:
        mapping = {
            "boolean": BooleanType(),
            "double": DoubleType(),
            "string": StringType(),
        }
        return StructType(
            [
                StructField(name, mapping[tp], nullable=True)
                for name, tp in zip(self.names, self.types)
            ]
        )


def infer_schema(
    values: pa.LargeListArray | list[list],
    header: bool = True,
    all_varchar: bool = False,
    range_label: str = "",
) -> SheetSchema:
    """Infer names and types from the fetched grid, a ``GRID_TYPE``
    array (``ValueRange.values``) or a list of rows. Only the header row
    and the first data row are read, as Python lists, each cell as
    :func:`_text` of it."""
    head = values[:2]
    if isinstance(head, pa.Array):
        head = head.to_pylist()
    if not head:
        raise EmptyRangeError(range_label or "(unspecified)")
    header_row = head[0] if header else []
    first_data = head[1] if header and len(head) > 1 else (
        head[0] if not header else []
    )
    header_row = [_text(c) for c in header_row]
    first_data = [_text(c) for c in first_data]
    width = max(len(header_row), len(first_data))
    if width == 0:
        raise EmptyRangeError(range_label or "(unspecified)")

    # Deliberate deviation from the reference: gsheets_read.cpp's bind
    # uses a present header cell verbatim even when it is blank, but a
    # blank (or duplicated-blank) column name breaks DataFrame column
    # resolution in Spark, so present-but-blank cells also fall back to
    # columnN here.
    names = []
    for i in range(width):
        cell = header_row[i] if i < len(header_row) else ""
        names.append(cell if (header and cell != "") else f"column{i + 1}")

    types = []
    for i in range(width):
        cell = first_data[i] if i < len(first_data) else ""
        if all_varchar or cell == "":
            types.append("string")
        elif cell in ("TRUE", "FALSE"):
            types.append("boolean")
        elif is_valid_number(cell):
            types.append("double")
        else:
            types.append("string")
    return SheetSchema(tuple(names), tuple(types))


_BOOL_STRINGS = {
    "true": True,
    "t": True,
    "1": True,
    "yes": True,
    "false": False,
    "f": False,
    "0": False,
    "no": False,
}


def cast_cell(value: str | None, type_name: str):
    """One cell → typed Python value (None for NULL)."""
    if value is None or value == "":
        return None
    if type_name == "boolean":
        return _BOOL_STRINGS.get(value.strip().lower())
    if type_name == "double":
        try:
            return float(value)
        except ValueError:
            return None
    return value


_NULL_TEXT = pa.scalar(None, pa.large_string())
_NULL_INDEX = pa.scalar(None, pa.int64())


def _cast_column(column: pa.Array, type_name: str) -> pa.Array:
    """:func:`cast_cell` over a whole text column.

    Doubles: Arrow's cast and ``float()`` read every finite number
    Arrow accepts alike, but Arrow rejects some strings ``float()``
    reads (``" 1"``, ``"1_000"``, ``"١٢"``) and reads some non-finite
    ones ``float()`` rejects (``"nan()"``, ``"-+inf"``). A column with
    either kind goes through :func:`cast_cell` cell by cell. Booleans:
    :func:`cast_cell` runs once per distinct string."""
    if type_name == "double":
        try:
            doubles = pc.cast(column, pa.float64())
            if not pc.any(pc.invert(pc.is_finite(doubles))).as_py():
                return doubles
        except pa.ArrowInvalid:
            pass
        return pa.array(
            [cast_cell(c, type_name) for c in column.to_pylist()], pa.float64()
        )
    if type_name == "boolean":
        encoded = column.dictionary_encode()
        lookup = pa.array(
            [cast_cell(c, type_name) for c in encoded.dictionary.to_pylist()],
            pa.bool_(),
        )
        return lookup.take(encoded.indices)
    return column.cast(pa.string())


def cast_rows(
    values: pa.LargeListArray | list[list], schema: SheetSchema, header: bool
) -> pa.Table:
    """Materialize the data rows as a typed Arrow table. ``values`` is
    the grid as ``ValueRange.values`` holds it, or a list of rows, which
    becomes one first (``client.as_grid``). Column ``i`` takes each data
    row's ``i``-th cell, NULL past the end of a short row, and is cast
    as a whole."""
    grid = values if isinstance(values, pa.Array) else as_grid(values)
    rows = grid[1:] if header else grid
    # A slice keeps its parent's child array; its offsets index into it.
    cells = pc.if_else(pc.equal(rows.values, ""), _NULL_TEXT, rows.values)
    starts, lengths = rows.offsets[:-1], pc.list_value_length(rows)
    columns = []
    for i, type_name in enumerate(schema.types):
        at = pc.if_else(pc.greater(lengths, i), pc.add(starts, i), _NULL_INDEX)
        columns.append(_cast_column(cells.take(at), type_name))
    return pa.Table.from_arrays(columns, names=list(schema.names))
