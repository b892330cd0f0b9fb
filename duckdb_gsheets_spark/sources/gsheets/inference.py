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
* Casting: empty string → NULL; a short row pads trailing NULLs;
  boolean cast is permissive (any-case true/false) like the engine
  cast the reference delegates to. The cast grid is one Arrow table,
  the single read format of every entry point.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from duckdb_gsheets_spark.sources.gsheets.errors import EmptyRangeError


def is_valid_number(value: str) -> bool:
    """Full-string numeric parse (reference IsValidNumber,
    src/gsheets_read.cpp:14-29: stod must consume the whole string).
    ``stod`` skips leading whitespace but stops at trailing whitespace
    and at ``_``, both of which Python's ``float`` accepts."""
    if not value or value[-1].isspace() or "_" in value:
        return False
    try:
        float(value)
        return True
    except ValueError:
        return False


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
    values: list[list[str]],
    header: bool = True,
    all_varchar: bool = False,
    range_label: str = "",
) -> SheetSchema:
    """Infer names and types from the fetched grid."""
    if not values:
        raise EmptyRangeError(range_label or "(unspecified)")
    header_row = values[0] if header else []
    first_data = values[1] if header and len(values) > 1 else (
        values[0] if not header else []
    )
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


_ARROW_TYPES = {"boolean": pa.bool_(), "double": pa.float64(), "string": pa.string()}


def cast_rows(
    values: list[list[str]], schema: SheetSchema, header: bool
) -> pa.Table:
    """Materialize the data rows as a typed Arrow table, one column at a
    time (ragged rows padded)."""
    rows = values[1:] if header else values
    columns = [
        pa.array(
            [cast_cell(row[i] if i < len(row) else None, type_name) for row in rows],
            type=_ARROW_TYPES[type_name],
        )
        for i, type_name in enumerate(schema.types)
    ]
    return pa.Table.from_arrays(columns, names=list(schema.names))
