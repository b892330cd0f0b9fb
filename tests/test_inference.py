"""Schema inference + casting — FIXTURES.md F1-F8/F11 semantics
(reference: src/gsheets_read.cpp:196-238, test/sql/read_gsheet.test)."""

import pytest

from duckdb_gsheets_spark.sources.gsheets.errors import EmptyRangeError
from duckdb_gsheets_spark.sources.gsheets.inference import (
    cast_rows,
    infer_schema,
    is_valid_number,
)


def _tuples(table):
    """The cast Arrow table's rows as Python tuples."""
    return [tuple(row.values()) for row in table.to_pylist()]


def test_is_valid_number():
    assert is_valid_number("30")
    assert is_valid_number("-1.5e3")
    assert not is_valid_number("")
    assert not is_valid_number("12abc")
    assert not is_valid_number("abc")
    # stod stops at "_" and at trailing whitespace, but skips leading
    # whitespace (src/gsheets_read.cpp:14-29).
    assert not is_valid_number("1_000")
    assert not is_valid_number("12 ")
    assert is_valid_number(" 12")
    assert infer_schema([["a", "b"], ["1_000", "12 "]]).types == ("string", "string")


def test_people_inference():
    """F1: name VARCHAR, age DOUBLE, city VARCHAR."""
    values = [["name", "age", "city"], ["Alice", "30", "Toronto"]]
    schema = infer_schema(values, header=True)
    assert schema.names == ("name", "age", "city")
    assert schema.types == ("string", "double", "string")


def test_boolean_inference():
    """F5: literal TRUE/FALSE in first data row → boolean."""
    values = [["a", "b"], ["TRUE", "123"]]
    schema = infer_schema(values, header=True)
    assert schema.types == ("boolean", "double")


def test_blank_first_cell_is_varchar():
    """F4 (issue 47): blank first-data-row cell → VARCHAR, kept naive."""
    values = [["c1", "c2", "c3", "c4"], ["woot", "blah", "", ""]]
    schema = infer_schema(values, header=True)
    assert schema.types == ("string", "string", "string", "string")


def test_missing_header_cells_named_columnN():
    """F6 (issue 47): blank header cells → columnN (1-based)."""
    values = [["a", "", "c", ""], ["1", "2", "3", "4"]]
    schema = infer_schema(values, header=True)
    assert schema.names == ("a", "column2", "c", "column4")


def test_width_is_max_of_header_and_first_row():
    values = [["a", "b"], ["1", "2", "3", "4"]]
    schema = infer_schema(values, header=True)
    assert schema.names == ("a", "b", "column3", "column4")
    assert len(schema.types) == 4


def test_no_header_naming():
    values = [["x", "30"]]
    schema = infer_schema(values, header=False)
    assert schema.names == ("column1", "column2")
    assert schema.types == ("string", "double")


def test_all_varchar():
    values = [["a", "b"], ["TRUE", "30"]]
    schema = infer_schema(values, header=True, all_varchar=True)
    assert schema.types == ("string", "string")


def test_header_only_zero_rows_all_varchar():
    """F7: header-only sheet → schema of VARCHARs, 0 rows."""
    values = [["id", "name"]]
    schema = infer_schema(values, header=True)
    assert schema.types == ("string", "string")
    assert cast_rows(values, schema, header=True).to_pylist() == []


def test_empty_raises():
    """F8: empty sheet → 'Range ... is empty'."""
    with pytest.raises(EmptyRangeError, match="is empty"):
        infer_schema([], header=True, range_label="Sheet1")


def test_cast_rows_nulls_and_ragged():
    """F1 rows: ''→NULL, short rows pad trailing NULLs."""
    values = [
        ["name", "age", "city"],
        ["Alice", "30", "Toronto"],
        ["Drake"],
        [],
        ["Archie", "99", ""],
    ]
    schema = infer_schema(values, header=True)
    rows = _tuples(cast_rows(values, schema, header=True))
    assert rows[0] == ("Alice", 30.0, "Toronto")
    assert rows[1] == ("Drake", None, None)
    assert rows[2] == (None, None, None)
    assert rows[3] == ("Archie", 99.0, None)


def test_type_collapse_f11():
    """F11: every numeric collapses to DOUBLE, temporals stay VARCHAR."""
    values = [
        ["b", "i", "huge", "d", "ts"],
        ["TRUE", "42", "1.8446744073709552e+19", "2.5", "2020-01-01 00:00:00"],
    ]
    schema = infer_schema(values, header=True)
    assert schema.types == ("boolean", "double", "double", "double", "string")


def test_permissive_bool_cast():
    values = [["flag"], ["TRUE"], ["false"], ["1"], ["bogus"]]
    schema = infer_schema(values, header=True)
    rows = _tuples(cast_rows(values, schema, header=True))
    assert [r[0] for r in rows] == [True, False, True, None]
