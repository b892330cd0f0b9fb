"""A1 validation/parsing — pytest port of the reference's
test/unit/sheets/test_range.cpp case families."""

import pytest

from duckdb_gsheets_spark.sources.gsheets.a1 import (
    A1Range,
    GridBounds,
    col_to_index,
    index_to_col,
    is_valid_a1,
    parse_bounds,
)
from duckdb_gsheets_spark.sources.gsheets.errors import InvalidRangeError

VALID = [
    "A1",
    "A1:B2",
    "$A$1",
    "$A1:B$2",
    "A:Z",
    "1:100",
    "AA10:AB99",
    "Sheet1!A1:B2",
    "Sheet1!A1",
    "Sheet1",
    "'My Sheet'!A1:B2",
    "'My Sheet'",
    "'It''s quoted'!A2:B7",
    "C6:E10",
    "C:E",
]

INVALID = [
    "",
    "$$A1",
    "A1:",
    ":B2",
    "Sheet1!",
    "A1:B2:C3",
    "'Unterminated!A1",
    "''!A1",
    "$1",
]


@pytest.mark.parametrize("value", VALID)
def test_valid(value):
    assert is_valid_a1(value), value


@pytest.mark.parametrize("value", INVALID)
def test_invalid(value):
    assert not is_valid_a1(value), value


def test_parse_sheet_and_range():
    rng = A1Range.parse("'My Sheet'!A2:B7")
    assert rng.sheet == "My Sheet"
    assert rng.cell_range == "A2:B7"


def test_parse_escaped_quote():
    rng = A1Range.parse("'It''s quoted'!A2:B7")
    assert rng.sheet == "It's quoted"


def test_parse_sheet_only():
    rng = A1Range.parse("Sheet1")
    assert rng.sheet == "Sheet1"
    assert rng.cell_range is None


def test_parse_bare_range():
    rng = A1Range.parse("B1:C7")
    assert rng.sheet is None
    assert rng.cell_range == "B1:C7"


def test_parse_invalid_raises():
    with pytest.raises(InvalidRangeError):
        A1Range.parse("A1:")


def test_to_string_quotes_when_needed():
    assert A1Range("My Sheet", "A1").to_string() == "'My Sheet'!A1"
    assert A1Range("Sheet1", "A1:B2").to_string() == "Sheet1!A1:B2"
    assert A1Range("It's", None).to_string() == "'It''s'"


def test_col_math_roundtrip():
    for name, idx in [("A", 0), ("Z", 25), ("AA", 26), ("AZ", 51), ("BA", 52)]:
        assert col_to_index(name) == idx
        assert index_to_col(idx) == name


def test_parse_bounds():
    assert parse_bounds("A1:B2") == GridBounds(0, 1, 0, 1)
    assert parse_bounds("C6:E10") == GridBounds(5, 9, 2, 4)
    assert parse_bounds("A:C") == GridBounds(None, None, 0, 2)
    assert parse_bounds("2:4") == GridBounds(1, 3, None, None)
    assert parse_bounds(None) == GridBounds(None, None, None, None)
    assert parse_bounds("B3") == GridBounds(2, 2, 1, 1)


@pytest.mark.parametrize("name", ["out", "Q1", "FY24", "2024"])
def test_to_string_quotes_reference_like_sheet_names(name):
    """A tab name that also reads as a cell, column or row reference is
    quoted, so it parses back as the tab and not as a range."""
    rendered = A1Range(name, None).to_string()
    assert rendered == f"'{name}'"
    assert A1Range.parse(rendered) == A1Range(name, None)
