"""Schema inference + casting — FIXTURES.md F1-F8/F11 semantics
(reference: src/gsheets_read.cpp:196-238, test/sql/read_gsheet.test)."""

import pytest
from hypothesis import given, settings, strategies as st

from duckdb_gsheets_spark.sources.gsheets.errors import EmptyRangeError
from duckdb_gsheets_spark.sources.gsheets.inference import (
    SheetSchema,
    cast_cell,
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
    # stod reads ASCII digits only; float also takes any Unicode digit
    # (Arabic-Indic, fullwidth).
    assert not is_valid_number("١٢")
    assert not is_valid_number("１２")
    assert infer_schema([["a", "b"], ["١٢", "１２"]]).types == ("string", "string")


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


def test_double_cast_matches_float_on_strings_arrow_reads_differently():
    """Strings Arrow's cast rejects but ``float()`` reads (column a), and
    strings Arrow reads but ``float()`` rejects (column b), cast as
    ``float()`` says."""
    a = ["1", " 1", "1 ", "1_000", "١٢", ""]
    b = ["2", "nan()", "-+inf", "inf", "1e500", ""]
    values = [["a", "b"]] + [list(cells) for cells in zip(a, b)]
    table = cast_rows(values, infer_schema(values), header=True)
    assert table.column("a").to_pylist() == [1.0, 1.0, 1.0, 1000.0, 12.0, None]
    inf = float("inf")
    assert table.column("b").to_pylist() == [2.0, None, None, inf, inf, None]


def _per_cell(values, schema, header):
    """The reference rule: :func:`cast_cell` on every cell, a JSON
    ``null`` or a padded cell as NULL, any other scalar as its str()."""
    rows = values[1:] if header else values
    return [
        tuple(
            cast_cell(
                None if i >= len(row) or row[i] is None else str(row[i]), type_name
            )
            for i, type_name in enumerate(schema.types)
        )
        for row in rows
    ]


def _exact(rows):
    """Rows compared by type and repr: NaN equals NaN, -0.0 is not 0.0,
    True is not 1.0."""
    return [tuple((type(v), repr(v)) for v in row) for row in rows]


_NUMBERS = st.one_of(
    st.integers(-(10**20), 10**20).map(str),
    st.floats().map(repr),
    st.floats(allow_nan=False).map(lambda f: f"{f:.6e}"),
    st.sampled_from(
        [".5", "+.5", "1.", "-0", "00012", "1e500", "-1e500", "1e-400", "inf",
         "-Infinity", "nan", "NaN"]
    ),
)
_ODD = st.sampled_from(
    ["", " 1", "1 ", " 12", "1_000", "١٢", "nan()", "-+inf", "TRUE", "FALSE",
     "true", " yes ", "No", "bogus", "t", "0", "1", "None"]
)
_SCALARS = st.one_of(st.none(), st.booleans(), st.integers(), st.floats())
_CELLS = st.sampled_from(
    [
        st.one_of(_NUMBERS, st.just(""), st.none()),  # mostly the Arrow path
        _ODD,
        st.one_of(_NUMBERS, _ODD, _SCALARS, st.text(max_size=5)),
    ]
)


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_columnar_cast_equals_per_cell_cast(data):
    """``cast_rows`` gives what :func:`cast_cell` gives cell by cell, on
    ragged and empty rows, rows wider than the schema, and any
    declared type."""
    cells = data.draw(_CELLS)
    width = data.draw(st.integers(1, 5))
    types = tuple(
        data.draw(st.lists(st.sampled_from(["boolean", "double", "string"]),
                           min_size=width, max_size=width))
    )
    schema = SheetSchema(tuple(f"c{i}" for i in range(width)), types)
    header = data.draw(st.booleans())
    values = data.draw(st.lists(st.lists(cells, max_size=width + 2), max_size=12))
    if header:
        values = [["h"] * width] + values
    table = cast_rows(values, schema, header=header)
    assert table.column_names == list(schema.names)
    assert _exact(_tuples(table)) == _exact(_per_cell(values, schema, header))
