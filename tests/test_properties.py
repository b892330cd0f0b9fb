"""Property-based tests (hypothesis): the invariants that matter at
scale but that example-based tests can only sample.

* Determinism contract: dsum/davg are bitwise identical under ANY
  repartitioning and equal the exact decimal sum — the property that
  makes cross-engine value-hashing (and 1000-executor correctness)
  possible.
* A1 grammar: generated-valid references always validate and
  round-trip through parse/to_string; corrupting them with grammar-
  breaking characters invalidates them.
"""

from decimal import Decimal

from hypothesis import given, settings, strategies as st

from duckdb_gsheets_spark.operators.determinism import dsum
from duckdb_gsheets_spark.sources.gsheets.a1 import A1Range, is_valid_a1

#: Money-like values: exact 2-decimal doubles in a realistic range.
money = st.integers(min_value=-10_000_000, max_value=10_000_000).map(
    lambda cents: cents / 100.0
)


@settings(max_examples=15, deadline=None)
@given(values=st.lists(money, min_size=1, max_size=300), n_parts=st.integers(1, 16))
def test_dsum_partition_invariant_and_exact(spark, values, n_parts):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    one = df.coalesce(1).agg(dsum("x").alias("s")).collect()[0].s
    many = df.repartition(n_parts).agg(dsum("x").alias("s")).collect()[0].s
    assert one == many  # bitwise equality, not approx
    exact = float(sum(Decimal(str(v)) for v in values))
    assert one == exact


# --- A1 grammar properties (pure Python — no Spark) ---

col_letters = st.text(
    alphabet=st.sampled_from("ABCDEFGHIJKLMNOPQRSTUVWXYZ"), min_size=1, max_size=3
)
row_digits = st.integers(min_value=1, max_value=9_999_999).map(str)


@settings(max_examples=200, deadline=None)
@given(col_letters, row_digits, col_letters, row_digits)
def test_generated_cell_ranges_are_valid(c1, r1, c2, r2):
    assert is_valid_a1(f"{c1}{r1}")
    assert is_valid_a1(f"{c1}{r1}:{c2}{r2}")
    assert is_valid_a1(f"${c1}${r1}:${c2}${r2}")
    assert is_valid_a1(f"{c1}:{c2}")  # column-only
    assert is_valid_a1(f"{r1}:{r2}")  # row-only


@settings(max_examples=200, deadline=None)
@given(col_letters, row_digits)
def test_corrupted_ranges_are_invalid(c, r):
    assert not is_valid_a1(f"{c}{r}:")  # dangling colon
    assert not is_valid_a1(f"!{c}{r}")  # leading bang, empty sheet
    assert not is_valid_a1(f"{c}{r}:{c}{r}:{c}{r}")  # two colons
    assert not is_valid_a1(f"{c}$${r}")  # double dollar


@settings(max_examples=200, deadline=None)
@given(col_letters, row_digits, col_letters, row_digits)
def test_a1_parse_roundtrip(c1, r1, c2, r2):
    s = f"{c1}{r1}:{c2}{r2}"
    parsed = A1Range.parse(s)
    assert parsed.to_string() == s


@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=4),
        min_size=1,
        max_size=90,
    )
)
@settings(max_examples=30, deadline=None)
def test_chunking_covers_every_token_exactly(tokens):
    """Pure-Python mirror of the chunk-count/slice formula: every
    token position lands in ≥1 chunk, consecutive chunks overlap by
    SIZE−STRIDE, and the formula's chunk count is minimal."""
    from duckdb_gsheets_spark.operators.chunking import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
    )

    n = len(tokens)
    n_chunks = 1 + max(0, -(-(n - CHUNK_SIZE) // CHUNK_STRIDE)) if n > CHUNK_SIZE else 1
    covered = set()
    for cid in range(n_chunks):
        start = cid * CHUNK_STRIDE
        covered.update(range(start, min(start + CHUNK_SIZE, n)))
    assert covered == set(range(n))
    if n_chunks > 1:
        # minimality: one fewer chunk must leave a gap at the end
        last_start = (n_chunks - 2) * CHUNK_STRIDE
        assert last_start + CHUNK_SIZE < n


#: Small random token-set corpora for the prefix-filter model checks.
_corpus = st.lists(
    st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
    min_size=2,
    max_size=8,
)


def _prefix_candidates(sets, prefix_len_of):
    """Pure-Python model of the AllPairs/PPJoin candidate rule used by
    dedup_ngram_jaccard / dedup_containment: global token order =
    (document frequency asc, token); candidate (a, b) iff one of a's
    first prefix_len_of(|a|) tokens in that order appears in b."""
    from collections import Counter

    df = Counter(t for s in sets for t in s)
    cands = set()
    for ai, a in enumerate(sets):
        order = sorted(a, key=lambda t: (df[t], t))
        prefix = set(order[: prefix_len_of(len(a))])
        for bi, b in enumerate(sets):
            if ai != bi and prefix & b:
                cands.add((ai, bi))
    return cands


@settings(max_examples=200, deadline=None)
@given(sets=_corpus)
def test_containment_prefix_filter_never_misses(sets):
    """Completeness of the asymmetric prefix rule: every pair with
    containment |A∩B|/|A| ≥ t must be generated as a candidate from
    A's (|A| − ⌈t·|A|⌉ + 1)-token prefix."""
    import math

    t = 0.8
    cands = _prefix_candidates(
        sets, lambda n: n - math.ceil(n * t) + 1
    )
    for ai, a in enumerate(sets):
        for bi, b in enumerate(sets):
            if ai != bi and len(a & b) / len(a) >= t:
                assert (ai, bi) in cands


@settings(max_examples=200, deadline=None)
@given(sets=_corpus)
def test_jaccard_prefix_filter_never_misses(sets):
    """Completeness of the symmetric prefix rule at the registered
    Jaccard threshold (candidates from either side's prefix)."""
    import math

    t = 0.75
    cands = _prefix_candidates(
        sets, lambda n: n - math.ceil(n * t) + 1
    )
    for ai, a in enumerate(sets):
        for bi, b in enumerate(sets):
            if ai < bi:
                j = len(a & b) / len(a | b)
                if j >= t:
                    assert (ai, bi) in cands or (bi, ai) in cands


@settings(max_examples=12, deadline=None)
@given(
    seqs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "__absent__"]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_scd2_intervals_partition_versions_exactly(spark, seqs):
    """For ANY per-doc state sequence, the SCD2 intervals equal a
    run-length encoding: non-absent versions are covered exactly once,
    intervals never overlap, and is_current marks runs reaching the
    final version."""
    from duckdb_gsheets_spark.operators.pipeline import scd2_intervals

    n_versions = max(len(s) for s in seqs)
    seqs = [s + [s[-1]] * (n_versions - len(s)) for s in seqs]
    rows = [
        (doc_id, v + 1, state)
        for doc_id, s in enumerate(seqs)
        for v, state in enumerate(s)
    ]
    grid = spark.createDataFrame(
        rows, "doc_id long, version long, state string"
    )
    got = scd2_intervals(grid, n_versions=n_versions).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, s in enumerate(seqs):
        ivals = sorted(by_doc.get(doc_id, []), key=lambda r: r.valid_from)
        covered = []
        for r in ivals:
            assert 1 <= r.valid_from <= r.valid_to <= n_versions
            assert r.is_current == (r.valid_to == n_versions)
            for v in range(r.valid_from, r.valid_to + 1):
                assert s[v - 1] == r.text_md5  # run carries one state
                covered.append(v)
        expected_covered = [
            v for v in range(1, n_versions + 1) if s[v - 1] != "__absent__"
        ]
        assert sorted(covered) == expected_covered  # exact cover, no overlap
        # Runs are maximal: adjacent intervals never share a state.
        for a, b in zip(ivals, ivals[1:]):
            if a.valid_to + 1 == b.valid_from:
                assert a.text_md5 != b.text_md5


@settings(max_examples=300, deadline=None)
@given(
    st.floats(
        min_value=-1e9,
        max_value=1e9,
        allow_nan=False,
        allow_infinity=False,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_round_half_away_matches_duckdb_round(x, ndigits):
    """determinism.round_half_away must equal DuckDB's ROUND for any
    double and scale — including exact .5 ties, where Python's builtin
    half-even round() diverges.

    The value MUST reach DuckDB as a bound DOUBLE parameter, not an
    interpolated SQL literal: a literal like 900719925.5925565 parses
    as DECIMAL(16,7) first, and when the decimal's scaled integer
    exceeds 2^53 the DECIMAL→DOUBLE cast lands on a DIFFERENT double
    than Python's correctly-rounded float() — the comparison would
    then test two different inputs. (Engine-side this path never
    occurs: oracle queries read doubles from parquet, bit-exact.)
    """
    import duckdb

    from duckdb_gsheets_spark.operators.determinism import round_half_away

    got = round_half_away(x, ndigits)
    expected = duckdb.execute(
        f"SELECT ROUND(CAST(? AS DOUBLE), {ndigits})", [x]
    ).fetchone()[0]
    assert got == expected
