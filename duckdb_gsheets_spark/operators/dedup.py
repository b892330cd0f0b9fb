"""Deduplication operators over the ``documents`` corpus: exact
(fingerprint groupBy), n-gram Jaccard (inverted-index join), MinHash
LSH (shingle → signature → band → bucket join) and SimHash (band
blocking on a 60-bit signature).

Scale design (the point of these ops at 100 TB):
* Exact dedup is one hash-shuffle on a 32-hex fingerprint — the
  cheapest possible full-corpus pass.
* MinHash/SimHash candidate generation never compares all pairs: band
  buckets bound comparisons to colliding documents only; verification
  joins are per-candidate-pair, not per-pair-of-corpus.
* The exact-Jaccard and containment joins are prefix-filtered
  (AllPairs/PPJoin): only each document's rarest ``(1−t)·|A|+1``
  tokens enter the join, plus length and positional filters, so no
  corpus-wide token ever drives a quadratic join — same exact result
  set as the naive inverted index the oracle runs.

All signatures are built from the PORTABLE md5/affine hash family
(functions/portable_hash.py) — JVM-side, deterministic, and computable
bit-identically in DuckDB SQL, which is what gives every sketch query
below (MinHash, SimHash, calibrations, clusters) a value-exact oracle;
no Python in any hot path.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.functions import portable_hash as PH
from duckdb_gsheets_spark.functions import text as T
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import (
    fan_out,
    load_table,
    session_memo,
)

#: MinHash configuration: 16 permutations in 8 bands of 2 rows.
MINHASH_PERMS = 16
MINHASH_BAND_ROWS = 2
MINHASH_JACCARD_THRESHOLD = 0.5

#: SimHash: 60-bit signature (the portable hash width — stays positive
#: in int64 on BOTH engines, so band slices, XOR and comparisons agree
#: with no unsigned special-casing), 4 bands of 15 bits; Hamming ≤ 3
#: always collides on ≥1 band (pigeonhole).
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3

#: Unigram-Jaccard near-dup threshold for the oracle-checked query.
NGRAM_JACCARD_THRESHOLD = 0.75

#: Document frequency above which a token's PPJoin candidate-join key
#: is SALTED (see _candidate_pairs). Below it one key's pair work is
#: ≤ df² ≤ 65k filter evaluations, so whole per-token keys spread fine;
#: above it one key would own df²-sized work that no partitioning of
#: whole keys can split.
PPJOIN_HOT_DF = 256


def _default_parallelism(df: DataFrame) -> int:
    """The session's scheduler width — the scale-adaptive partition
    count for explicitly-widened exchanges (cluster: total executor
    cores; local[N]: N)."""
    return df.sparkSession.sparkContext.defaultParallelism


def _salt_width(df: DataFrame, max_df: int) -> int:
    """Salt count for the PPJoin hot branch: ``⌈max_df /
    PPJOIN_HOT_DF⌉``, capped at the scheduler width. The B side is
    replicated ``n_salt`` ways, so the width follows the measured skew
    (per-(key, salt) pair work stays near df·HOT_DF, the rare branch's
    bound) rather than the cluster size; salting wider than the task
    slots buys nothing."""
    return max(
        1,
        min(
            _default_parallelism(df),
            -(-int(max_df) // PPJOIN_HOT_DF),
        ),
    )


def _wide(df: DataFrame, *cols: str) -> DataFrame:
    """Keyed repartition with an EXPLICIT partition count, sized from
    the scheduler width. AQE's partition coalescing folds exchanges by
    input bytes and is blind to multiplicative join fan-out or
    compute-dense rows, so a small frame feeding an exploding join
    lands on 1-2 tasks; a user-numbered repartition is exempt from
    coalescing by contract (REPARTITION_BY_NUM) and keeps the stage at
    cluster width. Use ONLY in front of output-exploding or
    compute-dense exchanges — everywhere else AQE's sizing is
    correct."""
    return df.repartition(_default_parallelism(df), *cols)

#: Token-set containment threshold (|A∩B| / |A|) for the asymmetric
#: near-dup query.
CONTAINMENT_THRESHOLD = 0.8


def _distinct_tokens(col: Column) -> Column:
    return F.array_distinct(T.tokens(F.lower(col)))


def _shingle_sets(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, shingles array<long>): distinct hashed 3-word shingles
    per document, built as a NARROW map — no explode, no window, no
    shuffle.

    Tokens reduce to mod-P residues (portable_hash.tok_mod_p) and each
    shingle is the polynomial combine of 3 consecutive residues —
    values in [0, P) that the DuckDB oracle reproduces exactly. Both
    the hashed-token array and the token array are materialized in
    their own projections and then referenced many times from
    higher-order functions; Catalyst's CollapseProject keeps the
    splits un-inlined because the expressions are non-cheap with
    multiple references (inlining is the O(tokens²) trap — measured
    ~20× slower at sf0.1). Documents shorter than 3 tokens yield one
    truncated shingle (element_at past the end is NULL → the
    NULL_SENTINEL residue, same on both engines).
    """
    # Drop NULL-text docs on the INPUT column (pushdown-friendly) —
    # the old explode formulation emitted no rows for them. Filtering
    # on the computed shingle array instead would let predicate
    # pushdown substitute the whole expression into the filter and
    # re-evaluate it per row (measured 10× slower at sf0.1). Without
    # the filter, every NULL-text doc gets the identical all-NULL
    # signature and they all collide in every LSH band.
    toksed = fan_out(docs.where(F.col(text_col).isNotNull())).select(
        "doc_id", T.tokens(F.lower(F.col(text_col))).alias("toks")
    )
    hashed = toksed.select(
        "doc_id", F.transform("toks", PH.tok_mod_p).alias("ht")
    )
    ht = F.col("ht")
    n = F.size(ht)
    at = lambda j: F.coalesce(  # noqa: E731 — j is 1-based
        F.try_element_at(ht, j.cast("int")), F.lit(PH.NULL_SENTINEL)
    )
    shingle_at = lambda i: (  # noqa: E731 — i is 0-based
        ((at(i + 1) * PH.SHINGLE_A + at(i + 2)) % PH.P) * PH.SHINGLE_A
        + at(i + 3)
    ) % PH.P
    hashes = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.when((i <= n - 3) | (i == 0), shingle_at(i)),
    )
    return hashed.select(
        "doc_id",
        F.array_distinct(F.filter(hashes, lambda x: x.isNotNull())).alias(
            "shingles"
        ),
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by md5(normalized text), keep the lowest
    doc_id as survivor. One shuffle on the fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_ORACLE = f"""
SELECT
  {T.oracle_fingerprint()} AS fingerprint,
  MIN(doc_id) AS survivor_doc_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


#: Per-document match cap for the registered (bounded-output) n-gram
#: Jaccard query.
NGRAM_TOPK_K = 5


def _doc_token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, toks, n_tokens)``: each non-NULL document's distinct
    lowercased tokens, the input of both pair cores."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", _distinct_tokens(F.col("text")).alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs ``(doc_a, doc_b,
    jaccard)`` via the prefix-filtered PPJoin core
    (:func:`_jaccard_pairs_from`).

    NOT registered directly: on a dup-dense corpus (the whole point of
    a dedup pass) the materialized pair set is inherently quadratic —
    the registered query is :func:`dedup_ngram_jaccard`, which bounds
    the output to each document's top-K matches; this all-pairs form
    stays as the pytest oracle. Its result set is that of the naive
    full postings self-join the DuckDB oracle runs.
    """
    return _jaccard_pairs_from(_doc_token_sets(spark, sf_dir))


class _PPJoinIndex(NamedTuple):
    """The PPJoin index both pair cores build (:func:`_ppjoin_index`)."""

    vocab: DataFrame
    n_vocab: int
    n_salt: int
    positioned: DataFrame


def _ppjoin_index(toks_arr: DataFrame) -> _PPJoinIndex:
    """The prefix-filter index (AllPairs / PPJoin — Bayardo et al.,
    WWW'07; Xiao et al., WWW'08) over a ``(doc_id, toks, n_tokens)``
    frame:

    * ``vocab`` — ``(tok, df)``, eagerly checkpointed: the position
      window, the salt width and the overlap representation all read
      it, and none re-runs the explode + groupBy.
    * ``n_vocab`` and ``n_salt`` — one action over ``vocab`` measures
      the vocabulary size (it picks the overlap representation) and
      the largest df (it sizes the hot-branch salt).
    * ``positioned`` — the postings plus ``df`` and ``pos``, each
      token's 1-based place in its document's global (df asc, tok)
      order, eagerly checkpointed: the candidate join reads it four
      ways (rare/hot × A/B), and the overlap cores read its
      ``(doc_id, n_tokens, tok)`` rows (:func:`_overlap`).
    """
    postings = toks_arr.select(
        "doc_id", "n_tokens", F.explode("toks").alias("tok")
    )
    vocab = (
        postings.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint(eager=True)
    )
    vstats = vocab.agg(
        F.count(F.lit(1)).alias("n_vocab"), F.max("df").alias("max_df")
    ).first()
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    positioned = (
        postings.join(vocab, "tok")
        .withColumn("pos", F.row_number().over(w))
        .localCheckpoint(eager=True)
    )
    return _PPJoinIndex(
        vocab,
        int(vstats.n_vocab),
        _salt_width(toks_arr, vstats.max_df or 0),
        positioned,
    )


def _prefix(positioned: DataFrame, t: float) -> DataFrame:
    """Each document's first ``n − ⌈t·n⌉ + 1`` tokens in df order:
    a document with at most ``n − ⌈t·n⌉`` tokens outside another
    shares one of them with it."""
    return positioned.where(
        F.col("pos") <= F.col("n_tokens") - F.ceil(F.col("n_tokens") * t) + 1
    )


def _side(positioned: DataFrame, s: str) -> DataFrame:
    """One side of the candidate join: ``doc_{s}``, ``n{s}`` and
    ``p{s}`` for ``s`` in ``a``/``b``, plus the keys ``tok`` and
    ``df``."""
    return positioned.select(
        F.col("doc_id").alias(f"doc_{s}"),
        F.col("n_tokens").alias(f"n{s}"),
        "tok",
        "df",
        F.col("pos").alias(f"p{s}"),
    )


def _overlap_ubound() -> Column:
    """PPJoin's positional bound (Xiao et al. 2008): a shared token at
    df-order positions ``(pa, pb)`` bounds the pair's overlap by
    ``1 + min(na − pa, nb − pb)``. A true pair's FIRST common token
    meets any bound the overlap meets, so a filter on this keeps at
    least that row of every true pair. The callers compare it with
    ``⌈α − 1e-9⌉``: the nudge only ever under-prunes, so float error
    at an exact integer never rounds α past a true pair."""
    return (
        F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")) + 1
    )


def _candidate_pairs(
    a: DataFrame, b: DataFrame, filt: Column, n_salt: int
) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` pairs whose :func:`_side` rows share
    a token and pass ``filt``.

    The join is output-exploding (a few MB of postings fan out to
    millions of pair rows), and AQE sizes post-shuffle partitions by
    input bytes, so every exchange here is pinned to the scheduler
    width with :func:`_wide`. Tokens at df ≤ ``PPJOIN_HOT_DF`` join on
    ``tok`` alone. Hotter tokens are salted: each A row takes the salt
    ``xxhash64(doc_a) mod n_salt``, each B row is replicated over all
    ``n_salt`` salts, and the key is ``(tok, salt)``. Every matching
    (A row, B row) meets in exactly one branch and one salt, so the
    union holds the plain join's rows."""
    rare, hot = F.col("df") <= PPJOIN_HOT_DF, F.col("df") > PPJOIN_HOT_DF
    plain = _wide(a.where(rare), "tok").join(
        _wide(b.where(rare), "tok"), "tok"
    )
    hot_a = a.where(hot).withColumn(
        "salt", F.pmod(F.xxhash64("doc_a"), F.lit(n_salt)).cast("int")
    )
    hot_b = b.where(hot).withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<int>")),
    )
    salted = _wide(hot_a, "tok", "salt").join(
        _wide(hot_b, "tok", "salt"), ["tok", "salt"]
    )
    cand = plain.where(filt).select("doc_a", "doc_b").unionByName(
        salted.where(filt).select("doc_a", "doc_b")
    )
    return _wide(cand, "doc_a", "doc_b").distinct()


def _overlap(cand: DataFrame, ix: _PPJoinIndex) -> DataFrame:
    """``(doc_a, doc_b, na, nb, overlap)`` per candidate pair. A
    vocabulary of at most ``BITMASK_MAX_VOCAB`` tokens counts the
    overlap on fixed-width bitmasks (:func:`_overlap_bitmask`); a
    larger one on dictionary-encoded int arrays
    (:func:`_overlap_int_arrays`), the sparse form that stays small
    when sets hold far fewer tokens than the vocabulary. Both read the
    postings as the ``(doc_id, n_tokens, tok)`` columns of the
    checkpointed ``positioned`` frame, not as a second explode of the
    token arrays."""
    postings = ix.positioned.select("doc_id", "n_tokens", "tok")
    if ix.n_vocab <= BITMASK_MAX_VOCAB:
        return _overlap_bitmask(cand, postings, ix.vocab, ix.n_vocab)
    return _overlap_int_arrays(cand, postings, _token_dictionary(ix.vocab))


def _jaccard_pairs_from(toks_arr: DataFrame) -> DataFrame:
    """Exact token-set Jaccard pairs ``(doc_a, doc_b, jaccard)`` with
    ``doc_a < doc_b`` and J ≥ ``NGRAM_JACCARD_THRESHOLD`` over a
    ``(doc_id, toks, n_tokens)`` frame — the core of the all-pairs
    pytest oracle and of the group-collapsed registered query (which
    runs it over distinct-token-set representatives).

    J is symmetric, so both join sides are prefixes. A candidate row
    passes three filters: ``doc_a < doc_b``; the length bound
    ``min(na, nb) ≥ t·max(na, nb)``; and the positional bound against
    the overlap J ≥ t needs, ``α = ⌈t·(na + nb)/(1 + t)⌉``. J is
    ``round(o / (na + nb − o), 6)``."""
    t = NGRAM_JACCARD_THRESHOLD
    ix = _ppjoin_index(toks_arr)
    prefix = _prefix(ix.positioned, t)
    na, nb = F.col("na"), F.col("nb")
    alpha = F.ceil((na + nb) * F.lit(t / (1.0 + t)) - F.lit(1e-9))
    filt = (
        (F.col("doc_a") < F.col("doc_b"))
        & (F.least(na, nb) >= F.greatest(na, nb) * t)
        & (_overlap_ubound() >= alpha)
    )
    cand = _candidate_pairs(
        _side(prefix, "a"), _side(prefix, "b"), filt, ix.n_salt
    )
    return (
        _overlap(cand, ix)
        .select(
            "doc_a",
            "doc_b",
            _jaccard_expr(F.col("overlap")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= t)
    )


#: Vocabulary cutoff for the bitmask overlap: 4096 tokens = 64 longs
#: (512 B) per document mask — broadcast-friendly and far below the
#: point where sparse int arrays win (sets ≪ vocab).
BITMASK_MAX_VOCAB = 4096


def _jaccard_expr(overlap: Column) -> Column:
    """round(o / (na + nb − o), 6)."""
    return F.round(
        overlap.cast("double")
        / (F.col("na") + F.col("nb") - overlap).cast("double"),
        6,
    )


def _overlap_int_arrays(
    cand: DataFrame, postings: DataFrame, tok_ids: DataFrame
) -> DataFrame:
    """General-vocabulary overlap core: per-doc int-id arrays,
    ``(doc_a, doc_b, na, nb, overlap)`` with overlap =
    size(array_intersect) per candidate pair."""
    itoks = (
        postings.join(tok_ids, "tok")
        .groupBy("doc_id", "n_tokens")
        .agg(F.collect_list("tid").alias("set"))
    )
    return _pair_overlap(
        cand, itoks, lambda a, b: F.size(F.array_intersect(a, b))
    )


def _overlap_bitmask(
    cand: DataFrame, postings: DataFrame, tok_ids: DataFrame, n_vocab: int
) -> DataFrame:
    """Small-vocabulary overlap core ``(doc_a, doc_b, na, nb,
    overlap)``: token sets as ⌈n_vocab/64⌉-long bitmask arrays,
    overlap = Σ popcount(a AND b) per block. ``tok_ids`` is any frame
    with a ``tok`` column and ``n_vocab`` rows (the PPJoin index's
    materialized vocab and the count its one action measured). The
    dense bit positions come from a row_number over that frame
    (bounded single-task window — allowlisted in tests/test_plans.py),
    and each token's (block, bit value) is precomputed there, so the
    per-posting work is one broadcast-join lookup + a bit_or
    aggregate."""
    nblocks = max(1, (n_vocab + 63) // 64)
    dense = (
        tok_ids.select("tok")
        .withColumn(
            "did", F.row_number().over(Window.orderBy("tok")) - 1
        )
        .withColumn("block", F.shiftright("did", 6))
        .withColumn(
            "bitval", F.expr("shiftleft(1L, CAST(did % 64 AS INT))")
        )
        .select("tok", "block", "bitval")
    )
    masks = (
        postings.join(F.broadcast(dense), "tok")
        .groupBy("doc_id", "n_tokens", "block")
        .agg(F.expr("bit_or(bitval)").alias("m"))
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("block", "m"))
            ).alias("mm")
        )
        .select(
            "doc_id",
            "n_tokens",
            F.transform(
                F.sequence(F.lit(0), F.lit(nblocks - 1)),
                lambda b: F.coalesce(
                    F.element_at("mm", b), F.lit(0).cast("long")
                ),
            ).alias("set"),
        )
    )
    return _pair_overlap(
        cand,
        masks,
        lambda a, b: F.aggregate(
            F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
            F.lit(0),
            lambda acc, v: acc + v,
        ),
    )


def _pair_overlap(cand: DataFrame, sets: DataFrame, overlap) -> DataFrame:
    """Join both sides' ``(doc_id, n_tokens, set)`` rows onto the
    ``(doc_a, doc_b)`` candidates and score ``overlap(set_a, set_b)``:
    ``(doc_a, doc_b, na, nb, overlap)``."""
    def side(s: str) -> DataFrame:
        return sets.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("set").alias(f"set_{s}"),
            F.col("n_tokens").alias(f"n{s}"),
        )

    return (
        cand.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            overlap(F.col("set_a"), F.col("set_b")).alias("overlap"),
        )
    )


def _token_dictionary(dfs: DataFrame) -> DataFrame:
    """Injective tok→tid dictionary for the int-array verify.
    INVARIANT — this frame MUST be eagerly checkpointed:
    ``monotonically_increasing_id`` is nondeterministic across
    re-evaluations, and BOTH verify sides join this frame; two
    un-materialized evaluations could assign different ids to the
    same token and silently corrupt every intersection. The eager
    ``localCheckpoint`` pins ONE materialized assignment that every
    consumer reads (plan roots on the checkpointed RDD — pinned by
    tests/test_ops.py::test_token_dictionary_plan_roots_on_checkpoint,
    which fails if a refactor drops the materialization)."""
    return (
        dfs.select("tok")
        .withColumn("tid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )


def _token_set_groups(toks_arr: DataFrame):
    """Collapse documents with IDENTICAL distinct-token sets into
    groups: Jaccard and containment depend only on the token set, so
    every member of a group scores identically against the rest of the
    corpus. Returns ``(members, groups, reps)``:

    * ``members``  — (doc_id, gid, g_size, n_tokens), one row per doc;
    * ``groups``   — (gid, g_size), one row per distinct token set;
    * ``reps``     — (doc_id=gid, toks, n_tokens), one representative
      (min doc_id) per group, carrying the token array.

    This is the exact-before-fuzzy collapse every production dedup
    runs: pair scoring then touches only DISTINCT token sets, so a
    corpus that is 95 % copies pays the pairwise cost of its 5 %
    unique content. The group key is md5 over the concatenation of
    PER-TOKEN md5s of the sorted token array — separator-free and
    unambiguous (a joined-with-separator key would collide a token
    that itself contains the separator with the split tokens) — one
    narrow map, one fingerprint shuffle. That one pass is eagerly
    ``localCheckpoint``'ed (the tokenize-once production pattern —
    block-manager storage, spills to local disk): every caller fans
    the three outputs into several more consumers each, and an
    unmaterialized frame re-runs the tokenize + 2·md5 map per branch.
    """
    with_fp = toks_arr.withColumn(
        "fp",
        F.md5(
            F.concat_ws(
                "", F.transform(F.sort_array("toks"), lambda t: F.md5(t))
            )
        ),
    ).localCheckpoint(eager=True)
    groups = with_fp.groupBy("fp").agg(
        F.min("doc_id").alias("gid"), F.count(F.lit(1)).alias("g_size")
    )
    members = with_fp.join(groups, "fp").select(
        "doc_id", "gid", "g_size", "n_tokens"
    )
    reps = (
        with_fp.join(groups.select("fp", "gid"), "fp")
        .where(F.col("doc_id") == F.col("gid"))
        .select("doc_id", "toks", "n_tokens")
    )
    return members, groups.select("gid", "g_size"), reps


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K n-gram-Jaccard matches — the BOUNDED variant
    of the all-pairs join that ships as the registered query: output
    is ≤ K rows per document regardless of corpus duplication density
    (all-pairs is quadratic on dup-dense corpora — BASELINE.md's sf0.1
    probe materialized 3.9M pairs; this emits ≤ 5·|docs|).

    Compute is bounded too, not just output: documents with identical
    token sets first collapse into groups (:func:`_token_set_groups`),
    the prefix-filtered PPJoin scores only distinct-set
    REPRESENTATIVES, and the per-doc top-K pool is then assembled from
    bounded pieces — a member's best J=1.0 matches are its group's
    K+1 smallest doc_ids (J ties break by match_id asc, so smaller
    ids always win), and each rep-level match (G,H,j) contributes at
    most the K+1 smallest members of H to each member of G. On a
    corpus that is mostly copies the pairwise stage runs at the
    distinct-content size — the 20× replicated scale probe drops from
    quadratic to ~1× pair compute + linear expansion.

    The result is EXACTLY the naive top-K (same J values, same
    ranks): the DuckDB oracle still scores all pairs and ranks.

    The fingerprinted token-set frame is eagerly
    ``localCheckpoint``'ed inside :func:`_token_set_groups`, so groups,
    members, reps and the PPJoin index all read one materialized pass
    instead of re-expanding the tokenize + per-token md5 subtree.
    """
    members, groups, reps = _token_set_groups(_doc_token_sets(spark, sf_dir))
    # Eagerly checkpointed: ``dir_pairs`` below reads this frame TWICE
    # (once per direction), and each read would otherwise re-run the
    # candidate join and overlap, the query's most expensive stages.
    # It is the J ≥ t pair set over distinct-token-set representatives.
    rep_pairs = _jaccard_pairs_from(reps).localCheckpoint(eager=True)

    # K+1 smallest member ids per group (K matches even after
    # excluding the doc itself).
    wk = Window.partitionBy("gid").orderBy("doc_id")
    members_k = (
        members.select("gid", "doc_id")
        .withColumn("r", F.row_number().over(wk))
        .where(F.col("r") <= NGRAM_TOPK_K + 1)
        .select("gid", F.col("doc_id").alias("match_id"))
    )
    # Intra-group matches: identical sets, J = round(o/(n+n-o)) = 1.0.
    intra = (
        members.where(F.col("g_size") > 1)
        .select("doc_id", "gid")
        .join(members_k, "gid")
        .where(F.col("match_id") != F.col("doc_id"))
        .select("doc_id", "match_id", F.lit(1.0).alias("jaccard"))
    )
    # Inter-group matches: expand each directed rep pair to (every
    # member of the source group) × (K+1 smallest of the target).
    dir_pairs = rep_pairs.select(
        F.col("doc_a").alias("gid"), F.col("doc_b").alias("gid_dst"), "jaccard"
    ).unionAll(
        rep_pairs.select(
            F.col("doc_b").alias("gid"), F.col("doc_a").alias("gid_dst"), "jaccard"
        )
    )
    inter = (
        members.select("doc_id", "gid")
        .join(dir_pairs, "gid")
        .join(
            members_k.withColumnRenamed("gid", "gid_dst"),
            "gid_dst",
        )
        .select("doc_id", "match_id", "jaccard")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), "match_id")
    return (
        intra.unionAll(inter)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= NGRAM_TOPK_K)
        .select("doc_id", "match_id", "jaccard", "rank")
    )


DEDUP_NGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))) AS tok
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(overlap AS DOUBLE) / CAST(sa.n_tokens + sb.n_tokens - overlap AS DOUBLE), 6) AS jaccard
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(overlap AS DOUBLE) / CAST(sa.n_tokens + sb.n_tokens - overlap AS DOUBLE), 6) >= {NGRAM_JACCARD_THRESHOLD}
), bothsides AS (
  SELECT doc_a AS doc_id, doc_b AS match_id, jaccard FROM scored
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS match_id, jaccard FROM scored
)
SELECT doc_id, match_id, jaccard,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY jaccard DESC, match_id) AS INTEGER) AS rank
FROM bothsides
QUALIFY rank <= {NGRAM_TOPK_K}
"""


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set CONTAINMENT pairs ``C(A→B) = |A∩B| / |A| ≥ t``
    — the asymmetric near-dup signal Jaccard misses: a short document
    wholly quoted inside a long one has high containment but low
    Jaccard (boilerplate, quoted posts, templated pages). The core is
    :func:`_containment_pairs_from`; this all-pairs form is the pytest
    oracle of :func:`dedup_containment`.
    """
    return _containment_pairs_from(_doc_token_sets(spark, sf_dir))


def _containment_pairs_from(toks_arr: DataFrame) -> DataFrame:
    """Exact containment pairs ``(doc_a, doc_b, n_tokens_a,
    n_tokens_b, containment)`` with C(A→B) ≥ ``CONTAINMENT_THRESHOLD``
    over a ``(doc_id, toks, n_tokens)`` frame — the core of the
    all-pairs pytest oracle and of the group-collapsed registered
    rollup.

    If C(A→B) ≥ t, A has at most ``na − ⌈t·na⌉`` tokens outside B, so
    only the A side is a prefix; the B side is every posting. Because
    prefixes hold each document's RAREST tokens, a corpus-wide hot
    token adds almost no A rows, and the join size is Σ_tok
    prefix_count(tok)·df(tok), not df². There is no upper length
    bound (a superset B can be arbitrarily long). A candidate row
    passes ``doc_a ≠ doc_b``, ``nb ≥ α`` and the positional bound,
    with ``α = ⌈t·na⌉`` the overlap C ≥ t needs. C is
    ``round(o / na, 6)``."""
    t = CONTAINMENT_THRESHOLD
    ix = _ppjoin_index(toks_arr)
    alpha = F.ceil(F.col("na") * F.lit(t) - F.lit(1e-9))
    filt = (
        (F.col("doc_a") != F.col("doc_b"))
        & (F.col("nb") >= alpha)
        & (_overlap_ubound() >= alpha)
    )
    cand = _candidate_pairs(
        _side(_prefix(ix.positioned, t), "a"),
        _side(ix.positioned, "b"),
        filt,
        ix.n_salt,
    )
    containment = F.round(
        F.col("overlap").cast("double") / F.col("na").cast("double"), 6
    )
    return (
        _overlap(cand, ix)
        .select(
            "doc_a",
            "doc_b",
            F.col("na").alias("n_tokens_a"),
            F.col("nb").alias("n_tokens_b"),
            containment.alias("containment"),
        )
        .where(F.col("containment") >= t)
    )


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document containment ROLLUP — the bounded registered form
    of :func:`containment_pairs` (whose all-pairs output is quadratic
    on boilerplate-heavy corpora): for every document contained in at
    least one other, how many hosts it has and its maximum
    containment. Output ≤ 1 row per document at any duplication
    density; the pair query stays as the pytest oracle.

    Identical-set documents group first (:func:`_token_set_groups`),
    as in :func:`dedup_ngram_jaccard`, and
    :func:`_containment_pairs_from` scores only the distinct-set
    representatives. The rollup never expands pairs: a member of
    group G has ``(|G|−1)`` intra-group hosts at containment 1.0 plus
    ``Σ_H |H|`` over rep-level matches ``C(G→H) ≥ t``, and
    ``max_containment`` is 1.0 when ``|G|>1`` else the rep-level max.
    """
    members, groups, reps = _token_set_groups(_doc_token_sets(spark, sf_dir))
    rep_pairs = _containment_pairs_from(reps)
    # Per source group: total members across matched host groups and
    # the best rep-level containment.
    inter = (
        rep_pairs.join(
            groups.select(
                F.col("gid").alias("doc_b"), F.col("g_size").alias("g_size_b")
            ),
            "doc_b",
        )
        .groupBy(F.col("doc_a").alias("gid"))
        .agg(
            F.sum("g_size_b").alias("n_hosts_inter"),
            F.max("containment").alias("cmax_inter"),
        )
    )
    per_group = (
        groups.join(inter, "gid", "left")
        .withColumn(
            "n_hosts",
            F.coalesce(F.col("n_hosts_inter"), F.lit(0))
            + (F.col("g_size") - 1),
        )
        .where(F.col("n_hosts") > 0)
        .withColumn(
            "max_containment",
            F.when(F.col("g_size") > 1, F.lit(1.0)).otherwise(
                F.col("cmax_inter")
            ),
        )
        .select("gid", "n_hosts", "max_containment")
    )
    return (
        members.join(per_group, "gid")
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("n_tokens").alias("n_tokens_a"),
            "n_hosts",
            "max_containment",
        )
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))) AS tok
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc_a,
         CAST(sa.n_tokens AS INTEGER) AS n_tokens_a,
         ROUND(CAST(overlap AS DOUBLE) / CAST(sa.n_tokens AS DOUBLE), 6) AS containment
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  WHERE ROUND(CAST(overlap AS DOUBLE) / CAST(sa.n_tokens AS DOUBLE), 6) >= {CONTAINMENT_THRESHOLD}
)
SELECT doc_a, n_tokens_a, COUNT(*) AS n_hosts,
       MAX(containment) AS max_containment
FROM scored
GROUP BY doc_a, n_tokens_a
"""


def _minhash_sigs_hof(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The all-JVM higher-order-function signature build — per row,
    each of the 16 permutation mins is an ``array_min`` over a
    ``transform`` of the shingle array, ZERO shuffles. Kept ONLY as
    the reference the formulation-equivalence pytest pins the Arrow
    builder against — Spark evaluates these lambdas INTERPRETED,
    which is why :func:`minhash_signatures` moved off it (round 14).
    Not reachable from any registered query."""
    shingled = _shingle_sets(docs, text_col)

    def perm_min(perm: int):
        a, b = PH.MINHASH_COEFFS[perm]
        # Unary lambda on purpose: a binary one would receive the
        # element index as its second argument.
        return F.array_min(
            F.transform(F.col("shingles"), lambda s: PH.affine(s, a, b))
        )

    sig = F.array(*[perm_min(i) for i in range(MINHASH_PERMS)])
    return shingled.select("doc_id", "shingles", sig.alias("signature"))


def _minhash_sigs_np_batches(it):
    """Arrow-batched (doc_id, toks) → (doc_id, shingles, signature):
    md5 residues (memoized per task — vocabularies repeat heavily),
    sentinel-padded 3-shingle polynomial combine and the 16 affine
    permutation mins, all vectorized in numpy int64 (every
    intermediate is < 2^62, exact — the same bounds the JVM/DuckDB
    expressions rely on). ``pd.unique`` preserves first-occurrence
    order exactly like ``array_distinct``. Module-level so executors
    import it instead of re-pickling a closure per plan."""
    import hashlib

    import numpy as np
    import pandas as pd

    p = PH.P
    sa = PH.SHINGLE_A
    sent = np.full(2, PH.NULL_SENTINEL, dtype=np.int64)
    ca = np.array([c[0] for c in PH.MINHASH_COEFFS], dtype=np.int64)[:, None]
    cb = np.array([c[1] for c in PH.MINHASH_COEFFS], dtype=np.int64)[:, None]
    cache: dict[str, int] = {}

    def residue(t: str) -> int:
        r = cache.get(t)
        if r is None:
            r = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % p
            cache[t] = r
        return r

    for pdf in it:
        out_sh, out_sig = [], []
        for toks in pdf["toks"]:
            n = len(toks)
            ht = np.fromiter(
                (residue(t) for t in toks), dtype=np.int64, count=n
            )
            padded = np.concatenate([ht, sent])
            i = np.arange(n - 2 if n >= 3 else 1)
            sh = pd.unique(
                ((padded[i] * sa + padded[i + 1]) % p * sa + padded[i + 2])
                % p
            )
            out_sh.append(sh)
            out_sig.append(((ca * sh[None, :] + cb) % p).min(axis=1))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "shingles": out_sh,
                "signature": out_sig,
            }
        )


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + hashed-shingle MinHash signature (array<long>) + shingle set.

    Signatures are built in ONE Arrow-batched pass
    (:func:`_minhash_sigs_np_batches`): tokens come from the same JVM
    expression as every oracle (so tokenization cannot drift), and the
    residue/shingle/permutation arithmetic runs vectorized in numpy —
    the higher-order-function form evaluates its lambdas INTERPRETED
    per element, and the signature build was the dominant wall of
    every MinHash consumer (round-14 A/B at sf0.1: 1.46 s HOF vs 0.92 s
    Arrow, identical output bit-for-bit on all 5000 docs; the
    formulation-equivalence pytest pins Arrow == HOF).
    The md5 → first-15-hex → mod-P residue is the portable-hash
    contract both engines compute (hashlib md5 IS md5); all shingle
    and affine arithmetic stays < 2^62, exact in int64 everywhere.

    The frame is eagerly ``localCheckpoint``'ed (round 8): every
    consumer fans the signature frame into several branches (the band
    self-join reads it twice, candidate verification re-attaches the
    shingle payload per side), and an unmaterialized frame re-runs
    the scan + tokenize + signature pass per branch — 4-10 corpus
    scans per registered dedup query in the round-8 plan audit.
    Materializing the (doc_id, shingles, signature) index once is the
    production pattern (a MinHash index IS a persisted artifact).
    """
    toksed = fan_out(docs.where(F.col(text_col).isNotNull())).select(
        "doc_id", T.tokens(F.lower(F.col(text_col))).alias("toks")
    )
    out = toksed.mapInPandas(
        _minhash_sigs_np_batches,
        "doc_id long, shingles array<long>, signature array<long>",
    )
    return out.localCheckpoint(eager=True)


def _band_rows(sigs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Slim ``(doc_id, band_idx, band_hash)`` LSH band rows from a
    signature frame — no shingle payload by default, so any join over
    them shuffles only 24 bytes/row/band. ``carry`` rides extra
    columns through the explode, so a caller that needs them on the
    candidate side skips a re-join."""
    n_bands = MINHASH_PERMS // MINHASH_BAND_ROWS
    return sigs.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        (
                            (
                                F.col("signature")[b * MINHASH_BAND_ROWS]
                                * PH.BAND_A
                                + F.col("signature")[b * MINHASH_BAND_ROWS + 1]
                            )
                            % PH.P
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", *carry, "band.band_idx", "band.band_hash")


def _minhash_candidates(sigs: DataFrame) -> DataFrame:
    """Distinct banded-LSH candidate pairs (doc_a < doc_b) from a
    signature frame. Slim band rows (no shingle payload): the band
    self-join shuffles only (doc_id, band_idx, band_hash); payloads
    attach per surviving candidate afterwards."""
    bands = _band_rows(sigs)
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band_idx", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: over the LSH candidate pairs, compare
    the MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    components) against the exact shingle Jaccard, bucketed by the
    estimate — the report that tells you whether 16 permutations are
    enough before trusting the sketch on a 100 TB dedup run.

    Output: one row per estimate quartile bucket with pair count,
    mean estimate, mean exact Jaccard and mean absolute error (all
    exact scaled-long means — estimates are 16ths, so the 1e-6 grid
    is lossless).

    Same shuffle ledger as the dedup itself (band join + two payload
    joins + one tiny rollup); value-exact DuckDB oracle via the
    portable hash family, invariants additionally pytest-pinned.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    cands = _minhash_candidates(sigs)
    payload = sigs.select("doc_id", "signature", "shingles")
    pairs = cands.join(
        payload.select(
            F.col("doc_id").alias("doc_a"),
            F.col("signature").alias("sig_a"),
            F.col("shingles").alias("sh_a"),
        ),
        "doc_a",
    ).join(
        payload.select(
            F.col("doc_id").alias("doc_b"),
            F.col("signature").alias("sig_b"),
            F.col("shingles").alias("sh_b"),
        ),
        "doc_b",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(MINHASH_PERMS))
    )
    exact = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    scored = pairs.select(
        F.least(F.floor(est * 4).cast("int"), F.lit(3)).alias("est_bucket"),
        F.round(est * 1e6).cast("long").alias("est_s"),
        F.round(exact * 1e6).cast("long").alias("ex_s"),
        F.round(F.abs(est - exact) * 1e6).cast("long").alias("err_s"),
    )
    return scored.groupBy("est_bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("est_s") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "avg_estimate"
        ),
        F.round(F.sum("ex_s") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "avg_exact"
        ),
        F.round(F.sum("err_s") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "mean_abs_err"
        ),
        F.round(F.max("err_s") / 1e6, 6).alias("max_abs_err"),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact shingle Jaccard.

    shingle → 16-perm signature → 8 band-hashes → bucket self-join →
    exact verification on candidates only. The portable md5/affine
    hash family makes the whole pipeline SQL-expressible — the DuckDB
    oracle reproduces candidates AND verification value-exactly;
    recall is additionally pytest-verified against planted dups.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _verified_minhash_pairs(minhash_signatures(docs))


def _verified_minhash_pairs(
    sigs: DataFrame, threshold: float = MINHASH_JACCARD_THRESHOLD
) -> DataFrame:
    """Banded candidates → exact shingle-Jaccard verification over a
    (doc_id, shingles, signature) frame — shared by the registered
    pair query (full corpus), the cluster family (distinct-set
    representatives only), and the threshold sweep (``threshold=0``
    keeps every verified candidate so one pass scores all bars)."""
    cands = _minhash_candidates(sigs)
    shingle_sets = sigs.select("doc_id", "shingles")
    with_sets = cands.join(
        shingle_sets.select(
            F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
        ),
        "doc_a",
    ).join(
        shingle_sets.select(
            F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
        ),
        "doc_b",
    )
    jaccard = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        6,
    )
    return (
        with_sets.select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def dedup_source_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication FLOW MATRIX: the verified MinHash
    pair set rolled up by (source, source) — for every pair of corpus
    sources, how many near-dup pairs straddle them and at what mean
    similarity. The provenance view a dedup pass ships alongside its
    savings report: a hot ``(src_a, src_b, cross_source=true)`` row
    means one feed is re-crawling or mirroring another (dedup the
    JOIN of the two feeds, or drop one), while a hot diagonal row
    (``cross_source=false``) means a feed duplicates internally
    (fix the crawler, not the corpus). No existing registry row
    answers "WHERE does the duplication flow from/to" — the cluster
    family labels documents, this labels SOURCE RELATIONSHIPS.

    Shapes, sized for 100 TB: rides the shared banded-LSH pair build
    (never all-pairs), two doc_id-keyed equi-joins against the narrow
    (doc_id, source) projection (only pair rows move — the pair set
    is bounded by the LSH verify), and a ≤|sources|²-row rollup. The
    mean similarity aggregates a SCALED-LONG per pair (exact integer
    sum, one correctly-rounded division at the end — the determinism
    contract's standard shape)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _verified_minhash_pairs(minhash_signatures(docs))
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_of_a"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_of_b"),
            ),
            "doc_b",
        )
        .select(
            F.least("src_of_a", "src_of_b").alias("src_a"),
            F.greatest("src_of_a", "src_of_b").alias("src_b"),
            F.round(F.col("jaccard") * 1e6).cast("long").alias("jm"),
        )
    )
    return (
        tagged.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum("jm").cast("double")
                / F.lit(1e6)
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_jaccard"),
        )
        .select(
            "src_a",
            "src_b",
            "n_pairs",
            "mean_jaccard",
            (F.col("src_a") != F.col("src_b")).alias("cross_source"),
        )
    )


def _source_flow_oracle() -> str:
    return f"""
WITH {_minhash_core_sql()},
fl AS (
  SELECT LEAST(da.source, db.source) AS src_a,
         GREATEST(da.source, db.source) AS src_b,
         CAST(ROUND(p.jaccard * 1e6) AS BIGINT) AS jm
  FROM mh_pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
  WHERE p.jaccard >= {MINHASH_JACCARD_THRESHOLD}
)
SELECT src_a, src_b,
       COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(jm) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_jaccard,
       src_a <> src_b AS cross_source
FROM fl
GROUP BY src_a, src_b
"""


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sig): 60-bit SimHash over word tokens.

    bit k of sig = sign of sum over tokens of ±1 per token-hash bit k.
    Shape: explode tokens → hash once per token (portable 60-bit, in
    whole-stage codegen on this exploded path) → one groupBy(doc_id)
    with 60 vote sums → assemble the long. Single shuffle; all JVM;
    the signature is non-negative so both engines compare/band it in
    plain signed int64.

    Batch frames are eagerly ``localCheckpoint``'ed (round 8): the
    output is 16 bytes/doc but costs an explode + 60 vote sums to
    build, and the pair queries consume it 4+ times (sig-equality
    self-join sides, distinct-sig band join, two doc fan-out joins)
    — each consumption re-ran the full build in the plan audit.
    """
    toks = fan_out(docs).select(
        "doc_id", F.explode(T.tokens(F.lower(F.col(text_col)))).alias("tok")
    ).select("doc_id", PH.tok_hash60(F.col("tok")).alias("h"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{k}")
            for k in range(SIMHASH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for k in range(SIMHASH_BITS):
        sig = sig + F.when(
            F.col(f"v{k}") > 0, F.lit(2**k).cast("long")
        ).otherwise(0)
    return votes.select("doc_id", sig.alias("sig")).localCheckpoint(
        eager=True
    )


def _band_val(sig: F.Column, b: int) -> F.Column:
    """Band ``b``'s 15-bit slice of the 60-bit signature."""
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_width) - 1
    return F.shiftrightunsigned(sig, b * band_width).bitwiseAND(F.lit(mask))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4×15-bit band blocking guarantees every
    pair at Hamming ≤ 3 shares a band; verify exact Hamming distance.
    The token hash is the portable 60-bit md5 value
    (functions/portable_hash.py), so the oracle reproduces signatures,
    band blocking and Hamming verification bit-exactly.

    Dup-dense corpora (the whole point of a dedup pass) make the naive
    all-docs band join quadratic per bucket BEFORE verification, with
    every surviving pair materialized 4× and deduplicated in an extra
    shuffle. This formulation keeps the join input collapsed and the
    output emitted exactly once:

    * **identical signatures** (Hamming 0 — exact and near-exact dups)
      pair through a sig-equality self-join: shuffle keyed on the full
      60-bit sig, output-bound only;
    * **the band join runs over DISTINCT signatures** — input is
      |unique sigs| per band, not |docs|, so a 20-way-duplicated
      corpus shrinks the quadratic stage 20× (measured 36 s → see
      BASELINE.md scale probe);
    * **first-matching-band filter** replaces ``dropDuplicates``: a
      sig pair sharing k bands is emitted only by its lowest matching
      band (both sigs are in hand, so earlier-band inequality is a
      cheap bit-math predicate, not a shuffle);
    * doc pairs fan back out through two sig→doc joins — the only
      stage proportional to OUTPUT size, which is inherent to
      returning all pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs)
    # Hamming-0 pairs: equality self-join on the signature itself.
    within = (
        sigs.alias("a")
        .join(sigs.alias("b"), F.col("a.sig") == F.col("b.sig"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    distinct_sigs = sigs.select("sig").distinct()
    bands = distinct_sigs.select(
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        _band_val(F.col("sig"), b).alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("sig", "band.band_idx", "band.band_val")
    # Earlier-band inequality: band b emits a pair only if no band
    # below b also matches — exactly-once emission without a dedup
    # shuffle.
    no_earlier_match = F.lit(True)
    for b in range(1, SIMHASH_BANDS):
        earlier_differs = F.lit(True)
        for i in range(b):
            earlier_differs = earlier_differs & (
                _band_val(F.col("a.sig"), i) != _band_val(F.col("b.sig"), i)
            )
        no_earlier_match = F.when(
            F.col("band_idx") == b, earlier_differs
        ).otherwise(no_earlier_match)
    sig_pairs = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_idx", "band_val"])
        .where((F.col("a.sig") < F.col("b.sig")) & no_earlier_match)
        .select(F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    close_sigs = sig_pairs.select(
        "sig_a", "sig_b", hamming.alias("hamming")
    ).where((F.col("hamming") > 0) & (F.col("hamming") <= SIMHASH_MAX_HAMMING))
    across = (
        close_sigs.join(
            sigs.select(F.col("sig").alias("sig_a"), F.col("doc_id").alias("da")),
            "sig_a",
        )
        .join(
            sigs.select(F.col("sig").alias("sig_b"), F.col("doc_id").alias("db")),
            "sig_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    return within.unionAll(across)


def simhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for SimHash, the twin of
    :func:`minhash_calibration`: per Hamming distance over the emitted
    near-dup pairs, how much exact token-set Jaccard the 60-bit
    signature distance actually buys — the evidence for choosing the
    Hamming cutoff before a full-corpus run.

    Reuses the registered pair query (so it audits exactly what runs)
    plus one token-set attach per side; the rollup is ≤ 4 rows
    (Hamming 0..SIMHASH_MAX_HAMMING). Means ride exact scaled longs.
    Value-exact DuckDB oracle via the portable 60-bit hash family
    (SIMHASH_CALIBRATION_ORACLE); monotonicity pytest-pinned.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_simhash(spark, sf_dir)
    toks_arr = docs.where(F.col("text").isNotNull()).select(
        "doc_id", _distinct_tokens(F.col("text")).alias("toks")
    )
    ta = toks_arr.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")
    )
    tb = toks_arr.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")
    )
    overlap = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    jac_s = F.round(
        overlap.cast("double") / union.cast("double") * 1e6
    ).cast("long")
    scored = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("hamming", jac_s.alias("jac_s"))
    )
    return scored.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("jac_s") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "avg_jaccard"
        ),
        F.round(F.min("jac_s") / 1e6, 6).alias("min_jaccard"),
        F.round(F.max("jac_s") / 1e6, 6).alias("max_jaccard"),
    )


#: Convergence cap for connected components. Label propagation needs
#: O(eccentricity of the min-labeled vertex) rounds; near-dup clusters
#: are shallow (a dup of a dup of a dup...), so real corpora converge
#: in a handful and the loop breaks early on a zero changed-count.
#: The cap is a runaway backstop only — it is set far above any
#: plausible dup-chain depth so the fixpoint (which the recursive-CTE
#: oracle computes exactly) is always reached in practice.
CC_MAX_ITERS = 50


def connected_components(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """(doc_id, comp): connected components by iterative min-label
    propagation (the MapReduce-CC family — Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14; public).

    Each round every vertex adopts the minimum label among itself and
    its neighbors; fixpoint = every component labeled by its minimum
    doc_id. Per round: one join edges→labels, then ONE min-combine
    groupBy over the tagged union of self + neighbor labels — all
    hash-shuffles on doc_id-shaped keys, no collect of vertex/edge
    data. The driver loop only reads a changed COUNT per round
    (legitimate iterative-algorithm control flow);
    ``localCheckpoint`` truncates the growing lineage each round — on
    a cluster, point ``spark.sparkContext.setCheckpointDir`` at
    durable storage and use ``checkpoint()`` instead.
    """
    # Round 14: materialize the symmetric edge list ONCE — without
    # this every round's neighbor-min join re-executed the caller's
    # whole edge-BUILD subtree (banded joins, rep collapses) as part
    # of its own plan, charging the fixpoint loop O(rounds) edge
    # builds. Bounded at the pair-graph grain the loop shuffles
    # per-round anyway.
    # The src-side semi-join pins the contract the pre-round-14
    # left-join shape enforced implicitly: endpoints absent from
    # ``vertices`` never acquire labels (labels stay ⊆ vertices by
    # induction — groupBy keys come from own rows and nbr src rows,
    # both vertex-filtered) and therefore never bridge components,
    # and the dst side self-heals because a label for a non-vertex
    # dst can then never exist for the nbr join to find (ADVICE r14
    # #3). One hash join inside the one-time edge materialization —
    # the per-round loop is untouched.
    # LAZY checkpoint (round 15): the blocks materialize inside round
    # 1's changed-count action instead of paying a separate eager job
    # — same materialize-once guarantee (every later round reads
    # blocks), one fewer sequential job in the ladder. Safe because
    # the first action references sym exactly once (the nbr join).
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            edges.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .join(
            vertices.select(F.col("doc_id").alias("src")),
            "src",
            "left_semi",
        )
        .localCheckpoint(eager=False)
    )
    labels = vertices.select("doc_id", F.col("doc_id").alias("comp"))
    changed = -1
    for _ in range(CC_MAX_ITERS):
        # ONE tagged union + ONE min-combine per round (round 14): the
        # self label rides the same aggregate as the neighbor labels
        # (min over {own} ∪ {neighbors} ≡ the former least(own,
        # coalesce(nbr_min, own)) — the left join back is deleted),
        # and the per-doc CHANGED flag (own min > overall min) is
        # computed inside the same pass and materialized with the
        # checkpoint, so the convergence count reads checkpointed
        # blocks instead of re-joining old vs new labels — the
        # round-13 loop paid a groupBy + a left join + a join-count
        # (≈3 extra exchanges and one extra join) per round.
        nbr = sym.join(labels, sym["dst"] == labels["doc_id"]).select(
            F.col("src").alias("doc_id"),
            "comp",
            F.lit(0).alias("own"),
        )
        # LAZY checkpoint + count (round 15): the changed-count action
        # itself materializes the round's label blocks — ONE job per
        # round where the eager shape paid two (materialize, then
        # count over the blocks). The count's filter sits ABOVE the
        # checkpoint node, so the stored blocks are the full label
        # rows, exactly as before.
        new_labels = (
            labels.select("doc_id", "comp", F.lit(1).alias("own"))
            .unionByName(nbr)
            .groupBy("doc_id")
            .agg(
                F.min("comp").alias("comp"),
                (
                    F.min(F.when(F.col("own") == 1, F.col("comp")))
                    > F.min("comp")
                )
                .cast("int")
                .alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("chg") == 1).count()
        labels = new_labels.select("doc_id", "comp")
        if changed == 0:
            break
    if changed != 0:
        # Silent non-convergence would diverge from the recursive-CTE
        # oracle's exact fixpoint with no diagnostic — fail loudly
        # instead (the cap is a runaway backstop, not a result).
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITERS} "
            f"rounds ({changed} labels still changing) — raise "
            "CC_MAX_ITERS or investigate the component depth"
        )
    return labels


def _minhash_cluster_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, comp) transitive near-dup labels with the exact-dup
    COLLAPSE applied before the LSH band join: documents with
    identical shingle SETS share every signature and band, so on a
    dup-dense corpus (the whole point of dedup) the banded self-join
    and the CC edge set are quadratic in copy count. Identical sets
    first group under an md5 set-fingerprint (min doc_id becomes the
    representative), LSH + verification + min-label propagation run
    over REPRESENTATIVES only, and members inherit their rep's
    component label.

    The result is EXACTLY the full-graph labeling: identical sets
    always pair (J = 1 ≥ t) so a group is always one cluster, and a
    rep edge exists iff the corresponding member edges exist (same
    signatures). Labels stay min-doc_id because each rep is already
    its group's minimum. Docs with no signature (NULL text) come back
    as singletons, matching the full-graph vertex set.
    """
    sigs = minhash_signatures(docs)
    fp = F.md5(
        F.concat_ws(
            ",",
            F.transform(F.sort_array("shingles"), lambda x: x.cast("string")),
        )
    )
    with_fp = sigs.withColumn("fp", fp)
    groups = with_fp.groupBy("fp").agg(F.min("doc_id").alias("gid"))
    members = (
        with_fp.select("doc_id", "fp").join(groups, "fp").select("doc_id", "gid")
    )
    reps = (
        with_fp.join(groups, "fp")
        .where(F.col("doc_id") == F.col("gid"))
        .select("doc_id", "shingles", "signature")
    )
    edges = _verified_minhash_pairs(reps).select("doc_a", "doc_b")
    comp_reps = connected_components(edges, reps.select("doc_id"))
    member_labels = members.join(
        comp_reps.withColumnRenamed("doc_id", "gid"), "gid"
    ).select("doc_id", "comp")
    singletons = (
        docs.select("doc_id")
        .join(member_labels.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("comp"))
    )
    return member_labels.unionByName(singletons)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate CLUSTERS: MinHash-LSH pairs are only
    edges — production dedup keeps one survivor per connected
    component (A≈B and B≈C must collapse together even when A and C
    never collide). Output: every document with its cluster id
    (= min doc_id in the component), the cluster size, and the
    survivor flag. Oracle: a DuckDB recursive min-label CTE replays
    the closure value-exactly; pytest additionally pins
    transitive-closure behavior on planted chains.
    """
    docs = load_table(spark, sf_dir, "documents")
    labels = _minhash_cluster_labels(docs)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "comp")
        .select(
            "doc_id",
            F.col("comp").alias("cluster_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("comp")).alias("is_survivor"),
        )
    )


def _minhash_core_sql() -> str:
    """Shared DuckDB CTE chain mirroring minhash_signatures →
    _minhash_candidates → exact-Jaccard verification, value-exact
    against the Spark build (portable_hash contract)."""
    n_bands = MINHASH_PERMS // MINHASH_BAND_ROWS
    sent = PH.NULL_SENTINEL
    sig_items = ",\n     ".join(
        f"list_min(list_transform(shingles, s -> (s * {a} + {b}) % {PH.P}))"
        for a, b in PH.MINHASH_COEFFS
    )
    band_rows = ", ".join(f"({b})" for b in range(n_bands))
    return f"""
mh_toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), mh_hashed AS (
  SELECT doc_id,
         list_transform(toks, t -> {PH.oracle_tok_mod_p('t')}) AS ht,
         len(toks) AS n
  FROM mh_toks
), mh_shingled AS (
  SELECT doc_id,
    list_distinct(list_filter(list_transform(range(1, n + 1),
      i -> CASE WHEN i <= n - 2 OR i = 1 THEN
        (((COALESCE(ht[i], {sent}) * {PH.SHINGLE_A}
           + COALESCE(ht[i+1], {sent})) % {PH.P})
          * {PH.SHINGLE_A} + COALESCE(ht[i+2], {sent})) % {PH.P}
      END), x -> x IS NOT NULL)) AS shingles
  FROM mh_hashed
), mh_sigs AS (
  SELECT doc_id, shingles,
    [{sig_items}] AS sig
  FROM mh_shingled
), mh_bands AS (
  SELECT doc_id, band_idx,
         (sig[2*band_idx + 1] * {PH.BAND_A} + sig[2*band_idx + 2]) % {PH.P}
           AS band_hash
  FROM mh_sigs CROSS JOIN (VALUES {band_rows}) bs(band_idx)
), mh_cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mh_bands a JOIN mh_bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), mh_pairs AS (
  SELECT c.doc_a, c.doc_b,
    ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / CAST(len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE),
          6) AS jaccard
  FROM mh_cands c
  JOIN mh_sigs sa ON sa.doc_id = c.doc_a
  JOIN mh_sigs sb ON sb.doc_id = c.doc_b
)"""


DEDUP_MINHASH_ORACLE = f"""
WITH {_minhash_core_sql()}
SELECT doc_a, doc_b, jaccard FROM mh_pairs
WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD}
"""


MINHASH_CALIBRATION_ORACLE = f"""
WITH {_minhash_core_sql()},
mh_est AS (
  SELECT
    CAST(len(list_filter(range(1, {MINHASH_PERMS} + 1),
                         i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
      / {float(MINHASH_PERMS)} AS est,
    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
             AS DOUBLE) AS ex
  FROM mh_cands c
  JOIN mh_sigs sa ON sa.doc_id = c.doc_a
  JOIN mh_sigs sb ON sb.doc_id = c.doc_b
), mh_scored AS (
  SELECT CAST(LEAST(CAST(FLOOR(est * 4) AS INTEGER), 3) AS INTEGER)
           AS est_bucket,
         CAST(ROUND(est * 1e6) AS BIGINT) AS est_s,
         CAST(ROUND(ex * 1e6) AS BIGINT) AS ex_s,
         CAST(ROUND(ABS(est - ex) * 1e6) AS BIGINT) AS err_s
  FROM mh_est
)
SELECT est_bucket, COUNT(*) AS n_pairs,
       ROUND(SUM(est_s) / (COUNT(*) * 1e6), 6) AS avg_estimate,
       ROUND(SUM(ex_s) / (COUNT(*) * 1e6), 6) AS avg_exact,
       ROUND(SUM(err_s) / (COUNT(*) * 1e6), 6) AS mean_abs_err,
       ROUND(MAX(err_s) / 1e6, 6) AS max_abs_err
FROM mh_scored GROUP BY est_bucket
"""


def minhash_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC of the MinHash estimate as a RANKER of true near-dups
    over the LSH candidate pairs — the single-number complement to
    :func:`minhash_calibration`'s bucket table. AUC answers the
    decision question directly: if you rank candidates by signature
    agreement and verify top-down (the budgeted-verification setup at
    100 TB), what's the probability a true near-dup outranks a false
    candidate?

    All-integer Mann-Whitney construction: the estimate takes only
    ``MINHASH_PERMS + 1`` values (k agreeing components), the label is
    the exact integer comparison ``2·|A∩B| ≥ |A∪B|`` (Jaccard ≥ 0.5
    with no float), so the per-k positive/negative counts, the tie
    correction (½·pos·neg per tied group, doubled to stay integral)
    and U are exact; the single division happens at the end. The only
    window runs over the ≤17-row estimate grid.
    """
    assert MINHASH_JACCARD_THRESHOLD == 0.5  # the 2·inter ≥ union form
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    cands = _minhash_candidates(sigs)
    payload = sigs.select("doc_id", "signature", "shingles")
    pairs = cands.join(
        payload.select(
            F.col("doc_id").alias("doc_a"),
            F.col("signature").alias("sig_a"),
            F.col("shingles").alias("sh_a"),
        ),
        "doc_a",
    ).join(
        payload.select(
            F.col("doc_id").alias("doc_b"),
            F.col("signature").alias("sig_b"),
            F.col("shingles").alias("sh_b"),
        ),
        "doc_b",
    )
    k = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    pos = (
        F.lit(2) * F.size(F.array_intersect("sh_a", "sh_b"))
        >= F.size(F.array_union("sh_a", "sh_b"))
    ).cast("long")
    grid = pairs.select(k.alias("k"), pos.alias("is_pos")).groupBy("k").agg(
        F.sum("is_pos").alias("pos"),
        F.sum(F.lit(1) - F.col("is_pos")).alias("neg"),
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grid.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0).cast("long")).alias(
            "neg_below"
        ),
    )
    agg = ranked.agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(
            F.col("pos") * (F.lit(2) * F.col("neg_below") + F.col("neg"))
        ).alias("u2"),
    )
    return agg.select(
        (F.col("n_pos") + F.col("n_neg")).alias("n_pairs"),
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("u2").cast("double")
                / (
                    F.lit(2) * F.col("n_pos") * F.col("n_neg")
                ).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("auc"),
    )


MINHASH_AUC_ORACLE = f"""
WITH {_minhash_core_sql()},
auc_grid AS (
  SELECT CAST(len(list_filter(range(1, {MINHASH_PERMS} + 1),
                              i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS k,
         CAST(SUM(CASE WHEN 2 * len(list_intersect(sa.shingles, sb.shingles))
                        >= len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                       THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(SUM(CASE WHEN 2 * len(list_intersect(sa.shingles, sb.shingles))
                        >= len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                       THEN 0 ELSE 1 END) AS BIGINT) AS neg
  FROM mh_cands c
  JOIN mh_sigs sa ON sa.doc_id = c.doc_a
  JOIN mh_sigs sb ON sb.doc_id = c.doc_b
  GROUP BY 1
), auc_ranked AS (
  SELECT pos, neg,
         CAST(COALESCE(SUM(neg) OVER (ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS neg_below
  FROM auc_grid
), auc_agg AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS u2
  FROM auc_ranked
)
SELECT n_pos + n_neg AS n_pairs, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN ROUND(CAST(u2 AS DOUBLE)
                       / CAST(2 * n_pos * n_neg AS DOUBLE), 6)
            ELSE 0.0 END AS auc
FROM auc_agg
"""


def _simhash_pairs_sql() -> str:
    """DuckDB CTE chain mirroring simhash_signatures → band blocking →
    Hamming verification. The 60-bit signature is non-negative, so
    both engines work in plain signed BIGINT: shifts, masks, XOR,
    bit_count and the sig_a < sig_b dedup order agree exactly."""
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_width) - 1
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}"
        for k in range(SIMHASH_BITS)
    )
    terms = "\n     + ".join(
        f"CASE WHEN v{k} > 0 THEN CAST({1 << k} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for k in range(SIMHASH_BITS)
    )
    band_rows = ", ".join(f"({b})" for b in range(SIMHASH_BANDS))

    def bv(side: str, i: int) -> str:
        return f"(({side}.sig >> {band_width * i}) & {mask})"

    first_band = []
    for b in range(SIMHASH_BANDS):
        if b == 0:
            cond = "TRUE"
        else:
            cond = " AND ".join(
                f"{bv('a', i)} != {bv('b', i)}" for i in range(b)
            )
        first_band.append(f"WHEN a.band_idx = {b} THEN ({cond})")
    no_earlier = "CASE " + " ".join(first_band) + " END"
    return f"""
sh_toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
), sh_hashed AS (
  SELECT doc_id, {PH.oracle_tok_hash60('tok')} AS h FROM sh_toks
), sh_votes AS (
  SELECT doc_id,
    {votes}
  FROM sh_hashed GROUP BY doc_id
), sh_sigs AS (
  SELECT doc_id,
    ({terms}) AS sig
  FROM sh_votes
), sh_within AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 0 AS hamming
  FROM sh_sigs a JOIN sh_sigs b
    ON a.sig = b.sig AND a.doc_id < b.doc_id
), sh_distinct AS (
  SELECT DISTINCT sig FROM sh_sigs
), sh_bands AS (
  SELECT sig, band_idx,
         (sig >> ({band_width} * band_idx)) & {mask} AS band_val
  FROM sh_distinct CROSS JOIN (VALUES {band_rows}) bs(band_idx)
), sh_sig_pairs AS (
  SELECT a.sig AS sig_a, b.sig AS sig_b,
         CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
  FROM sh_bands a JOIN sh_bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.sig < b.sig
  WHERE {no_earlier}
), sh_close AS (
  SELECT sig_a, sig_b, hamming FROM sh_sig_pairs
  WHERE hamming > 0 AND hamming <= {SIMHASH_MAX_HAMMING}
), sh_across AS (
  SELECT LEAST(da.doc_id, db.doc_id) AS doc_a,
         GREATEST(da.doc_id, db.doc_id) AS doc_b,
         c.hamming
  FROM sh_close c
  JOIN sh_sigs da ON da.sig = c.sig_a
  JOIN sh_sigs db ON db.sig = c.sig_b
), sh_pairs AS (
  SELECT * FROM sh_within UNION ALL SELECT * FROM sh_across
)"""


DEDUP_SIMHASH_ORACLE = f"""
WITH {_simhash_pairs_sql()}
SELECT doc_a, doc_b, hamming FROM sh_pairs
"""


SIMHASH_CALIBRATION_ORACLE = f"""
WITH {_simhash_pairs_sql()},
sc_toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))
           AS toks
  FROM documents WHERE text IS NOT NULL
), sc_scored AS (
  SELECT p.hamming,
         CAST(ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(ta.toks, tb.toks)))
                     AS DOUBLE) * 1e6) AS BIGINT) AS jac_s
  FROM sh_pairs p
  JOIN sc_toks ta ON ta.doc_id = p.doc_a
  JOIN sc_toks tb ON tb.doc_id = p.doc_b
)
SELECT hamming, COUNT(*) AS n_pairs,
       ROUND(SUM(jac_s) / (COUNT(*) * 1e6), 6) AS avg_jaccard,
       ROUND(MIN(jac_s) / 1e6, 6) AS min_jaccard,
       ROUND(MAX(jac_s) / 1e6, 6) AS max_jaccard
FROM sc_scored GROUP BY hamming
"""


#: Shared recursive min-label closure over the MinHash edge set (no
#: WITH RECURSIVE header) — used by the clusters query and the
#: savings report.
_CC_LABELS_SQL = f"""cc_edges AS (
  SELECT doc_a, doc_b FROM mh_pairs
  WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD}
), cc_sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM cc_edges
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cc_edges
), cc_walk(doc_id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, w.comp FROM cc_sym s JOIN cc_walk w ON s.dst = w.doc_id
), cc_labels AS (
  SELECT doc_id, MIN(comp) AS comp FROM cc_walk GROUP BY doc_id
)"""


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_minhash_core_sql()},
{_CC_LABELS_SQL},
cc_sizes AS (
  SELECT comp, COUNT(*) AS cluster_size FROM cc_labels GROUP BY comp
)
SELECT l.doc_id, l.comp AS cluster_id, s.cluster_size,
       l.doc_id = l.comp AS is_survivor
FROM cc_labels l JOIN cc_sizes s ON s.comp = l.comp
"""


def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fuzzy dedup BUYS, per language: run the full near-dup
    chain (MinHash LSH edges → transitive components → min-doc_id
    survivor per component) and report document and token retention —
    the acceptance report a production dedup pass ships with (is the
    pass removing 40 % of tokens in one language and 2 % in another?).

    Composition cost on top of :func:`dedup_clusters`: one linear
    token-count projection and one |languages|-row rollup — output is
    bounded by |languages| at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    labels = _minhash_cluster_labels(docs)
    kept = F.col("doc_id") == F.col("comp")
    return (
        toks.join(labels, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_in"),
            F.sum(kept.cast("long")).alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_in"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias(
                "tokens_kept"
            ),
        )
        .select(
            "lang",
            "n_docs_in",
            "n_docs_kept",
            "tokens_in",
            "tokens_kept",
            F.round(
                F.col("tokens_kept").cast("double") / F.col("tokens_in"), 6
            ).alias("token_keep_rate"),
        )
    )


DEDUP_SAVINGS_ORACLE = f"""
WITH RECURSIVE {_minhash_core_sql()},
{_CC_LABELS_SQL},
sv_toks AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n_tokens
  FROM documents WHERE text IS NOT NULL
)
SELECT t.lang,
       COUNT(*) AS n_docs_in,
       CAST(SUM(CASE WHEN l.doc_id = l.comp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(SUM(t.n_tokens) AS BIGINT) AS tokens_in,
       CAST(SUM(CASE WHEN l.doc_id = l.comp THEN t.n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_kept,
       ROUND(CAST(SUM(CASE WHEN l.doc_id = l.comp THEN t.n_tokens ELSE 0 END)
                  AS DOUBLE) / SUM(t.n_tokens), 6) AS token_keep_rate
FROM sv_toks t JOIN cc_labels l ON l.doc_id = t.doc_id
GROUP BY t.lang
"""


def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the transitive near-dup
    components: for each size, how many clusters, how many documents
    they hold, and how many a keep-one-survivor pass removes. The
    shape of this histogram is the dedup tuning dial — a fat tail of
    giant clusters means boilerplate/templating (tighten the
    threshold or shard the survivors), all-singletons means the pass
    is a no-op.

    Composition cost on top of :func:`dedup_clusters`: one
    |components|-row rollup then one ≤|distinct sizes|-row rollup —
    both map-side-combined, output bounded far below corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    labels = _minhash_cluster_labels(docs)
    sizes = labels.groupBy("comp").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size")).alias("n_docs"),
            (
                F.col("n_clusters") * (F.col("cluster_size") - F.lit(1))
            ).alias("n_removed"),
        )
    )


DEDUP_SIZE_HIST_ORACLE = f"""
WITH RECURSIVE {_minhash_core_sql()},
{_CC_LABELS_SQL},
cc_sizes AS (
  SELECT comp, COUNT(*) AS cluster_size FROM cc_labels GROUP BY comp
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       COUNT(*) * cluster_size AS n_docs,
       COUNT(*) * (cluster_size - 1) AS n_removed
FROM cc_sizes
GROUP BY cluster_size
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-leakage matrix: which SOURCES near-duplicate each
    other. Every verified MinHash near-dup pair maps to its endpoint
    sources (one linear join on doc_id — the pair set is already
    LSH-bounded), the source pair is canonicalized unordered, and the
    rollup reports pair count, mean and max Jaccard per source pair.
    Output is bounded by |sources|² regardless of corpus size — the
    audit that catches one crawl mirroring another before both are
    'independently' sampled into a training mix.
    """
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("src_a"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("src_b"),
            ),
            "doc_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
    )
    return (
        j.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # jaccard is already round-6, so ·1e6 is integral: the sum
            # is exact and partition-order independent.
            F.sum(F.round(F.col("jaccard") * 1e6).cast("long")).alias("js"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.round(
                F.col("js").cast("double") / 1e6 / F.col("n_pairs"), 6
            ).alias("avg_jaccard"),
            "max_jaccard",
        )
    )


SOURCE_OVERLAP_ORACLE = f"""
WITH {_minhash_core_sql()},
so_pairs AS (
  SELECT p.doc_a, p.doc_b, p.jaccard, da.source AS src_a, db.source AS src_b
  FROM mh_pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
  WHERE p.jaccard >= {MINHASH_JACCARD_THRESHOLD}
)
SELECT LEAST(src_a, src_b) AS source_a,
       GREATEST(src_a, src_b) AS source_b,
       COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(CAST(ROUND(jaccard * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / COUNT(*), 6) AS avg_jaccard,
       MAX(jaccard) AS max_jaccard
FROM so_pairs
GROUP BY 1, 2
"""


#: Integer PageRank over the near-dup graph: fixed iteration count
#: (unrolled in the oracle), micro-unit fixed point, 0.85 damping as
#: an exact 85/100 rational.
PR_ITERS = 3
PR_SCALE = 1_000_000
PR_BASE = (15 * PR_SCALE) // 100


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-centrality ranking: PageRank over the undirected
    near-dup graph (the verified MinHash pair set). High-rank
    documents sit at the center of dup clusters — the triage order a
    manual dedup/contamination review works through, and a structural
    signal the min-doc_id survivor rule ignores.

    ALL-INTEGER iteration, so the result is bitwise identical across
    engines and partitionings with no float summation anywhere:
    ranks live in micro-units (``PR_SCALE``), each round is
    ``base + (85 · Σ (pr(u) div deg(u))) div 100`` over in-neighbors
    (floor division — both engines floor positive ints identically),
    and ``PR_ITERS`` rounds unroll into the oracle's CTE chain.
    Isolated docs stay at the base score.

    Per round: one edges→ranks join (hash, doc_id-shaped keys), one
    map-side-combined sum by destination, one left join back to the
    vertex spine — the standard distributed-PageRank ledger with a
    fixed round count, no driver-side vertex state.
    """
    docs = load_table(spark, sf_dir, "documents")
    edges = _verified_minhash_pairs(minhash_signatures(docs)).select(
        "doc_a", "doc_b"
    )
    # Materialize the (slim) edge list once — otherwise every
    # iteration's lineage re-executes the whole shingle→band→verify
    # chain. Same localCheckpoint practice as connected_components;
    # on a cluster, checkpoint() to durable storage. The out-DEGREE
    # is loop-invariant, so it rides the same checkpoint as a window
    # count over the src key (identical value to the former groupBy
    # tally) — the round-13 shape re-joined a degree aggregate inside
    # EVERY unrolled round, one exchange per round that this fold
    # deletes (round-14 job-floor cut: 21 warm jobs read at 100%
    # scheduling-floor share).
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            edges.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .withColumn(
            "degree",
            F.count(F.lit(1)).over(Window.partitionBy("src")),
        )
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("src").agg(F.max("degree").alias("degree"))
    verts = docs.select("doc_id")
    # Round 15: iterate over the CONNECTED spine only. The edge set is
    # symmetric, so has-in-edges ⟺ has-out-edges ⟺ appears as a src —
    # an isolated document never receives inflow and never contributes
    # any, and its rank is the closed form PR_BASE from round 1 on
    # (base + 85·0 div 100). Restricting the ledger to the src spine
    # is therefore EXACT for every round ≥ 1 (PR_ITERS ≥ 1), and the
    # inflow aggregate's key set is exactly that spine, so each round
    # is join + map-side-combined sum + a projection — the round-14
    # shape additionally re-scanned the documents table and paid a
    # vertex left-join exchange PER UNROLLED ROUND just to re-attach
    # the constant. Isolated docs re-enter once, in the final output
    # coalesce.
    pr = deg.select(
        F.col("src").alias("doc_id"),
        F.lit(PR_SCALE).cast("long").alias("pr_s"),
    )
    for _ in range(PR_ITERS):
        inflow = (
            sym.join(pr.withColumnRenamed("doc_id", "src"), "src")
            .select("dst", F.expr("pr_s div degree").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("m"))
        )
        pr = inflow.select(
            F.col("dst").alias("doc_id"),
            (F.lit(PR_BASE) + F.expr("(85 * m) div 100"))
            .cast("long")
            .alias("pr_s"),
        )
    return (
        verts.join(deg.withColumnRenamed("src", "doc_id"), "doc_id", "left")
        .join(pr, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("degree", F.lit(0).cast("long")).alias("degree"),
            F.coalesce("pr_s", F.lit(PR_BASE).cast("long")).alias(
                "pagerank_micro"
            ),
        )
    )


def _pagerank_oracle() -> str:
    """Unrolled integer-PageRank CTE chain over the shared MinHash
    edge set — one CTE per iteration, each a literal transcription of
    the Spark round (floor division, 85/100 damping, base for
    isolated vertices)."""
    chain = [
        f"""pg_sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
  WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD}
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mh_pairs
  WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD}
), pg_deg AS (
  SELECT src, COUNT(*) AS degree FROM pg_sym GROUP BY src
), pg_pr0 AS (
  SELECT doc_id, CAST({PR_SCALE} AS BIGINT) AS pr_s FROM documents
)"""
    ]
    for i in range(PR_ITERS):
        chain.append(
            f"""pg_pr{i + 1} AS (
  SELECT v.doc_id,
         CAST({PR_BASE} + (85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS pr_s
  FROM (SELECT doc_id FROM documents) v
  LEFT JOIN (
    SELECT e.dst AS doc_id, CAST(SUM(p.pr_s // d.degree) AS BIGINT) AS m
    FROM pg_sym e
    JOIN pg_pr{i} p ON p.doc_id = e.src
    JOIN pg_deg d ON d.src = e.src
    GROUP BY 1
  ) s ON s.doc_id = v.doc_id
)"""
        )
    return ",\n".join(chain)


def _neardup_pagerank_oracle() -> str:
    return f"""
WITH {_minhash_core_sql()},
{_pagerank_oracle()}
SELECT v.doc_id,
       CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
       p.pr_s AS pagerank_micro
FROM (SELECT doc_id FROM documents) v
LEFT JOIN pg_deg d ON d.src = v.doc_id
JOIN pg_pr{PR_ITERS} p ON p.doc_id = v.doc_id
"""


def _canonical_topk_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected-canonicalized edge set of the bounded top-K Jaccard
    match graph, checkpointed once so the PPJoin candidate chain never
    re-executes across consumers."""
    matches = dedup_ngram_jaccard(spark, sf_dir)
    return (
        matches.select(
            F.least("doc_id", "match_id").alias("a"),
            F.greatest("doc_id", "match_id").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def _edge_degrees(edges: DataFrame) -> DataFrame:
    """(node, degree) of a canonical (a < b) edge list."""
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _oriented_triangles(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Triangle list (u, v1, v2) via degree-ordered orientation —
    every node's out-degree is O(√m) so wedge volume is O(m^1.5)."""
    with_deg = edges.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("deg_a")),
        "a",
    ).join(
        deg.select(F.col("node").alias("b"), F.col("degree").alias("deg_b")),
        "b",
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_v"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("deg_v").alias("d1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("deg_v").alias("d2"))
    wedges = o1.join(o2, "u").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    return wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count and local clustering coefficient
    over the lexical near-dup graph (the bounded top-K Jaccard match
    set of :func:`dedup_ngram_jaccard`, undirected-canonicalized).

    Triangle density is the structural dedup signal the pairwise ops
    miss: a high clustering coefficient marks cohesive template
    families (every copy matches every other copy — safe to collapse
    to one representative), while high degree with LOW coefficient
    marks hub pages that merely share boilerplate with many unrelated
    documents (collapsing those would destroy distinct content).

    Algorithm, sized for 100 TB: naive wedge-join fan-out is
    quadratic in the hottest vertex's degree (top-K bounds only
    OUT-degree — a popular template appears in arbitrarily many other
    documents' top-K lists, so in-degree is unbounded). The fix is
    the degree-ordered orientation of Suri & Vassilvitskii ("Counting
    Triangles and the Curse of the Last Reducer", WWW 2011): orient
    every edge from its lower-(degree, id) endpoint to the higher,
    build wedges only between OUT-neighbors, and close them against
    oriented edges. Every node's out-degree is then O(√m), total
    wedge volume O(m^1.5), and each triangle is emitted exactly once
    (at its order-minimal vertex, with the closing edge oriented by
    the same total order). The slim edge list is localCheckpoint'ed
    once so the PPJoin candidate chain never re-executes; all joins
    key on node ids (uniform) — no cartesian anywhere.
    """
    edges = _canonical_topk_edges(spark, sf_dir)
    deg = _edge_degrees(edges)
    tri = _oriented_triangles(edges, deg)
    tri_nodes = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_tri = F.coalesce(F.col("n_triangles"), F.lit(0).cast("long"))
    return (
        deg.join(tri_nodes, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            "degree",
            n_tri.alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    (F.lit(2) * n_tri).cast("double")
                    / (F.col("degree") * (F.col("degree") - F.lit(1))).cast(
                        "double"
                    ),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def _ngram_topk_bounded_sql() -> str:
    """BOUNDED DuckDB CTE chain for the top-K n-gram-Jaccard match set
    — the oracle-side mirror of :func:`dedup_ngram_jaccard`'s own
    plan (group-collapse → prefix-filtered PPJoin over representatives
    → bounded top-K assembly), ending in a CTE ``m`` with the exact
    shape and content of ``DEDUP_NGRAM_ORACLE``.

    Exists because the graph-family oracles (triangles, global stats)
    embed the match set as a sub-CTE: the all-pairs replay that is
    tolerable as ONE standalone oracle at sf0.1 spills unboundedly
    when the triangle chain re-references it (the round-7 sweep saw
    > 80 GB of DuckDB temp before dying) — the sole reason those
    sweeps carried exclusions through round 11. Correctness argument:
    verification is exact (``list_intersect`` on the full token
    lists), so ANY candidate superset of the true ≥-threshold pairs
    yields identical output; every pruning bound below is the Spark
    side's own, slackened by 1e-9 before CEIL so cross-engine float
    drift can only UNDER-prune. The K+1-smallest-members assembly is
    the same bounded expansion the Spark plan ships (hash-verified
    against the all-pairs oracle since round 4)."""
    t = NGRAM_JACCARD_THRESHOLD
    k = NGRAM_TOPK_K
    return f"""bm_sized AS (
  SELECT doc_id,
         list_sort(list_distinct(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))) AS toks
  FROM documents WHERE text IS NOT NULL
), bm_mem AS MATERIALIZED (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         MIN(doc_id) OVER (PARTITION BY toks) AS gid,
         COUNT(*) OVER (PARTITION BY toks) AS g_size,
         ROW_NUMBER() OVER (PARTITION BY toks ORDER BY doc_id) AS rk
  FROM bm_sized
), bm_reps AS MATERIALIZED (
  SELECT gid, toks, n_tokens FROM bm_mem WHERE doc_id = gid
), bm_post AS MATERIALIZED (
  SELECT gid, n_tokens, unnest(toks) AS tok FROM bm_reps
), bm_df AS (
  SELECT tok, COUNT(*) AS df FROM bm_post GROUP BY tok
), bm_pref AS MATERIALIZED (
  SELECT gid, n_tokens, tok, pos FROM (
    SELECT p.gid, p.n_tokens, p.tok,
           ROW_NUMBER() OVER (PARTITION BY p.gid ORDER BY d.df, p.tok) AS pos
    FROM bm_post p JOIN bm_df d ON d.tok = p.tok
  ) WHERE pos <= n_tokens - CEIL(n_tokens * {t} - 1e-9) + 1
), bm_cand AS (
  SELECT DISTINCT a.gid AS ga, b.gid AS gb
  FROM bm_pref a JOIN bm_pref b ON a.tok = b.tok AND a.gid < b.gid
  WHERE LEAST(a.n_tokens, b.n_tokens)
          >= GREATEST(a.n_tokens, b.n_tokens) * {t} - 1e-9
    AND LEAST(a.n_tokens - a.pos, b.n_tokens - b.pos) + 1
          >= CEIL((a.n_tokens + b.n_tokens) * {t / (1.0 + t)} - 1e-9)
), bm_rep_pairs AS MATERIALIZED (
  SELECT ga, gb, jaccard FROM (
    SELECT c.ga, c.gb,
           ROUND(CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
                 / CAST(sa.n_tokens + sb.n_tokens
                        - len(list_intersect(sa.toks, sb.toks)) AS DOUBLE),
                 6) AS jaccard
    FROM bm_cand c
    JOIN bm_reps sa ON sa.gid = c.ga
    JOIN bm_reps sb ON sb.gid = c.gb
  ) WHERE jaccard >= {t}
), bm_dir AS (
  SELECT ga AS gid, gb AS gid_dst, jaccard FROM bm_rep_pairs
  UNION ALL
  SELECT gb AS gid, ga AS gid_dst, jaccard FROM bm_rep_pairs
), bm_k AS MATERIALIZED (
  SELECT gid, doc_id AS match_id FROM bm_mem WHERE rk <= {k} + 1
), m AS MATERIALIZED (
  SELECT doc_id, match_id, jaccard,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY jaccard DESC, match_id) AS INTEGER) AS rank
  FROM (
    SELECT mm.doc_id, kk.match_id, CAST(1.0 AS DOUBLE) AS jaccard
    FROM bm_mem mm JOIN bm_k kk ON kk.gid = mm.gid
    WHERE mm.g_size > 1 AND kk.match_id <> mm.doc_id
    UNION ALL
    SELECT mm.doc_id, kk.match_id, d.jaccard
    FROM bm_mem mm
    JOIN bm_dir d ON d.gid = mm.gid
    JOIN bm_k kk ON kk.gid = d.gid_dst
  )
  QUALIFY rank <= {k}
)"""


def _tri_core_sql() -> str:
    """Shared DuckDB CTE chain: canonical edge set of the top-K
    Jaccard graph, degrees, degree-ordered orientation, and the
    triangle list — used by both the per-node triangle oracle and the
    global graph-stats oracle. Rides the BOUNDED match-set chain
    (:func:`_ngram_topk_bounded_sql`) so the whole oracle is
    sf0.1-tractable — the round-12 fix that retires the sweep's
    O(n²)-oracle exclusions."""
    return f"""{_ngram_topk_bounded_sql()},
tr_edges AS MATERIALIZED (
  SELECT DISTINCT LEAST(doc_id, match_id) AS a, GREATEST(doc_id, match_id) AS b
  FROM m
), tr_deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT a AS node FROM tr_edges UNION ALL SELECT b AS node FROM tr_edges
  ) GROUP BY node
), oriented AS MATERIALIZED (
  SELECT CASE WHEN (da.degree, e.a) < (db.degree, e.b) THEN e.a ELSE e.b END AS u,
         CASE WHEN (da.degree, e.a) < (db.degree, e.b) THEN e.b ELSE e.a END AS v,
         CASE WHEN (da.degree, e.a) < (db.degree, e.b) THEN db.degree ELSE da.degree END AS deg_v
  FROM tr_edges e
  JOIN tr_deg da ON da.node = e.a
  JOIN tr_deg db ON db.node = e.b
), tri AS MATERIALIZED (
  SELECT o1.u, o1.v AS v1, o2.v AS v2
  FROM oriented o1
  JOIN oriented o2 ON o1.u = o2.u
   AND ((o1.deg_v, o1.v) < (o2.deg_v, o2.v))
  JOIN oriented oc ON oc.u = o1.v AND oc.v = o2.v
)"""


NEARDUP_TRIANGLES_ORACLE = f"""
WITH {_tri_core_sql()}, tn AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v1 AS node FROM tri
    UNION ALL SELECT v2 AS node FROM tri
  ) GROUP BY node
)
SELECT d.node AS doc_id,
       d.degree,
       COALESCE(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN ROUND(CAST(2 * COALESCE(t.n_triangles, CAST(0 AS BIGINT)) AS DOUBLE)
                       / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
            ELSE 0.0 END AS clustering_coeff
FROM tr_deg d LEFT JOIN tn t ON t.node = d.node
"""


def neardup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row global health summary of the lexical near-dup graph:
    nodes, edges, average/max degree, total triangles, transitivity
    (3·triangles / wedges — how clique-like duplication is overall),
    and degree ASSORTATIVITY (Newman 2002: Pearson correlation of
    endpoint degrees over the doubled edge list). The combination is
    the triage read: high transitivity + positive assortativity means
    duplication lives in dense template families (collapse clusters
    wholesale); low transitivity + negative assortativity means hub
    pages sharing boilerplate with many singletons (segment-level
    suppression, not document collapse).

    Shapes: the edge build is the shared checkpointed top-K graph;
    degrees, wedge counts and degree co-moments are map-side-combined
    integer aggregates over edges; triangles ride the degree-ordered
    orientation. The three 1-row aggregates combine via broadcast
    cross joins. Degree co-moments stay in int64 here (Σ deg² over
    edges, exact while under 2^63 ≈ 9.2e18); a graph whose Σ deg²
    passes that would need DECIMAL(38,0) accumulators.
    """
    edges = _canonical_topk_edges(spark, sf_dir)
    deg = _edge_degrees(edges)
    tri = _oriented_triangles(edges, deg)
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("degree").alias("sum_deg"),
        F.max("degree").alias("max_degree"),
        F.sum(F.expr("degree * (degree - 1) div 2")).alias("wedges"),
    )
    t_row = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    pairs = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    directed = pairs.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("x")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("degree").alias("y")), "b"
    )
    moments = directed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    den = F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    return (
        node_stats.crossJoin(F.broadcast(t_row))
        .crossJoin(F.broadcast(moments))
        .select(
            "n_nodes",
            F.expr("sum_deg div 2").alias("n_edges"),
            F.round(
                F.col("sum_deg").cast("double") / F.col("n_nodes"), 6
            ).alias("avg_degree"),
            "max_degree",
            "n_triangles",
            F.when(
                F.col("wedges") > 0,
                F.round(
                    (F.lit(3) * F.col("n_triangles")).cast("double")
                    / F.col("wedges").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
            F.when((varx > 0) & (vary > 0), F.round(num / den, 6))
            .otherwise(F.lit(0.0))
            .alias("assortativity"),
        )
    )


NEARDUP_GRAPH_STATS_ORACLE = f"""
WITH {_tri_core_sql()},
gs_nodes AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(degree) AS BIGINT) AS sum_deg,
         MAX(degree) AS max_degree,
         CAST(SUM(degree * (degree - 1) // 2) AS BIGINT) AS wedges
  FROM tr_deg
), gs_t AS (
  SELECT COUNT(*) AS n_triangles FROM tri
), gs_pairs AS (
  SELECT da.degree AS x, db.degree AS y
  FROM tr_edges e
  JOIN tr_deg da ON da.node = e.a
  JOIN tr_deg db ON db.node = e.b
  UNION ALL
  SELECT db.degree AS x, da.degree AS y
  FROM tr_edges e
  JOIN tr_deg da ON da.node = e.a
  JOIN tr_deg db ON db.node = e.b
), gs_m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM gs_pairs
)
SELECT n_nodes,
       sum_deg // 2 AS n_edges,
       ROUND(CAST(sum_deg AS DOUBLE) / n_nodes, 6) AS avg_degree,
       max_degree,
       n_triangles,
       CASE WHEN wedges > 0
            THEN ROUND(CAST(3 * n_triangles AS DOUBLE)
                       / CAST(wedges AS DOUBLE), 6)
            ELSE 0.0 END AS transitivity,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                       / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                          * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
            ELSE 0.0 END AS assortativity
FROM gs_nodes, gs_t, gs_m
"""


#: Incremental-dedup delta batch: the slice of the corpus standing in
#: for a freshly-crawled ingest (deterministic and present at every
#: SF — the generator assigns sources round-robin).
DELTA_SOURCE = "src19"


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEW ingest batch against the existing corpus — the
    shape a 100 TB pipeline actually runs daily. Re-deduping the whole
    corpus per ingest is O(corpus); checking the delta against a
    persisted fingerprint/signature index is O(delta), and this
    operator is that check: per batch document, an ``exact_dup`` /
    ``near_dup`` / ``unique`` verdict with the match count and the
    smallest matching corpus doc.

    Two index probes, both broadcasting the DELTA (the corpus side —
    in production the persisted index — never shuffles):

    * exact: batch fingerprints broadcast against corpus
      fingerprints (md5 of normalized text, same rule as
      :func:`dedup_exact`);
    * near: batch LSH band rows broadcast against corpus band rows
      (same 16-perm/8-band MinHash family as
      :func:`dedup_minhash_lsh`), candidates verified with exact
      shingle Jaccard ≥ ``MINHASH_JACCARD_THRESHOLD``.

    Exact matches take precedence in the verdict; ``best_match`` is
    -1 for unique docs (sentinel instead of NULL so the id column
    stays int64 end to end). Intra-batch duplicates are out of scope
    by contract — the delta self-join is the ordinary
    :func:`dedup_minhash_lsh` over a small frame.
    """
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("source") == DELTA_SOURCE)
    corpus = docs.where(F.col("source") != DELTA_SOURCE)
    b_fp = batch.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    )
    c_fp = corpus.select(
        T.fingerprint(F.col("text")).alias("fp"),
        F.col("doc_id").alias("c_id"),
    )
    exact_hits = (
        F.broadcast(b_fp)
        .join(c_fp, "fp")
        .select("doc_id", F.lit(1).alias("is_exact"), "c_id")
    )
    sigs_b = minhash_signatures(batch)
    sigs_c = minhash_signatures(corpus)
    # The delta's shingles RIDE the band-row broadcast (carry=)
    # instead of a second delta broadcast + re-join: round-14
    # job-floor decomposition read this row at 15 jobs / 100%
    # scheduling floor, and each distinct broadcast frame is one
    # job — one candidate dropDuplicates per (b_id, c_id) pair
    # replaces the old band-distinct + shingle-attach chain (sh_a is
    # functionally dependent on b_id, so any survivor carries the
    # right array).
    cand_sh = (
        F.broadcast(
            _band_rows(sigs_b, carry=("shingles",)).withColumnsRenamed(
                {"doc_id": "b_id", "shingles": "sh_a"}
            )
        )
        .join(
            _band_rows(sigs_c).withColumnRenamed("doc_id", "c_id"),
            ["band_idx", "band_hash"],
        )
        .select("b_id", "c_id", "sh_a")
        .dropDuplicates(["b_id", "c_id"])
    )
    jaccard = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        6,
    )
    near_hits = (
        # The corpus-shingle join broadcasts the delta-bounded
        # candidate side, so the corpus signature stream never
        # hash-exchanges — the explicit hint pins the O(delta) plan
        # even when AQE stats would otherwise pick a corpus shuffle.
        F.broadcast(cand_sh)
        .join(
            sigs_c.select(
                F.col("doc_id").alias("c_id"),
                F.col("shingles").alias("sh_b"),
            ),
            "c_id",
        )
        .where(jaccard >= MINHASH_JACCARD_THRESHOLD)
        .select(
            F.col("b_id").alias("doc_id"),
            F.lit(0).alias("is_exact"),
            "c_id",
        )
    )
    # ONE fused rollup + ONE broadcast for the verdict assembly: the
    # exact and near hit streams union before the delta-keyed
    # aggregate, halving the probe-side broadcast-exchange jobs the
    # floor table charged to the old two-rollup shape.
    hits = (
        exact_hits.unionByName(near_hits)
        .groupBy("doc_id")
        .agg(
            F.sum("is_exact").alias("n_exact"),
            F.sum(F.lit(1) - F.col("is_exact")).alias("n_near"),
            F.min(F.when(F.col("is_exact") == 1, F.col("c_id"))).alias(
                "best_exact"
            ),
            F.min(F.when(F.col("is_exact") == 0, F.col("c_id"))).alias(
                "best_near"
            ),
        )
    )
    return (
        batch.select("doc_id")
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_exact") > 0, "exact_dup")
            .when(F.col("n_near") > 0, "near_dup")
            .otherwise("unique")
            .alias("verdict"),
            F.coalesce(
                F.when(F.col("n_exact") > 0, F.col("n_exact")).otherwise(
                    F.col("n_near")
                ),
                F.lit(0).cast("long"),
            ).alias("n_matches"),
            F.coalesce(
                F.when(F.col("n_exact") > 0, F.col("best_exact")).otherwise(
                    F.col("best_near")
                ),
                F.lit(-1).cast("long"),
            ).alias("best_match"),
        )
    )


DEDUP_INCREMENTAL_ORACLE = f"""
WITH {_minhash_core_sql()},
inc_bfp AS (
  SELECT doc_id, {T.oracle_fingerprint()} AS fp
  FROM documents WHERE source = '{DELTA_SOURCE}'
), inc_cfp AS (
  SELECT doc_id AS c_id, {T.oracle_fingerprint()} AS fp
  FROM documents WHERE source <> '{DELTA_SOURCE}'
), inc_exact AS (
  SELECT b.doc_id, COUNT(*) AS n_exact, MIN(c.c_id) AS best_exact
  FROM inc_bfp b JOIN inc_cfp c USING (fp)
  GROUP BY 1
), inc_cands AS (
  SELECT DISTINCT bb.doc_id AS b_id, cb.doc_id AS c_id
  FROM mh_bands bb
  JOIN mh_bands cb
    ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
  JOIN documents db ON db.doc_id = bb.doc_id
  JOIN documents dc ON dc.doc_id = cb.doc_id
  WHERE db.source = '{DELTA_SOURCE}' AND dc.source <> '{DELTA_SOURCE}'
), inc_near AS (
  SELECT n.b_id AS doc_id, COUNT(*) AS n_near, MIN(n.c_id) AS best_near
  FROM inc_cands n
  JOIN mh_sigs sa ON sa.doc_id = n.b_id
  JOIN mh_sigs sb ON sb.doc_id = n.c_id
  WHERE ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / CAST(len(sa.shingles) + len(sb.shingles)
                 - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE),
          6) >= {MINHASH_JACCARD_THRESHOLD}
  GROUP BY 1
)
SELECT b.doc_id,
       CASE WHEN e.n_exact > 0 THEN 'exact_dup'
            WHEN v.n_near > 0 THEN 'near_dup'
            ELSE 'unique' END AS verdict,
       COALESCE(CASE WHEN e.n_exact > 0 THEN e.n_exact ELSE v.n_near END,
                0) AS n_matches,
       COALESCE(CASE WHEN e.n_exact > 0 THEN e.best_exact ELSE v.best_near END,
                -1) AS best_match
FROM (SELECT doc_id FROM documents WHERE source = '{DELTA_SOURCE}') b
LEFT JOIN inc_exact e ON e.doc_id = b.doc_id
LEFT JOIN inc_near v ON v.doc_id = b.doc_id
"""


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-level NOVELTY score: per document, the share of its
    distinct 3-gram shingles that occur in NO other document — the
    inverse signal of dedup (high novelty = unique content worth
    keeping; low novelty = assembled from corpus-common passages even
    when no single near-dup pair fires). Reuses the exact shingle
    machinery the MinHash family is built on, so "gram" means the
    same thing across the whole dedup suite.

    Shapes: the per-doc distinct shingle sets are the existing narrow
    build; ONE map-side-combined document-frequency count over the
    exploded shingles, then a broadcastless equi-join back (both
    sides hash on the gram — co-located) and a doc_id rollup. Linear
    in total shingles at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    grams = sigs.select("doc_id", F.explode("shingles").alias("g"))
    df_counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("novelty_rate"),
        )
    )


DOC_NOVELTY_ORACLE = f"""
WITH {_minhash_core_sql()},
nv_grams AS (
  SELECT doc_id, unnest(shingles) AS g FROM mh_shingled
), nv_df AS (
  SELECT g, COUNT(*) AS df FROM nv_grams GROUP BY g
)
SELECT gr.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_rate
FROM nv_grams gr JOIN nv_df d USING (g)
GROUP BY gr.doc_id
"""


#: Jaccard bars scored by the threshold sweep.
SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration table: how many verified near-dup pairs
    (and at what average similarity) each candidate Jaccard bar would
    keep — the evidence for CHOOSING ``MINHASH_JACCARD_THRESHOLD``
    instead of inheriting it. One banded-candidate verification pass
    scores every bar: the pair set is computed once with the
    threshold OPEN (bar 0), then a bounded explode fans each pair
    into the bars it clears.

    Average Jaccard is exact: the round-6 pair values scale to longs,
    sum exactly, and divide once. Shapes: the usual LSH candidate
    pipeline + a ≤|bars|-way fan-out of (jaccard) scalars and a
    |bars|-row rollup — no new corpus-sized work.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _verified_minhash_pairs(minhash_signatures(docs), threshold=0.0)
    swept = pairs.select(
        "jaccard",
        F.explode(
            F.array(*[F.lit(float(t)) for t in SWEEP_THRESHOLDS])
        ).alias("threshold"),
    ).where(F.col("jaccard") >= F.col("threshold"))
    n = F.count(F.lit(1))
    return swept.groupBy("threshold").agg(
        n.alias("n_pairs"),
        F.round(
            F.sum(F.round(F.col("jaccard") * 1e6).cast("long")).cast("double")
            / (n.cast("double") * 1e6),
            6,
        ).alias("avg_jaccard"),
    )


_SWEEP_BARS_SQL = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS)

DEDUP_SWEEP_ORACLE = f"""
WITH {_minhash_core_sql()},
sw AS (
  SELECT CAST(t.threshold AS DOUBLE) AS threshold, p.jaccard
  FROM mh_pairs p
  JOIN (VALUES {_SWEEP_BARS_SQL}) t(threshold)
    ON p.jaccard >= t.threshold
)
SELECT threshold, COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(CAST(ROUND(jaccard * 1e6) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6) AS avg_jaccard
FROM sw GROUP BY threshold
"""


def dedup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do duplicates skew quality? Per duplication band (unique /
    2–4-way / 5+-way near-dup clusters), the document count and the
    exact average heuristic quality — the audit that decides whether
    dedup doubles as a quality filter on this corpus (boilerplate
    farms usually sit in the heavy bands) or is orthogonal to it.

    Quality lives on the round-6 grid, so the band average is an
    exact scaled-long sum with one final division. Shapes: the shared
    cluster labeling + a |clusters| rollup, one doc_id-keyed join
    (co-locates), and a 3-row report.
    """
    docs = load_table(spark, sf_dir, "documents")
    labels = _minhash_cluster_labels(docs)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("csize"))
    banded = labels.join(sizes, "comp").select(
        "doc_id",
        F.when(F.col("csize") == 1, "unique")
        .when(F.col("csize") <= 4, "dup_2_4")
        .otherwise("dup_5_plus")
        .alias("dup_band"),
    )
    scored = docs.where(F.col("text").isNotNull()).select(
        "doc_id", T.quality_score(F.col("text")).alias("q")
    )
    n = F.count(F.lit(1))
    return (
        banded.join(scored, "doc_id")
        .groupBy("dup_band")
        .agg(
            n.alias("n_docs"),
            F.round(
                F.sum(F.round(F.col("q") * 1e6).cast("long")).cast("double")
                / (n.cast("double") * 1e6),
                6,
            ).alias("avg_quality"),
        )
    )


DEDUP_QUALITY_ORACLE = f"""
WITH RECURSIVE {_minhash_core_sql()},
{_CC_LABELS_SQL},
qi_sizes AS (
  SELECT comp, COUNT(*) AS csize FROM cc_labels GROUP BY comp
), qi_banded AS (
  SELECT l.doc_id,
         CASE WHEN s.csize = 1 THEN 'unique'
              WHEN s.csize <= 4 THEN 'dup_2_4'
              ELSE 'dup_5_plus' END AS dup_band
  FROM cc_labels l JOIN qi_sizes s ON s.comp = l.comp
), qi_scored AS (
  SELECT doc_id, {T.oracle_quality_score("text")} AS q
  FROM documents WHERE text IS NOT NULL
)
SELECT b.dup_band, COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CAST(ROUND(q * 1e6) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6) AS avg_quality
FROM qi_banded b JOIN qi_scored s ON s.doc_id = b.doc_id
GROUP BY b.dup_band
"""


def dedup_upweight_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "keep one copy, count many" training manifest (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    public): one row per near-dup CLUSTER REPRESENTATIVE (min doc_id
    of the transitive MinHash component) carrying the cluster size as
    a sampling weight and the token budget the cluster contributes if
    duplicates are upweighted instead of dropped. This is the
    artifact a loss-weighting / epoch-sampling trainer consumes —
    dedup_clusters says who survives; this says how hard to sample
    each survivor.

    Shapes on top of the shared cluster labeling (exact-dup collapse
    → banded LSH → min-label rounds): one |clusters| rollup and one
    doc_id-keyed equi-join to fetch the representative's token count
    (co-locates at scale). Output is |clusters| rows ≤ |docs|.
    """
    docs = load_table(spark, sf_dir, "documents")
    labels = _minhash_cluster_labels(docs)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("weight"))
    toks = docs.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.trim(F.col("text")), r"\s+")),
        )
        .otherwise(0)
        .alias("rep_tokens"),
    )
    return (
        sizes.join(toks, sizes.comp == toks.doc_id)
        .select(
            F.col("comp").alias("rep_doc"),
            "weight",
            "rep_tokens",
            (F.col("weight") * F.col("rep_tokens")).alias("weighted_tokens"),
        )
    )


DEDUP_UPWEIGHT_ORACLE = f"""
WITH RECURSIVE {_minhash_core_sql()},
{_CC_LABELS_SQL},
uw_sizes AS (
  SELECT comp, COUNT(*) AS weight FROM cc_labels GROUP BY comp
), uw_toks AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN 0
              ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END
           AS rep_tokens
  FROM documents
)
SELECT s.comp AS rep_doc,
       CAST(s.weight AS BIGINT) AS weight,
       CAST(t.rep_tokens AS INTEGER) AS rep_tokens,
       CAST(s.weight * t.rep_tokens AS BIGINT) AS weighted_tokens
FROM uw_sizes s JOIN uw_toks t ON t.doc_id = s.comp
"""


#: Suffix-LCP longest-repeated-substring report. LRS_CAP is the SPINE
#: key width (per-row state of the corpus-wide suffix sort — the
#: time/space knob of every distributed suffix-array construction);
#: it is NOT the reporting ceiling: positions whose capped key
#: duplicates are re-extended to LRS_EXT_CAP tokens in a second,
#: tied-rows-only pass, so true match lengths report exactly up to
#: LRS_EXT_CAP (16× the spine cap, comfortably above the 50-token
#: operating point of Lee et al. 2022's production ExactSubstr
#: threshold). A repeat longer than LRS_EXT_CAP reports AS
#: LRS_EXT_CAP — the documented ceiling. Candidates need an LCP of at
#: least LRS_MIN_MATCH tokens; the report keeps the LRS_TOPK longest.
LRS_CAP = 12
LRS_EXT_CAP = 192
LRS_MIN_MATCH = 4
LRS_TOPK = 10


def dedup_longest_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K LONGEST repeated token substrings across the corpus —
    suffix-array semantics at the sub-passage grain (the other half
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better", 2022: their ExactSubstr dedup finds repeats the
    fixed-width window pass — :func:`operators.chunking.duplicate_passages`
    — cannot, because repeats live at arbitrary offsets and lengths).
    Output: ``(match_len, substring, n_occurrences, n_docs)`` for the
    ``LRS_TOPK`` longest distinct repeated substrings (ranked
    match_len desc, substring tiebreak), where ``n_occurrences``
    counts every corpus position the substring occurs at and
    ``n_docs`` the distinct documents containing it.

    The classic suffix-array theorem drives the plan: every repeated
    substring is a prefix of the longest-common-prefix of two
    suffixes that are ADJACENT in suffix-sorted order, so only the
    n−1 adjacent LCPs — not all n² pairs — need computing. The
    Spark shape is the distributed suffix sort:

    * one row per token position, carrying the suffix's first
      ``LRS_CAP`` tokens (bounded row state — the time/space knob of
      every distributed suffix-array construction); eagerly
      ``localCheckpoint``'ed, since four consumers read it;
    * global suffix order = range partition on the space-joined key
      (binary string compare — identical in both engines) with
      (doc_id, pos) tiebreak; adjacency = per-partition ``lag`` in
      parallel windows plus the bounded |pids|-row boundary seam
      (first row of each partition paired with the previous
      non-empty partition's last row) — the repo's tiled prefix-scan
      pattern, no corpus-sized single window anywhere;
    * token-level LCP is one JVM expression per adjacent pair
      (``zip_with`` null-safe equality + first-mismatch position);
    * the K surviving candidates broadcast back over ONE suffix-table
      pass to count occurrences/documents (K·n cheap array-prefix
      probes, no shuffle of the corpus).

    Match lengths are exact up to ``LRS_EXT_CAP`` (192) tokens: the
    spine keys stay ``LRS_CAP`` (12) tokens wide, and positions whose
    capped key DUPLICATES somewhere in the corpus (the only positions
    that can carry a longer repeat) are re-extended to
    ``LRS_EXT_CAP`` tokens in a tied-rows-only second pass
    (:func:`_lrs_ext_from`) whose group-internal adjacency supplies
    the true LCPs — the bounded-work extension of the suffix-array
    adjacency theorem (cross-group LCPs are < cap and therefore
    already exact from the capped pass).

    At 100 TB the dominant cost is the one range-partition sort of
    the (cap×tokens)-byte suffix table — O(n log n) and
    embarrassingly partition-parallel, exactly how Lee et al.'s
    suffix pipeline scales, vs. the quadratic all-pairs this
    replaces; the extension pass touches only positions inside
    duplicated 12-gram groups and aggregates identical extended keys
    BEFORE the per-group sort, so wholesale-replicated corpora (the
    adversarial case) collapse to one row per distinct suffix.
    Oracle: same two-pass algebra replayed with DuckDB ``LAG``
    windows and list lambdas (``_lrs_core_sql`` — one builder shared
    with the scrub manifest so the oracles cannot drift).
    """
    ranged, ext = _lrs_tables(spark, sf_dir)
    cands = _lrs_candidates(ranged, ext)
    return (
        _lrs_occurrences(ranged, ext, cands)
        .groupBy("l", "substring")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .select(
            F.col("l").alias("match_len"),
            "substring",
            "n_occurrences",
            "n_docs",
        )
    )


#: Session memo (plans.catalog.session_memo) for the suffix-sort
#: spine + tied-rows extension table shared by the LRS report, the
#: scrub manifest and the composed scrub pipeline: the spine is the
#: ExactSubstr family's shared index, built once per (session,
#: corpus). clear_plan_caches empties it before every timed run so
#: measurements stay cold-plan honest.
_LRS_SPINE_CACHE: dict = {}


def _lrs_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two eagerly-checkpointed ExactSubstr index artifacts,
    memoized per (session, corpus) — see ``_LRS_SPINE_CACHE``:

    * the range-partitioned capped suffix table ``(doc_id, pos, ks,
      nk, pid)`` — one row per token position, the capped suffix
      carried as its space-joined string ``ks`` plus token count
      ``nk`` (bijective with the token array for whitespace-split
      tokens; the array is re-derived by split only where the LCP
      needs it), global suffix order = (pid asc, within-partition
      (ks, doc_id, pos));
    * the tied-rows extension table ``(gk, doc_id, pos, eks)`` —
      only positions whose full-width capped key duplicates, with the
      suffix re-sliced to ``LRS_EXT_CAP`` tokens and carried as the
      joined string ``eks``.
    """

    def build():
        docs = load_table(spark, sf_dir, "documents")
        # One checkpointed tokenize pass feeds both artifacts: the
        # suffix build reads the token table twice (the range
        # partitioner's sampling job and the materialization) and the
        # extension build a third time.
        toks = _lrs_toks(docs).localCheckpoint(eager=True)
        ranged = _lrs_suffix_from_toks(toks)
        return ranged, _lrs_ext_from_toks(ranged, toks)

    return session_memo(_LRS_SPINE_CACHE, spark, sf_dir, "documents", build)


def _lrs_toks(docs: DataFrame) -> DataFrame:
    """The shared ``(doc_id, toks)`` token table both spine artifacts
    derive from."""
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )


def _lrs_suffix_table_from(docs: DataFrame) -> DataFrame:
    """Suffix-table builder over any ``(doc_id, text)``-shaped frame —
    split out so pytest can drive the suffix/LCP machinery with
    adversarial corpora (empty strings, single tokens, unicode,
    whole-doc repeats) that the generated tables never contain."""
    return _lrs_suffix_from_toks(_lrs_toks(docs))


def _lrs_suffix_from_toks(toks: DataFrame) -> DataFrame:
    # SLIM SPINE (round 15, guide §2.3 applied to the materialization):
    # the checkpoint carries the space-joined key STRING ``ks`` plus
    # its token count ``nk`` — NOT the 12-token ``key`` array it used
    # to duplicate. ks ↔ key is bijective for whitespace-split tokens
    # (the same inversion _lrs_candidates already banks on for eks),
    # so every consumer either works on the string directly (ordering,
    # grouping, the occurrence prefix probe) or re-derives the array
    # with one split() (the adjacent-LCP pass). Halving the spine row
    # cuts the checkpoint write AND the candidate pass's pid exchange
    # — the dominant bytes of the whole ExactSubstr family.
    sfx = (
        toks.select(
            "doc_id",
            "toks",
            F.posexplode("toks").alias("p0", "_tok"),
        )
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("pos"),
            F.slice(F.col("toks"), F.col("p0") + 1, F.lit(LRS_CAP)).alias(
                "key"
            ),
        )
    )
    return (
        sfx.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", "key").alias("ks"),
            F.size("key").cast("int").alias("nk"),
        )
        .repartitionByRange("ks", "doc_id", "pos")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def _lrs_ext_from(ranged: DataFrame, docs: DataFrame) -> DataFrame:
    """Tied-rows extension table ``(gk, doc_id, pos, eks)``: the
    positions whose FULL-width capped key duplicates somewhere in the
    corpus (the only positions that can start a repeat ≥ the spine
    cap — both sides of a capped-at-``LRS_CAP`` adjacent pair share
    an identical 12-token key by definition), with the suffix
    re-sliced from the re-tokenized documents to ``LRS_EXT_CAP``
    tokens. Grouped by ``gk`` (the shared capped key) downstream:
    group-internal adjacency under the extended order supplies the
    exact LCPs the capped pass truncated. Eagerly checkpointed — the
    candidate builder reads it twice (same-key + adjacency) and the
    occurrence probe once more."""
    return _lrs_ext_from_toks(ranged, _lrs_toks(docs))


def _lrs_ext_from_toks(ranged: DataFrame, toks: DataFrame) -> DataFrame:
    # Duplicated-key detection is groupBy + join, NOT a count-over-
    # window: the window form funnels every occurrence of each
    # duplicated 12-gram into ONE task (a single-partition hotspot on
    # dup-dense corpora — the adversarial case this pass exists for)
    # and carries whole groups through the window shuffle. groupBy
    # gets map-side partial aggregation, so the ks-shuffle moves one
    # (ks, count) row per distinct key per mapper, and the re-join
    # back to the full-width rows is an ordinary co-partitioned hash
    # join with no per-group serialization point.
    full = ranged.where(F.col("nk") == LRS_CAP)
    dup_keys = (
        full.groupBy("ks")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("ks")
    )
    tied = full.join(dup_keys, "ks").select(
        F.col("ks").alias("gk"), "doc_id", "pos"
    )
    # SLIM (round 15): only the space-joined ``eks`` string is
    # materialized — the up-to-LRS_EXT_CAP-token ``ek`` array nearly
    # doubled every row of this checkpoint, and both consumers
    # already work from the string (_lrs_candidates re-splits the
    # aggregated distinct keys; the occurrence probe is a
    # token-boundary string-prefix test).
    return (
        tied.join(toks, "doc_id")
        .select(
            "gk",
            "doc_id",
            "pos",
            F.concat_ws(
                " ",
                F.slice(F.col("toks"), F.col("pos"), F.lit(LRS_EXT_CAP)),
            ).alias("eks"),
        )
        .localCheckpoint(eager=True)
    )


def _token_lcp(a: Column, b: Column) -> Column:
    """Leading-equal-token run of two token arrays; zip_with pads the
    shorter side with NULL and <=> maps NULL-vs-token to false, so
    the run is naturally bounded by min(len(a), len(b))."""
    eq = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    first_bad = F.array_position(eq, F.lit(False))
    return (
        F.when(first_bad == 0, F.least(F.size(a), F.size(b)))
        .otherwise(first_bad - 1)
        .cast("int")
    )


def _lrs_candidates(ranged: DataFrame, ext: DataFrame) -> DataFrame:
    """The ≤``LRS_TOPK``-row candidate table ``(l, substring,
    sub_arr)``, ranked (len desc, substring) and cut to K, from the
    union of:

    * the capped pass — adjacent-suffix LCPs in [``LRS_MIN_MATCH``,
      ``LRS_CAP``) via tiled per-partition lag + the bounded boundary
      seam (these LCPs are exact: the pair differs WITHIN the cap);
    * the extension pass — for duplicated-capped-key groups, the
      true LCPs up to ``LRS_EXT_CAP``: identical extended keys are
      aggregated first (a repeat of multiplicity m is ONE row with
      cnt=m, so replicated corpora cost one row per distinct
      suffix), then same-key candidates (cnt ≥ 2 → l = |ek|) union
      group-internal adjacent LCPs of the distinct extended keys.

    Ordering note (documented limitation): suffix order is the
    BINARY order of the space-joined key on both engines, which
    matches token-sequence order for whitespace-split tokens unless
    a token contains a non-whitespace character below 0x20 (e.g.
    ``\\x01`` survives the ``\\s+`` split and sorts below the space
    separator). Such a token can split a repeat cluster and
    under-report that repeat's length; engine and oracle share the
    order, so parity holds even then."""
    # ONE ascending window definition: the inner lag MUST share the
    # exact order the seam relies on.
    w_local = Window.partitionBy("pid").orderBy("ks", "doc_id", "pos")
    # The lag moves only the slim (pid, ks, doc_id, pos) row through
    # the window exchange; the token arrays the LCP needs are
    # re-derived AFTER the lag with one split per side (round 15 —
    # the old shape shuffled the 12-token key array alongside its own
    # string join).
    inner = (
        ranged.select(
            "ks", F.lag("ks").over(w_local).alias("pk")
        )
        .where(F.col("pk").isNotNull())
    )
    # Per-partition first/last rows come from ONE min/max-struct
    # aggregate, not two more row_number windows: (ks, doc_id, pos)
    # is a unique total order identical to w_local (struct comparison
    # is field-by-field; the trailing key column is never reached),
    # and a groupBy gets MAP-SIDE partial aggregation — the exchange
    # moves one row per (pid, mapper) instead of re-shuffling and
    # re-sorting the whole spine per window (the round-13 shape paid
    # the spine exchange + sort three times per candidate build; this
    # leaves only the inner lag's, which genuinely needs the order).
    extremes = ranged.groupBy("pid").agg(
        F.min(F.struct("ks", "doc_id", "pos")).alias("fst"),
        F.max(F.struct("ks", "doc_id", "pos")).alias("lst"),
    )
    # |pids|-row seam: unpartitioned lag over a bounded frame
    # (allowlisted pattern — one row per non-empty partition).
    w_pid = Window.orderBy("pid")
    seam = (
        extremes.select(
            "pid",
            F.col("fst.ks").alias("ks"),
            F.col("lst.ks").alias("lks"),
        )
        .withColumn("pk", F.lag("lks").over(w_pid))
        .where(F.col("pk").isNotNull())
        .select("ks", "pk")
    )
    # split() inverts concat_ws exactly for whitespace-free tokens
    # (the documented bijectivity this module already relies on for
    # eks), so the LCP sees the identical token arrays the spine used
    # to carry.
    pairs = inner.unionByName(seam).select(
        _token_lcp(
            F.split("ks", " "), F.split("pk", " ")
        ).alias("l"),
        "ks",
    )
    # Capped-pass candidates stop BELOW the cap: an LCP == LRS_CAP
    # means both suffixes share the full capped key, i.e. the pair
    # lives inside a duplicated-key group — the extension pass
    # regenerates it with its exact length (possibly == LRS_CAP when
    # the suffixes genuinely diverge at token 13).
    capped = pairs.where(
        (F.col("l") >= LRS_MIN_MATCH) & (F.col("l") < LRS_CAP)
    ).select(
        "l",
        # first l space-separated fields ≡ concat_ws of the first l
        # tokens — one string op instead of split + slice + re-join
        F.expr("substring_index(ks, ' ', l)").alias("substring"),
    )
    # Extension pass: aggregate identical extended keys, then
    # same-key + adjacent-distinct-key candidates per group. ek is
    # re-split from the group key (single-space join/split is
    # bijective for whitespace-free tokens) so the pick is
    # deterministic without an any_value.
    agg = (
        ext.groupBy("gk", "eks")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("ek", F.split("eks", " "))
    )
    same = agg.where(F.col("cnt") >= 2).select(
        F.size("ek").cast("int").alias("l"), F.col("eks").alias("substring")
    )
    w_g = Window.partitionBy("gk").orderBy("eks")
    adj = (
        agg.select("gk", "eks", "ek", F.lag("ek").over(w_g).alias("epk"))
        .where(F.col("epk").isNotNull())
        .select(_token_lcp(F.col("ek"), F.col("epk")).alias("l"), "ek")
        .select(
            "l",
            F.concat_ws(" ", F.slice(F.col("ek"), 1, F.col("l"))).alias(
                "substring"
            ),
        )
    )
    # Eagerly checkpointed: the ≤LRS_TOPK-row candidate table is
    # consumed by TWO broadcast probes in _lrs_occurrences (the ≤cap
    # and >cap splits) and unmaterialized each broadcast re-executes
    # this whole chain — the spine window + extension aggregation,
    # the most expensive stages after the suffix sort itself — as two
    # racing copies per action (the same double-execution defect the
    # round-14 PPJoin fix closed for rep_pairs).
    return (
        capped.unionByName(same)
        .unionByName(adj)
        .distinct()
        .orderBy(F.desc("l"), "substring")
        .limit(LRS_TOPK)
        .withColumn("sub_arr", F.split("substring", " "))
        .localCheckpoint(eager=True)
    )


def _lrs_occurrences(
    ranged: DataFrame, ext: DataFrame, cands: DataFrame
) -> DataFrame:
    """One row per corpus occurrence of a top-K candidate:
    ``(doc_id, pos, l, substring)`` — ``pos`` is the 1-based token
    position the match starts at, so consumers can reason about
    SPANS (the scrub pipeline unions overlapping ones), not just
    counts. Candidates at or below the spine cap probe the full
    suffix table; longer candidates probe only the tied-rows
    extension table — complete BY CONSTRUCTION, because any position
    starting a ≥cap-length repeat has a duplicated capped key and is
    therefore in the extension table. Both probes are a ≤K-row
    broadcast over one pass of a checkpointed artifact."""
    # Token-boundary prefix test on the slim string spine: the first
    # l tokens of ks equal sub_arr ⟺ ks IS the substring (l == nk)
    # or ks continues past it with a space at exactly the token
    # boundary (l < nk). A too-long candidate (l > nk) matches
    # neither branch, same as the old length-mismatched array
    # equality. Bijectivity of the space join for whitespace-free
    # tokens makes the string test exact.
    def _prefix_match(key_str: str):
        return (F.col(key_str) == F.col("substring")) | F.col(
            key_str
        ).startswith(F.concat(F.col("substring"), F.lit(" ")))

    short = ranged.join(
        F.broadcast(cands.where(F.col("l") <= LRS_CAP)),
        _prefix_match("ks"),
    ).select("doc_id", "pos", "l", "substring")
    long_ = ext.join(
        F.broadcast(cands.where(F.col("l") > LRS_CAP)),
        _prefix_match("eks"),
    ).select("doc_id", "pos", "l", "substring")
    return short.unionByName(long_)


def _lrs_cut_islands(spans: DataFrame) -> DataFrame:
    """Interval-union island sweep over an occurrence-span frame
    ``(doc_id, s, e)``: sort per doc, running-max end, new-island
    flag, cumulative island id — the ONE home of the exact
    sequential-scrub semantics (overlapping occurrences count each
    token position once) shared by the retention pipeline and the
    apply step, so the two cannot drift. Windows partition by doc_id
    over occurrence rows only — |affected docs| × ≤K·spans, never
    corpus-sized."""
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_end = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    return spans.withColumn(
        "new_isl",
        (F.col("s") > F.coalesce(prev_end, F.lit(-1))).cast("int"),
    ).withColumn(
        "isl",
        F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr scrub manifest — the ACTIONABLE half of the
    suffix-LCP report (Lee et al. 2022 deduplicate by REMOVING the
    repeated spans, not by dropping documents): for every document
    containing any of the corpus's top-K longest repeated substrings,
    the per-document removal ledger ``(doc_id, n_spans,
    tokens_matched, max_match_len)`` — how many repeated spans start
    in the document, the token mass they cover (Σ match_len per
    occurrence; the number a scrub pass would cut), and the longest
    single match.

    Same spine as :func:`dedup_longest_substring` (shared
    :func:`_lrs_tables` + :func:`_lrs_candidates` +
    :func:`_lrs_occurrences`): the K-row candidate table broadcasts
    over one pass of the checkpointed artifacts, rolled up by doc_id
    instead of substring — the shuffle is |affected docs|-keyed
    partial aggregation, nothing corpus-sized. Oracle: the same CTE
    chain grouped by doc_id.
    """
    ranged, ext = _lrs_tables(spark, sf_dir)
    cands = _lrs_candidates(ranged, ext)
    return (
        _lrs_occurrences(ranged, ext, cands)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("l").cast("bigint").alias("tokens_matched"),
            F.max("l").alias("max_match_len"),
        )
    )


def pipeline_exactsubstr_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr pipeline's LAST MILE (Lee et al. 2022 §4:
    dedup by REMOVING repeated spans, then train on what remains):
    apply the scrub ledger to the corpus and report, per source, what
    survives — ``(source, n_docs, n_docs_scrubbed, tokens_in,
    tokens_scrubbed, tokens_out, token_retention)``. This is the
    acceptance report a production scrub pass ships with: which
    sources lose how much token mass to boilerplate repeats.

    Composition cost on top of :func:`dedup_substring_scrub`: the
    same shared spine/extension/candidate chain, one per-doc ledger
    rollup, one LEFT join against the |docs|-row token-count
    projection, one |sources|-row rollup — nothing corpus-quadratic.
    Per-document cut is EXACT sequential-scrub token mass: the
    occurrence spans ``[pos, pos+l-1]`` are merged by interval union
    (sort by start per doc, running-max sweep → island ids → per-
    island coverage), so OVERLAPPING occurrences — a 40-token repeat
    whose suffix candidates all match inside it is the common case —
    count each token position ONCE, exactly what a left-to-right
    scrub removes. The union windows partition by doc_id (occurrence
    rows only — |affected docs| × ≤K·spans, nothing corpus-sized) and
    the residual ``least(cut, n_tokens)`` is a pure invariant guard
    (span ends never exceed the doc, so union coverage ≤ n_tokens by
    construction). Oracle: the shared ``_lrs_core_sql`` chain + the
    same island sweep in DuckDB windows.
    """
    docs = load_table(spark, sf_dir, "documents")
    ranged, ext = _lrs_tables(spark, sf_dir)
    cands = _lrs_candidates(ranged, ext)
    spans = _lrs_occurrences(ranged, ext, cands).select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + F.col("l") - 1).alias("e"),
    )
    ledger = (
        _lrs_cut_islands(spans).groupBy("doc_id", "isl")
        .agg((F.max("e") - F.min("s") + 1).alias("cov"))
        .groupBy("doc_id")
        .agg(F.sum("cov").cast("bigint").alias("tokens_matched"))
    )
    per_doc = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        .join(ledger, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            F.least(
                F.coalesce(F.col("tokens_matched"), F.lit(0)),
                F.col("n_tokens"),
            ).alias("cut"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("cut") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_scrubbed"),
            F.sum("n_tokens").alias("tokens_in"),
            F.sum("cut").cast("bigint").alias("tokens_scrubbed"),
        )
        .select(
            "source",
            "n_docs",
            "n_docs_scrubbed",
            "tokens_in",
            "tokens_scrubbed",
            (F.col("tokens_in") - F.col("tokens_scrubbed")).alias(
                "tokens_out"
            ),
            F.round(
                (F.col("tokens_in") - F.col("tokens_scrubbed")).cast("double")
                / F.col("tokens_in"),
                6,
            ).alias("token_retention"),
        )
    )


def pipeline_exactsubstr_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr APPLY step — the deliverable a pipeline user
    actually trains on (Lee et al. 2022 §4: after locating repeated
    spans, CUT them and keep the rest): for every document the scrub
    touches, emit the per-doc scrubbed token stream as ``(doc_id,
    n_tokens_in, tokens_removed, n_tokens_out, scrubbed_digest)`` —
    the digest is md5 of the retained tokens re-joined by single
    spaces, so the oracle can replay the identical cut and the
    comparison stays value-exact without shipping full scrubbed text
    through the driver compare. Untouched documents pass through a
    real scrub unchanged, so they are NOT re-emitted here (the
    per-source retention report is :func:`pipeline_exactsubstr_corpus`).

    Plan: the same shared spine/extension/candidate chain, the same
    interval-union island sweep over the |affected docs|-sized
    occurrence frame (windows partition by doc_id over occurrence
    rows only), the merged cut-list collected per doc (≤ spans-per-doc
    structs — bounded by the ≤K candidates' occurrences, never
    corpus-sized), then ONE inner join back to the corpus tokens —
    which prunes the corpus scan to affected docs — and the cut
    itself as pure-JVM higher-order expressions (transform → filter →
    exists over the per-doc cut list; no explode of corpus tokens, no
    Python). Token positions are never re-shuffled: the join ships
    the small cut-list side to the data.
    """
    docs = load_table(spark, sf_dir, "documents")
    ranged, ext = _lrs_tables(spark, sf_dir)
    cands = _lrs_candidates(ranged, ext)
    spans = _lrs_occurrences(ranged, ext, cands).select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + F.col("l") - 1).alias("e"),
    )
    cuts = (
        _lrs_cut_islands(spans)
        .groupBy("doc_id", "isl")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("ms"), F.col("me")))
            ).alias("cut_list")
        )
    )
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )
    kept = F.filter(
        F.transform(
            F.col("toks"),
            lambda t, i: F.struct(
                (i + F.lit(1)).alias("p"), t.alias("t")
            ),
        ),
        lambda x: ~F.exists(
            F.col("cut_list"),
            lambda iv: (x["p"] >= iv["ms"]) & (x["p"] <= iv["me"]),
        ),
    )
    return (
        toks.join(cuts, "doc_id")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens_in"),
            F.transform(kept, lambda x: x["t"]).alias("scrub"),
        )
        .select(
            "doc_id",
            "n_tokens_in",
            (F.col("n_tokens_in") - F.size("scrub")).cast("long").alias(
                "tokens_removed"
            ),
            F.size("scrub").cast("long").alias("n_tokens_out"),
            F.md5(F.array_join("scrub", " ")).alias("scrubbed_digest"),
        )
    )


def _lrs_core_sql() -> str:
    """Shared CTE chain replaying the two-pass suffix algebra in
    DuckDB — the capped spine, the duplicated-key extension to
    ``LRS_EXT_CAP`` tokens, the candidate union, the top-K cut, and
    the per-occurrence probe ``lr_occ(l, substring, doc_id)``. One
    builder for the report, the scrub manifest, and the composed
    scrub pipeline so the oracles cannot drift (the house pattern
    _dsir_core_sql set). Mirrors the engine exactly: identical
    extended keys aggregate BEFORE the per-group adjacency, so the
    oracle never sorts full suffixes either."""
    return f"""lr_toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
), lr_sfx AS (
  SELECT doc_id, pos,
         t[pos:least(pos + {LRS_CAP - 1}, len(t))] AS k
  FROM (SELECT doc_id, t, generate_subscripts(t, 1) AS pos FROM lr_toks)
), lr_adj AS (
  SELECT k,
         LAG(k) OVER (ORDER BY array_to_string(k, ' '), doc_id, pos) AS pk
  FROM lr_sfx
), lr_lcp AS (
  SELECT k,
         CAST(COALESCE(
           NULLIF(list_position(
             list_transform(range(1, least(len(k), len(pk)) + 1),
                            i -> k[i] = pk[i]),
             false), 0) - 1,
           least(len(k), len(pk))) AS INTEGER) AS l
  FROM lr_adj WHERE pk IS NOT NULL
), lr_capped AS (
  SELECT DISTINCT l, array_to_string(k[1:l], ' ') AS substring
  FROM lr_lcp WHERE l >= {LRS_MIN_MATCH} AND l < {LRS_CAP}
), lr_dupk AS (
  SELECT array_to_string(k, ' ') AS gk
  FROM lr_sfx WHERE len(k) = {LRS_CAP}
  GROUP BY 1 HAVING COUNT(*) >= 2
), lr_ext AS (
  SELECT d.gk, s.doc_id, s.pos,
         t.t[s.pos:least(s.pos + {LRS_EXT_CAP - 1}, len(t.t))] AS ek
  FROM lr_sfx s
  JOIN lr_dupk d ON len(s.k) = {LRS_CAP} AND array_to_string(s.k, ' ') = d.gk
  JOIN lr_toks t ON t.doc_id = s.doc_id
), lr_ekagg AS (
  SELECT gk, array_to_string(ek, ' ') AS eks, COUNT(*) AS cnt
  FROM lr_ext GROUP BY gk, eks
), lr_extadj AS (
  SELECT eks, cnt, string_split(eks, ' ') AS ek,
         LAG(string_split(eks, ' ')) OVER (PARTITION BY gk ORDER BY eks) AS pk
  FROM lr_ekagg
), lr_extlcp AS (
  SELECT ek,
         CAST(COALESCE(
           NULLIF(list_position(
             list_transform(range(1, least(len(ek), len(pk)) + 1),
                            i -> ek[i] = pk[i]),
             false), 0) - 1,
           least(len(ek), len(pk))) AS INTEGER) AS l
  FROM lr_extadj WHERE pk IS NOT NULL
), lr_extcand AS (
  SELECT CAST(len(ek) AS INTEGER) AS l, eks AS substring
  FROM lr_extadj WHERE cnt >= 2
  UNION
  SELECT l, array_to_string(ek[1:l], ' ') AS substring FROM lr_extlcp
), lr_cand AS (
  SELECT l, substring FROM lr_capped
  UNION
  SELECT l, substring FROM lr_extcand
), lr_topk AS (
  SELECT l, substring, string_split(substring, ' ') AS sub_arr
  FROM lr_cand ORDER BY l DESC, substring LIMIT {LRS_TOPK}
), lr_occ AS (
  SELECT c.l, c.substring, s.doc_id, s.pos
  FROM lr_topk c JOIN lr_sfx s
    ON c.l <= {LRS_CAP} AND list_slice(s.k, 1, c.l) = c.sub_arr
  UNION ALL
  SELECT c.l, c.substring, e.doc_id, e.pos
  FROM lr_topk c JOIN lr_ext e
    ON c.l > {LRS_CAP} AND list_slice(e.ek, 1, c.l) = c.sub_arr
)"""


DEDUP_SCRUB_ORACLE = f"""
WITH {_lrs_core_sql()}
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(l) AS BIGINT) AS tokens_matched,
       CAST(MAX(l) AS INTEGER) AS max_match_len
FROM lr_occ
GROUP BY doc_id
"""


DEDUP_LRS_ORACLE = f"""
WITH {_lrs_core_sql()}
SELECT l AS match_len, substring,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM lr_occ
GROUP BY l, substring
"""


#: Shared island-sweep SQL (the oracle twin of _lrs_cut_islands):
#: occurrence spans -> running-max new-island flags -> island ids.
#: One fragment for the retention pipeline and the apply step so the
#: two oracles replay the identical scrub semantics.
_PX_ISLAND_SQL = """px_spans AS (
  SELECT doc_id, pos AS s, pos + l - 1 AS e FROM lr_occ
), px_isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_isl
  FROM px_spans
), px_isl2 AS (
  SELECT doc_id, s, e,
         SUM(new_isl) OVER (
           PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM px_isl
)"""


PIPELINE_EXACTSUBSTR_ORACLE = f"""
WITH {_lrs_core_sql()},
{_PX_ISLAND_SQL}, px_ledger AS (
  SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS tokens_matched
  FROM (
    SELECT doc_id, MAX(e) - MIN(s) + 1 AS cov
    FROM px_isl2 GROUP BY doc_id, isl
  ) GROUP BY doc_id
), px_docs AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents WHERE text IS NOT NULL
), px AS (
  SELECT d.source, d.n_tokens,
         least(COALESCE(l.tokens_matched, 0), d.n_tokens) AS cut
  FROM px_docs d LEFT JOIN px_ledger l ON l.doc_id = d.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cut > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_scrubbed,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_in,
       CAST(SUM(cut) AS BIGINT) AS tokens_scrubbed,
       CAST(SUM(n_tokens) - SUM(cut) AS BIGINT) AS tokens_out,
       ROUND(CAST(SUM(n_tokens) - SUM(cut) AS DOUBLE) / SUM(n_tokens), 6)
         AS token_retention
FROM px GROUP BY source
"""


PIPELINE_EXACTSUBSTR_APPLY_ORACLE = f"""
WITH {_lrs_core_sql()},
{_PX_ISLAND_SQL}, pa_iv AS (
  SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
  FROM px_isl2 GROUP BY doc_id, isl
), pa_docs AS (
  SELECT d.doc_id, regexp_split_to_array(TRIM(d.text), '\\s+') AS t
  FROM documents d
  JOIN (SELECT DISTINCT doc_id FROM pa_iv) a USING (doc_id)
  WHERE d.text IS NOT NULL
), pa_pos AS (
  SELECT doc_id, t[pos] AS tok, pos
  FROM (SELECT doc_id, t, generate_subscripts(t, 1) AS pos FROM pa_docs)
), pa_keep AS (
  SELECT p.doc_id, p.pos, p.tok
  FROM pa_pos p
  WHERE NOT EXISTS (
    SELECT 1 FROM pa_iv iv
    WHERE iv.doc_id = p.doc_id AND p.pos BETWEEN iv.ms AND iv.me
  )
), pa_agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens_out,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS scrubbed_digest
  FROM pa_keep GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.t) AS BIGINT) AS n_tokens_in,
       CAST(len(d.t) - COALESCE(a.n_tokens_out, 0) AS BIGINT)
         AS tokens_removed,
       CAST(COALESCE(a.n_tokens_out, 0) AS BIGINT) AS n_tokens_out,
       COALESCE(a.scrubbed_digest, md5('')) AS scrubbed_digest
FROM pa_docs d LEFT JOIN pa_agg a USING (doc_id)
"""



def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-AWARE dedup survivor selection — the FineWeb/RefinedWeb
    upgrade over keep-lowest-doc_id: within each exact-duplicate
    group, keep the HIGHEST-quality copy (quality micro-score
    descending, doc_id ascending tiebreak — a total order, so both
    engines elect the same survivor). Duplicate copies often differ
    in extraction quality (boilerplate, truncation); electing the
    best copy moves corpus quality for free, and this ledger is the
    evidence: per source, docs seen / survivors kept / copies
    dropped, plus the exact micro-mean quality of kept vs dropped
    rows.

    Shapes, sized for 100 TB: one fingerprint-partitioned window
    (the same fp hash shuffle every exact-dedup pass pays; groups are
    duplicate-multiplicity-sized) then one per-source rollup. The
    quality score rides the scan as a JVM expression; the scaled-long
    micro grid makes the ordering and the means exact in both
    engines.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    scored = docs.select(
        "doc_id",
        "source",
        T.fingerprint(F.col("text")).alias("fp"),
        F.round(T.quality_score(F.col("text")) * 1e6)
        .cast("long")
        .alias("qm"),
    )
    w = Window.partitionBy("fp").orderBy(F.desc("qm"), "doc_id")
    ranked = scored.withColumn("rk", F.row_number().over(w))
    kept = F.when(F.col("rk") == 1, 1).otherwise(0)
    dropped = F.when(F.col("rk") > 1, 1).otherwise(0)
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).alias("n_survivors"),
            F.sum(dropped).alias("n_dropped"),
            F.sum(F.when(F.col("rk") == 1, F.col("qm")).otherwise(0)).alias(
                "_kq"
            ),
            F.sum(F.when(F.col("rk") > 1, F.col("qm")).otherwise(0)).alias(
                "_dq"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_survivors",
            "n_dropped",
            # Guarded like the dropped branch: a source whose every doc
            # loses its cross-source duplicate election has zero
            # survivors, and the ledger should read an explicit 0, not
            # a NULL that happens to match the oracle's NULL.
            F.expr(
                "CASE WHEN n_survivors > 0 THEN _kq div n_survivors "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("kept_quality_micro"),
            F.expr(
                "CASE WHEN n_dropped > 0 THEN _dq div n_dropped "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("dropped_quality_micro"),
        )
        .orderBy("source")
    )


DEDUP_QUALITY_SURVIVOR_ORACLE = f"""
WITH qs_scored AS (
  SELECT doc_id, source,
         {T.oracle_fingerprint()} AS fp,
         CAST(ROUND({T.oracle_quality_score()} * 1e6) AS BIGINT) AS qm
  FROM documents WHERE text IS NOT NULL
), qs_ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY fp ORDER BY qm DESC, doc_id) AS rk
  FROM qs_scored
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_survivors,
       CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CASE WHEN SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) > 0
            THEN CAST(SUM(CASE WHEN rk = 1 THEN qm ELSE 0 END) AS BIGINT)
                 // CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS kept_quality_micro,
       CASE WHEN SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) > 0
            THEN CAST(SUM(CASE WHEN rk > 1 THEN qm ELSE 0 END) AS BIGINT)
                 // CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS dropped_quality_micro
FROM qs_ranked
GROUP BY source
ORDER BY source
"""


QUERIES: list[QueryDef] = [
    QueryDef("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE, "exact fingerprint dedup"),
    QueryDef(
        "dedup_quality_survivor",
        dedup_quality_survivor,
        DEDUP_QUALITY_SURVIVOR_ORACLE,
        "quality-aware dedup survivor election (best copy per exact-dup "
        "group) with kept-vs-dropped quality ledger",
    ),
    QueryDef("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_ORACLE, "token Jaccard pairs"),
    QueryDef("dedup_containment", dedup_containment, DEDUP_CONTAINMENT_ORACLE, "asymmetric token-containment pairs"),
    QueryDef("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_ORACLE, "MinHash LSH near-dup"),
    QueryDef("dedup_source_flow_matrix", dedup_source_flow_matrix, _source_flow_oracle(), "cross-source near-duplication flow matrix (which feed mirrors which)"),
    QueryDef("minhash_calibration", minhash_calibration, MINHASH_CALIBRATION_ORACLE, "MinHash estimate vs exact Jaccard calibration"),
    QueryDef("minhash_auc_report", minhash_auc_report, MINHASH_AUC_ORACLE, "exact Mann-Whitney AUC of the MinHash estimate ranking true near-dups"),
    QueryDef("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_ORACLE, "SimHash near-dup"),
    QueryDef("simhash_calibration", simhash_calibration, SIMHASH_CALIBRATION_ORACLE, "SimHash Hamming vs exact Jaccard calibration"),
    QueryDef("dedup_clusters", dedup_clusters, DEDUP_CLUSTERS_ORACLE, "transitive near-dup clusters via recursive min-label CTE"),
    QueryDef("dedup_savings_report", dedup_savings_report, DEDUP_SAVINGS_ORACLE, "per-language doc/token retention after transitive dedup"),
    QueryDef("dedup_cluster_size_hist", dedup_cluster_size_hist, DEDUP_SIZE_HIST_ORACLE, "cluster-size histogram of transitive near-dup components"),
    QueryDef("source_overlap_matrix", source_overlap_matrix, SOURCE_OVERLAP_ORACLE, "cross-source near-dup provenance-leakage matrix"),
    QueryDef("doc_ngram_novelty", doc_ngram_novelty, DOC_NOVELTY_ORACLE, "per-doc share of corpus-unique 3-gram shingles (novelty signal)"),
    QueryDef("dedup_threshold_sweep", dedup_threshold_sweep, DEDUP_SWEEP_ORACLE, "Jaccard-bar calibration table over one verified candidate pass"),
    QueryDef("dedup_quality_interaction", dedup_quality_interaction, DEDUP_QUALITY_ORACLE, "avg quality per duplication band (dedup-vs-quality audit)"),
    QueryDef("dedup_upweight_manifest", dedup_upweight_manifest, DEDUP_UPWEIGHT_ORACLE, "keep-one-count-many cluster-representative sampling manifest"),
    QueryDef("dedup_incremental_batch", dedup_incremental_batch, DEDUP_INCREMENTAL_ORACLE, "delta-vs-corpus incremental dedup verdicts (O(delta) ingest check)"),
    QueryDef("neardup_pagerank", neardup_pagerank, _neardup_pagerank_oracle(), "all-integer PageRank duplication-centrality over the near-dup graph"),
    QueryDef("neardup_triangles", neardup_triangles, NEARDUP_TRIANGLES_ORACLE, "degree-ordered triangle counting + clustering coefficient over the lexical near-dup graph"),
    QueryDef("neardup_graph_stats", neardup_graph_stats, NEARDUP_GRAPH_STATS_ORACLE, "one-row global graph health: transitivity + degree assortativity (exact integer moments)"),
    QueryDef("dedup_longest_substring", dedup_longest_substring, DEDUP_LRS_ORACLE, "suffix-LCP top-K longest repeated substrings (ExactSubstr grain, distributed suffix sort)"),
    QueryDef("dedup_substring_scrub", dedup_substring_scrub, DEDUP_SCRUB_ORACLE, "per-document ExactSubstr removal ledger over the top-K repeated substrings"),
    QueryDef("pipeline_exactsubstr_corpus", pipeline_exactsubstr_corpus, PIPELINE_EXACTSUBSTR_ORACLE, "ExactSubstr last mile: per-source token retention after applying the scrub ledger"),
    QueryDef("pipeline_exactsubstr_apply", pipeline_exactsubstr_apply, PIPELINE_EXACTSUBSTR_APPLY_ORACLE, "ExactSubstr apply step: per-doc scrubbed token streams (retained counts + digest)"),
]
