"""Operator-level tests for the training-data ops: planted-duplicate
recall for MinHash/SimHash, LSH-vs-exact ANN recall, language-ID on
hand-built sentences, multimodal decode plumbing."""

import pytest
from pyspark.sql import functions as F

from duckdb_gsheets_spark.functions.text import language_id
from duckdb_gsheets_spark.operators.dedup import (
    minhash_signatures,
    simhash_signatures,
)
from duckdb_gsheets_spark.operators.multimodal import (
    FORMATS,
    _decode_payload,
    multimodal_decode_features,
)
from duckdb_gsheets_spark.operators.similarity import ann_cosine_topk, ann_lsh_topk

SF = "/root/testdata/sf0.001"

BASE = (
    "spark shuffles data across the cluster when a join or aggregation "
    "needs rows with the same key on the same executor and the planner "
    "decides a broadcast is too large for the driver to ship"
)
NEAR_DUP = BASE.replace("planner", "optimizer").replace("driver", "coordinator")
UNRELATED = (
    "quarterly revenue grew modestly while the committee debated the "
    "merits of expanding the cafeteria menu to include seasonal produce"
)


@pytest.fixture()
def planted_docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR_DUP), (3, UNRELATED)], ["doc_id", "text"]
    )


def test_minhash_finds_planted_near_dup(spark, planted_docs):
    sigs = minhash_signatures(planted_docs)
    rows = {r.doc_id: r for r in sigs.collect()}
    assert len(rows) == 3
    assert len(rows[1].signature) == 16
    # Signatures of near-dups agree on most permutations; unrelated don't.
    same_12 = sum(
        a == b for a, b in zip(rows[1].signature, rows[2].signature)
    )
    same_13 = sum(
        a == b for a, b in zip(rows[1].signature, rows[3].signature)
    )
    assert same_12 > same_13
    assert same_12 >= 8  # high shingle overlap → most mins collide


def test_simhash_distance_orders_pairs(spark, planted_docs):
    sigs = {r.doc_id: r.sig for r in simhash_signatures(planted_docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])


def test_minhash_deterministic(spark, planted_docs):
    a = {r.doc_id: tuple(r.signature) for r in minhash_signatures(planted_docs).collect()}
    b = {r.doc_id: tuple(r.signature) for r in minhash_signatures(planted_docs).collect()}
    assert a == b


def test_minhash_np_builder_matches_hof_reference(spark):
    """Formulation equivalence for the round-14 Arrow-batched
    signature builder: the production batch path
    (numpy md5-residue/shingle/affine in mapInPandas) must be
    bit-identical — shingle arrays INCLUDING first-occurrence order,
    and all 16 signature components — to the all-JVM higher-order-
    function form (:func:`_minhash_sigs_hof`, kept as the reference),
    over the real sf corpus AND a planted edge-case frame (1-token and
    2-token docs that exercise the NULL_SENTINEL padding, unicode
    tokens, whitespace-only text that tokenizes to the empty string)."""
    from duckdb_gsheets_spark.operators.dedup import _minhash_sigs_hof
    from duckdb_gsheets_spark.plans.catalog import load_table

    edge = spark.createDataFrame(
        [
            (1, "solo"),
            (2, "two tokens"),
            (3, "  \t  "),
            (4, "héllo wörld héllo wörld héllo"),
            (5, "a b c a b c a b c d"),
            (6, None),
        ],
        ["doc_id", "text"],
    )
    for frame in (edge, load_table(spark, SF, "documents")):
        got = {
            r.doc_id: (tuple(r.shingles), tuple(r.signature))
            for r in minhash_signatures(frame).collect()
        }
        ref = {
            r.doc_id: (tuple(r.shingles), tuple(r.signature))
            for r in _minhash_sigs_hof(frame).collect()
        }
        assert got == ref


def test_lsh_ann_recall_vs_exact(spark):
    """LSH candidates must recover most of the exact top-k."""
    exact = {
        (r.vec_a, r.vec_b)
        for r in ann_cosine_topk(spark, SF).collect()
    }
    approx = {
        (r.vec_a, r.vec_b)
        for r in ann_lsh_topk(spark, SF).collect()
    }
    # 16 hyperplanes over 64-dim random embeddings: buckets are sparse,
    # so recall is partial by design — but anything recovered must be
    # a true pair-quality result and overall recall must be non-trivial.
    assert len(approx & exact) >= len(exact) * 0.2


def test_language_id_sentences(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on a mat and it was happy that you came"),
            (2, "el perro corre en la calle y no se detiene que pasa"),
            (3, "der hund und die katze sind nicht mit dem ball zu sehen"),
            (4, "le chat est dans les jardins et une souris pour ce soir"),
            (5, "zzz qqq www rrr ttt"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang for r in df.select(
        "doc_id", language_id(F.col("text")).alias("lang")
    ).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "unknown"}


def test_multimodal_decode_features(spark):
    df = multimodal_decode_features(spark, SF)
    rows = df.collect()
    assert len(rows) == 500
    sample = rows[0]
    assert sample.byte_len > 0
    assert sample.width >= 1 and sample.height >= 1
    assert 0.0 <= sample.mean_byte <= 255.0
    # Deterministic fake: same formula as _decode_payload.
    payload = b"x" * sample.byte_len  # length drives width/height
    w, h, _, _ = _decode_payload(payload, "png")
    assert (sample.width, sample.height) == (w, h) or sample.n_frames >= 1


def test_decode_stub_rejects_unknown_format():
    with pytest.raises(NotImplementedError):
        _decode_payload(b"bytes", "tiff")


def test_decode_formats_cover():
    for fmt in FORMATS:
        w, h, mean_byte, n_frames = _decode_payload(b"abcd", fmt)
        assert w >= 1 and h >= 1 and n_frames >= 1
        assert mean_byte == pytest.approx(sum(b"abcd") / 4, abs=1e-6)


def test_ivf_ann_recall_vs_exact(spark):
    """IVF probes must recover a solid fraction of the exact top-k."""
    from duckdb_gsheets_spark.operators.similarity import ann_ivf_topk

    exact = {
        (r.vec_a, r.vec_b)
        for r in ann_cosine_topk(spark, SF).collect()
    }
    approx = {
        (r.vec_a, r.vec_b)
        for r in ann_ivf_topk(spark, SF).collect()
    }
    # nprobe=4 of 16 lists scans ~25% of the corpus; on random
    # embeddings the true neighbors concentrate in the probed lists,
    # so recall should beat the scan fraction.
    assert len(approx & exact) >= len(exact) * 0.3


def test_pq_adc_matches_numpy_recompute(spark):
    """Full PQ pipeline (codebook, per-subspace encoding, ADC LUT
    scoring, top-k) against a single-machine numpy recompute over the
    collected corpus — independent of the DuckDB oracle."""
    import numpy as np

    from duckdb_gsheets_spark.operators.similarity import (
        EMBEDDING_DIM,
        N_QUERY_VECTORS,
        PQ_CODES,
        PQ_ID_STRIDE,
        PQ_M,
        TOPK_K,
        ann_pq_adc_topk,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.vec_a, r.rank): (r.vec_b, r.adc_sim)
        for r in ann_pq_adc_topk(spark, SF).collect()
    }
    rows = sorted(
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([[float(x) for x in r.embedding] for r in rows])
    cb_ids = [i for i in ids if i % PQ_ID_STRIDE == 0][:PQ_CODES]
    C = X[np.isin(ids, cb_ids)]
    sub = EMBEDDING_DIM // PQ_M
    Csub = np.stack([C[:, s * sub : (s + 1) * sub] for s in range(PQ_M)])
    cc = np.einsum("sjd,sjd->sj", Csub, Csub)
    codes = np.stack(
        [
            np.round(X[:, s * sub : (s + 1) * sub] @ Csub[s].T - 0.5 * cc[s], 6).argmax(axis=1)
            for s in range(PQ_M)
        ],
        axis=1,
    )
    qmask = ids < N_QUERY_VECTORS
    Q, qids = X[qmask], ids[qmask]
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    adc = np.zeros((len(qids), len(ids)))
    rec2 = np.zeros(len(ids))
    for s in range(PQ_M):
        lut = Q[:, s * sub : (s + 1) * sub] @ Csub[s].T
        adc += lut[:, codes[:, s]]
        rec2 += cc[s][codes[:, s]]
    sims = np.round(adc / (qnorm[:, None] * np.sqrt(rec2)[None, :]), 6)
    expected = {}
    for qi, qid in enumerate(qids):
        keep = ids != qid
        order = np.lexsort((ids[keep], -sims[qi][keep]))[:TOPK_K]
        for rank, oi in enumerate(order, start=1):
            expected[(qid, rank)] = (ids[keep][oi], sims[qi][keep][oi])
    assert set(got) == set(expected)
    for key, (vb, s) in expected.items():
        assert got[key][0] == vb
        assert got[key][1] == pytest.approx(s, abs=1e-9)


def test_pq_codes_compress_not_degenerate(spark):
    """PQ is lossy but must not collapse: the reported ADC sims stay
    in the cosine range and every query gets exactly TOPK_K ranked
    neighbors with no self-matches."""
    from duckdb_gsheets_spark.operators.similarity import (
        N_QUERY_VECTORS,
        TOPK_K,
        ann_pq_adc_topk,
    )

    rows = ann_pq_adc_topk(spark, SF).collect()
    assert len(rows) == N_QUERY_VECTORS * TOPK_K
    for r in rows:
        assert r.vec_a != r.vec_b
        assert -1.000001 <= r.adc_sim <= 1.000001
        assert 1 <= r.rank <= TOPK_K


def test_ivf_assignment_covers_corpus(spark):
    from duckdb_gsheets_spark.operators.similarity import ivf_assignments
    from duckdb_gsheets_spark.plans.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    centroids, assignment = ivf_assignments(emb)
    n = emb.count()
    assert assignment.count() == n  # every vector lands in exactly one list
    lists = assignment.select("list_id").distinct().count()
    assert 1 < lists <= 16


def test_multimodal_resize_bounds(spark):
    from duckdb_gsheets_spark.operators.multimodal import (
        RESIZE_TARGET,
        multimodal_resize,
    )

    rows = multimodal_resize(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r.resized_width <= max(RESIZE_TARGET, 1)
        assert 1 <= r.resized_height <= max(RESIZE_TARGET, 1)
        assert 0.0 < r.scale <= 1.0


def test_multimodal_frame_sample_fanout(spark):
    from duckdb_gsheets_spark.operators.multimodal import (
        FRAME_STRIDE,
        multimodal_frame_sample,
    )

    rows = multimodal_frame_sample(spark, SF).collect()
    assert rows
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
        assert r.frame_idx % FRAME_STRIDE == 0
    # wav docs (doc_id % 3 == 2) have multi-frame payloads → fanout > 1 somewhere
    assert any(len(v) > 1 for v in per_doc.values())


def test_minhash_drops_null_and_empty_text(spark):
    """NULL/empty-text docs must produce NO signature rows — otherwise
    their identical all-NULL signatures collide in every LSH band."""
    df = spark.createDataFrame(
        [(1, BASE), (2, None), (3, None), (4, BASE.replace("spark", "flink"))],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(df)
    ids = {r.doc_id for r in sigs.collect()}
    assert ids == {1, 4}


def test_udtf_sentence_split_matches_duckdb_trim_semantics():
    """Python side must strip spaces only (DuckDB TRIM), not \\n/\\t."""
    from duckdb_gsheets_spark.operators.udtf_ops import SentenceSplit

    rows = list(SentenceSplit().eval(1, " one. two.\n"))
    # TRIM keeps the trailing newline; '[.!?]+\s+' then consumes '.\n',
    # so the sentences are 'one' and 'two' (3 chars), not 'two.'.
    assert [(r[2], r[3]) for r in rows] == [("one", 3), ("two", 3)]


def test_neardup_blocked_matches_exact_on_planted(spark):
    """LSH-blocked near-dup pairs recover exactly the pairs the O(n²)
    scorer finds on planted near-dups (cos ≈ 0.999 → per-pair miss
    probability ~4e-7 with 4 tables × 4 planes, and the planes + data
    are seeded, so this is deterministic in practice)."""
    import numpy as np

    from duckdb_gsheets_spark.operators.similarity import (
        neardup_pairs_blocked,
        neardup_pairs_exact,
    )

    rng = np.random.default_rng(7)
    rows, vid = [], 0
    for i in range(20):
        v = rng.standard_normal(64)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
        if i < 8:  # plant a tiny-perturbation near-dup
            w = v + rng.standard_normal(64) * 0.02
            rows.append((vid, [float(x) for x in w]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r.vec_a, r.vec_b) for r in neardup_pairs_exact(emb).collect()}
    blocked = {(r.vec_a, r.vec_b) for r in neardup_pairs_blocked(emb).collect()}
    assert len(exact) >= 8  # the planted pairs really clear 0.95
    assert blocked == exact


def test_bitmask_and_int_array_verify_agree(spark):
    """The vocab-adaptive overlap is an exact optimization: on the same
    candidate set, the small-vocab bitmask core and the general
    int-array core must produce identical ``(doc_a, doc_b, na, nb,
    overlap)`` rows — including a vocabulary that spans MULTIPLE
    64-bit mask blocks (130 distinct tokens -> 3 blocks) so the
    cross-block popcount sum is exercised, not just block 0."""
    import random

    from duckdb_gsheets_spark.operators.dedup import (
        _overlap_bitmask,
        _overlap_int_arrays,
        _token_dictionary,
    )

    rng = random.Random(7)
    vocab = [f"tok{i:03d}" for i in range(130)]
    docs = [
        (i, sorted(rng.sample(vocab, rng.randint(5, 60))))
        for i in range(1, 41)
    ]
    toks_arr = spark.createDataFrame(
        [(d, t, len(t)) for d, t in docs],
        "doc_id long, toks array<string>, n_tokens int",
    )
    postings = toks_arr.select(
        "doc_id", "n_tokens", F.explode("toks").alias("tok")
    )
    dfs = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    tok_ids = _token_dictionary(dfs)
    n_vocab = tok_ids.count()
    cand = (
        toks_arr.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(toks_arr.select(F.col("doc_id").alias("doc_b")))
        .where(F.col("doc_a") < F.col("doc_b"))
    )
    bm = _overlap_bitmask(cand, postings, tok_ids, n_vocab).collect()
    ia = _overlap_int_arrays(cand, postings, tok_ids).collect()
    bm, ia = set(map(tuple, bm)), set(map(tuple, ia))
    assert n_vocab == 130
    assert bm == ia
    assert len(bm) == 40 * 39 // 2
    assert any(r[4] > 0 for r in bm)


def test_prefix_filtered_jaccard_equals_all_pairs(spark):
    """Prefix filtering (AllPairs/PPJoin) is an exact optimization:
    the registered query must return precisely the pairs a naive
    all-pairs Jaccard finds."""
    from duckdb_gsheets_spark.operators.dedup import (
        NGRAM_JACCARD_THRESHOLD,
        _distinct_tokens,
        ngram_jaccard_pairs,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(spark, SF).collect()
    }

    docs = load_table(spark, SF, "documents").select(
        "doc_id", _distinct_tokens(F.col("text")).alias("toks")
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    ov = F.size(F.array_intersect("ta", "tb"))
    jac = F.round(
        ov.cast("double")
        / (F.size("ta") + F.size("tb") - ov).cast("double"),
        6,
    )
    naive = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
        .collect()
    }
    assert got == naive
    assert len(got) > 0


def test_prefix_filtered_containment_equals_all_pairs(spark):
    """A-side prefix indexing is an exact optimization for the
    asymmetric containment measure: the registered query must return
    precisely the pairs a naive all-pairs scan finds — including
    (short ⊂ long) pairs whose Jaccard is far below any threshold."""
    from duckdb_gsheets_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        _distinct_tokens,
        containment_pairs,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_pairs(spark, SF).collect()
    }

    docs = load_table(spark, SF, "documents").select(
        "doc_id", _distinct_tokens(F.col("text")).alias("toks")
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    ov = F.size(F.array_intersect("ta", "tb"))
    cont = F.round(ov.cast("double") / F.size("ta").cast("double"), 6)
    naive = {
        (r.doc_a, r.doc_b, r.containment)
        for r in a.crossJoin(b)
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", cont.alias("containment"))
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .collect()
    }
    assert got == naive
    assert len(got) > 0
    # Asymmetry must be visible: some pair qualifies one way only.
    pair_set = {(x, y) for (x, y, _) in got}
    assert any((y, x) not in pair_set for (x, y) in pair_set)


def test_containment_positional_filter_keeps_threshold_pairs(
    spark, tmp_path
):
    """The round-15 PPJoin positional filter on the containment
    candidate join must never drop a TRUE pair — pinned on a planted
    corpus whose qualifying pairs sit EXACTLY at the ⌈t·na⌉ overlap
    boundary (the case a mis-nudged ceil would prune): C = 4/5 = 0.8
    with t = 0.8, where the bound min(na−pa, nb−pb)+1 must still
    admit the pair's first common token row."""
    from duckdb_gsheets_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        _distinct_tokens,
        containment_pairs,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    assert CONTAINMENT_THRESHOLD == 0.8  # the boundary the corpus plants
    docs = spark.createDataFrame(
        [
            (1, "u1 a b c d"),           # C(1→2) = 4/5 = 0.8: boundary
            (2, "a b c d e f g h w x y z"),
            (3, "u2 u3 a b q"),          # C(3→·) = 2/5: below threshold
            (4, "a b c d"),              # C(4→1) = C(4→2) = 1.0
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_pairs(spark, str(tmp_path)).collect()
    }
    a = load_table(spark, str(tmp_path), "documents").select(
        "doc_id", _distinct_tokens(F.col("text")).alias("toks")
    )
    ov = F.size(F.array_intersect("ta", "tb"))
    cont = F.round(ov.cast("double") / F.size("ta").cast("double"), 6)
    naive = {
        (r.doc_a, r.doc_b, r.containment)
        for r in a.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
        .crossJoin(
            a.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", cont.alias("containment"))
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .collect()
    }
    assert got == naive
    assert (1, 2, 0.8) in got      # the exact-boundary pair survived
    assert (4, 1, 1.0) in got and (4, 2, 1.0) in got
    assert all(d != 3 for (d, _, _) in got)  # below-threshold A pruned


def test_pair_cores_large_vocab_and_hot_tokens_equal_naive_scan(spark):
    """Both PPJoin pair cores on a corpus the generated testdata never
    produces: a vocabulary past ``BITMASK_MAX_VOCAB`` (so the overlap
    runs on dictionary-encoded int arrays, not bitmasks), hot tokens
    past ``PPJOIN_HOT_DF`` (the salted join branch) next to shared rare
    tokens (the plain branch), and planted pairs exactly at the
    thresholds: J = 6/8 = 0.75 and C = 4/5 = 0.8, plus near misses
    just below each. Each core must equal a naive crossJoin +
    array_intersect scan."""
    from duckdb_gsheets_spark.operators.dedup import (
        BITMASK_MAX_VOCAB,
        CONTAINMENT_THRESHOLD,
        NGRAM_JACCARD_THRESHOLD,
        PPJOIN_HOT_DF,
        _containment_pairs_from,
        _jaccard_pairs_from,
    )

    assert (NGRAM_JACCARD_THRESHOLD, CONTAINMENT_THRESHOLD) == (0.75, 0.8)
    hot = [f"hot{i}" for i in range(4)]
    # 300 background docs: the four hot tokens plus 17 tokens of their
    # own -> 5,104 distinct tokens, each hot token at df >= 300.
    docs = [(i, hot + [f"u{i}_{j}" for j in range(17)]) for i in range(300)]
    s, r, q, p = (
        [f"{c}{j}" for j in range(1, 6)] for c in ("s", "r", "q", "p")
    )
    docs += [
        (1000, ["hot0", *s, "a"]),         # J(1000, 1001) = 6/8 = 0.75
        (1001, ["hot0", *s, "b"]),
        (1002, [*r, "c"]),                 # J = 5/7, C = 5/6
        (1003, [*r, "d"]),
        (1004, [*q[:4], "e"]),             # C(1004 -> 1005) = 4/5 = 0.8
        (1005, [*q[:4], "f1", "f2", "f3", "f4", "f5", "f6"]),
        (1006, [*p[:3], "g"]),             # C(1006 -> 1007) = 3/4
        (1007, [*p[:3], "h1", "h2", "h3", "h4"]),
        (1008, [*hot, "k"]),               # pairs only through hot tokens
        (1009, list(hot)),
    ]
    toks_arr = spark.createDataFrame(
        [(d, t, len(t)) for d, t in docs],
        "doc_id long, toks array<string>, n_tokens int",
    )
    postings = toks_arr.select("doc_id", F.explode("toks").alias("tok"))
    dfs = [r["count"] for r in postings.groupBy("tok").count().collect()]
    assert len(dfs) > BITMASK_MAX_VOCAB
    assert max(dfs) > PPJOIN_HOT_DF
    assert any(1 < d <= PPJOIN_HOT_DF for d in dfs)

    a = toks_arr.selectExpr("doc_id AS doc_a", "toks AS ta")
    b = toks_arr.selectExpr("doc_id AS doc_b", "toks AS tb")
    ov = F.size(F.array_intersect("ta", "tb")).cast("double")
    na, nb = F.size("ta"), F.size("tb")
    jac = F.round(ov / (na + nb - ov), 6)
    cont = F.round(ov / na.cast("double"), 6)
    pairs = a.crossJoin(b)
    naive_j = {
        (x.doc_a, x.doc_b, x.j)
        for x in pairs.where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("j"))
        .where(F.col("j") >= NGRAM_JACCARD_THRESHOLD)
        .collect()
    }
    naive_c = {
        (x.doc_a, x.doc_b, x.na, x.nb, x.c)
        for x in pairs.where(F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a", "doc_b", na.alias("na"), nb.alias("nb"), cont.alias("c")
        )
        .where(F.col("c") >= CONTAINMENT_THRESHOLD)
        .collect()
    }
    got_j = {
        (x.doc_a, x.doc_b, x.jaccard)
        for x in _jaccard_pairs_from(toks_arr).collect()
    }
    got_c = {
        (x.doc_a, x.doc_b, x.n_tokens_a, x.n_tokens_b, x.containment)
        for x in _containment_pairs_from(toks_arr).collect()
    }
    assert got_j == naive_j
    assert got_c == naive_c
    assert {(1000, 1001, 0.75), (1008, 1009, 0.8)} <= got_j
    assert not any(x[:2] == (1002, 1003) for x in got_j)
    assert {(1004, 1005, 5, 10, 0.8), (1008, 0, 5, 21, 0.8)} <= got_c
    assert not any(x[:2] == (1006, 1007) for x in got_c)


def test_bigram_topk_matches_positional_join(spark):
    """The narrow HOF bigram build must agree with an independent
    formulation: posexplode the token stream and self-join adjacent
    positions."""
    from duckdb_gsheets_spark.functions import text as T
    from duckdb_gsheets_spark.operators.text import text_bigram_topk
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.bigram, r.bigram_count, r.doc_freq)
        for r in text_bigram_topk(spark, SF).collect()
    }
    assert len(got) == 25

    docs = (
        load_table(spark, SF, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", T.tokens(F.lower(F.col("text"))).alias("toks"))
    )
    pos = docs.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    a = pos.select("doc_id", "pos", F.col("tok").alias("t1"))
    b = pos.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("tok").alias("t2")
    )
    joined = a.join(b, ["doc_id", "pos"]).select(
        "doc_id", F.concat_ws(" ", "t1", "t2").alias("bigram")
    )
    naive = {
        (r.bigram, r.bigram_count, r.doc_freq)
        for r in joined.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("bigram_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("bigram_count"), "bigram")
        .limit(25)
        .collect()
    }
    assert got == naive


def test_quality_deciles_partition_corpus(spark):
    """Deciles must tile the corpus: every doc in exactly one band,
    bands ordered by score (band i's min ≥ band i+1's max), and the
    exact avg inside [min, max]."""
    from duckdb_gsheets_spark.operators.curation import quality_deciles
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = {r.decile: r for r in quality_deciles(spark, SF).collect()}
    n_docs = (
        load_table(spark, SF, "documents")
        .where(F.col("text").isNotNull())
        .count()
    )
    assert sum(r.n_docs for r in rows.values()) == n_docs
    assert set(rows) <= set(range(1, 11)) and 1 in rows
    for d, r in rows.items():
        assert r.min_quality <= r.avg_quality <= r.max_quality
        if d + 1 in rows:
            assert r.min_quality >= rows[d + 1].max_quality


def test_ann_recall_report_matches_direct_recount(spark):
    """The recall report must equal a direct Python recount of the
    overlap between the registered exact and approximate rankings."""
    from duckdb_gsheets_spark.operators.similarity import (
        TOPK_K,
        ann_cosine_topk,
        ann_ivf_topk,
        ann_lsh_topk,
        ann_pq_adc_topk,
        ann_recall_report,
    )

    got = {r.method: r for r in ann_recall_report(spark, SF).collect()}
    assert set(got) == {"lsh", "ivf", "pq"}
    exact = {
        (r.vec_a, r.vec_b) for r in ann_cosine_topk(spark, SF).collect()
    }
    queries = {a for a, _ in exact}
    for method, fn in (
        ("lsh", ann_lsh_topk),
        ("ivf", ann_ivf_topk),
        ("pq", ann_pq_adc_topk),
    ):
        approx = {(r.vec_a, r.vec_b) for r in fn(spark, SF).collect()}
        per_q = {
            q: len({p for p in exact & approx if p[0] == q})
            for q in queries
        }
        r = got[method]
        assert r.n_queries == len(queries)
        assert r.mean_recall == round(
            sum(per_q.values()) / (len(queries) * TOPK_K), 6
        )
        assert r.min_recall == round(min(per_q.values()) / TOPK_K, 6)
        assert r.n_perfect == sum(
            1 for v in per_q.values() if v == TOPK_K
        )


def test_minhash_calibration_tracks_exact_jaccard(spark):
    """The sketch must be calibrated: per estimate bucket, mean exact
    Jaccard increases with the estimate, and the mean absolute
    estimation error stays inside the 16-permutation error envelope
    (std ≤ 1/(2·√16) = 0.125; generous 2× slack on the mean)."""
    from duckdb_gsheets_spark.operators.dedup import minhash_calibration

    rows = sorted(
        minhash_calibration(spark, SF).collect(),
        key=lambda r: r.est_bucket,
    )
    assert rows
    for r in rows:
        assert r.n_pairs > 0
        assert 0.0 <= r.avg_estimate <= 1.0
        assert 0.0 <= r.avg_exact <= 1.0
        assert r.mean_abs_err <= 0.25
    for a, b in zip(rows, rows[1:]):
        assert a.avg_exact <= b.avg_exact
        assert a.avg_estimate < b.avg_estimate


def test_simhash_calibration_decreases_with_hamming(spark):
    """Closer signatures must mean more-similar token sets: average
    exact Jaccard at Hamming 0 dominates the highest observed
    distance, and all stats stay inside [0, 1]."""
    from duckdb_gsheets_spark.operators.dedup import simhash_calibration

    rows = sorted(
        simhash_calibration(spark, SF).collect(), key=lambda r: r.hamming
    )
    assert rows and rows[0].hamming == 0
    for r in rows:
        assert r.n_pairs > 0
        assert 0.0 <= r.min_jaccard <= r.avg_jaccard <= r.max_jaccard <= 1.0
    if len(rows) > 1:
        assert rows[0].avg_jaccard >= rows[-1].avg_jaccard


def test_rfm_segments_tile_customers(spark):
    """RFM invariants: scores in 1..5, every ordering customer in
    exactly one segment, and the recency dimension (near-unique
    dates) splits into roughly balanced quintiles."""
    from duckdb_gsheets_spark.operators.tpch_extra import orders_rfm_segments
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = orders_rfm_segments(spark, SF).collect()
    n_cust = (
        load_table(spark, SF, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert 1 <= r.r_score <= 5
        assert 1 <= r.f_score <= 5
        assert 1 <= r.m_score <= 5
        assert r.total_monetary > 0
    by_r = {}
    for r in rows:
        by_r[r.r_score] = by_r.get(r.r_score, 0) + r.n_customers
    for score, cnt in by_r.items():
        assert abs(cnt - n_cust / 5) <= 0.25 * n_cust / 5 + 5, (score, cnt)


def test_weighted_sample_matches_python_recompute(spark):
    """The A-ES selection must equal a pure-Python recompute of the
    same key formula (hashlib md5, math.pow, 1e-9 rounding) — at most
    one boundary doc may differ from libm pow ulp drift — and be
    deterministic across runs."""
    import hashlib

    from duckdb_gsheets_spark.functions import text as T
    from duckdb_gsheets_spark.operators.sampling import (
        WEIGHT_FLOOR,
        WEIGHTED_K,
        sample_weighted_topk,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = sample_weighted_topk(spark, SF).collect()
    assert len(rows) == WEIGHTED_K

    docs = (
        load_table(spark, SF, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", T.quality_score(F.col("text")).alias("q"))
        .collect()
    )
    keyed = []
    for r in docs:
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8]
        u = (int(h, 16) + 1) / 4294967296.0
        w = max(r.q, WEIGHT_FLOOR)
        keyed.append((round(u ** (1.0 / w), 9), -r.doc_id, r.doc_id))
    expected = {
        d for _, _, d in sorted(keyed, reverse=True)[:WEIGHTED_K]
    }
    got = {r.doc_id for r in rows}
    assert len(got & expected) >= WEIGHTED_K - 1
    again = {r.doc_id for r in sample_weighted_topk(spark, SF).collect()}
    assert again == got


def test_logreg_probe_matches_numpy(spark):
    """The distributed GD probe must match a single-machine numpy
    run of the same iterations/learning rate: identical confusion
    matrix, mean probabilities within the float-summation drift the
    1e-6 rounding grid absorbs."""
    import numpy as np

    from duckdb_gsheets_spark.operators.ml import (
        LOGREG_ITERS,
        LOGREG_LR,
        logreg_probe,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.y_true, r.y_pred): (r.n, r.avg_prob)
        for r in logreg_probe(spark, SF).collect()
    }

    rows = load_table(spark, SF, "embeddings").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    y = np.array([r.label % 2 for r in rows], dtype=np.float64)
    n = len(y)
    w, b = np.zeros(X.shape[1]), 0.0
    for _ in range(LOGREG_ITERS):
        r = 1.0 / (1.0 + np.exp(-(X @ w + b))) - y
        w = w - LOGREG_LR * (X.T @ r) / n
        b = b - LOGREG_LR * r.sum() / n
    p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
    pred = (p >= 0.5).astype(int)
    for yt in (0, 1):
        for yp in (0, 1):
            m = (y == yt) & (pred == yp)
            if not m.any():
                assert (yt, yp) not in got
                continue
            cnt, avg = got[(yt, yp)]
            assert cnt == int(m.sum())
            assert abs(avg - float(p[m].mean())) < 2e-6


def test_embedding_quantize_matches_numpy(spark):
    """SQ8 error report must match an independent numpy recompute of
    the same absmax quantizer, and every per-element error must be
    bounded by half a quantization step."""
    import numpy as np

    from duckdb_gsheets_spark.operators.similarity import (
        SQ_LEVELS,
        embedding_quantize,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {r.label: r for r in embedding_quantize(spark, SF).collect()}

    rows = load_table(spark, SF, "embeddings").collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    labels = np.array([r.label for r in rows])
    a = np.abs(x).max(axis=0)
    safe = np.where(a == 0, 1.0, a)
    err = np.where(
        a == 0, 0.0, np.round(x * SQ_LEVELS / safe) * safe / SQ_LEVELS - x
    )
    e2 = np.round(err * err * 1e12).astype(np.int64)
    ab = np.round(np.abs(err) * 1e9).astype(np.int64)
    # Half-step bound: |err| <= a/(2*127) plus one grid cell of slack.
    assert (np.abs(err) <= a / (2 * SQ_LEVELS) + 1e-9).all()
    for lab in np.unique(labels):
        m = labels == lab
        assert got[lab].n_vectors == int(m.sum())
        assert got[lab].mse == round(
            float(e2[m].sum()) / (1e12 * err[m].size), 6
        )
        assert got[lab].max_abs_err == round(float(ab[m].max()) / 1e9, 6)


def test_vocab_coverage_monotone_to_one(spark):
    """Coverage must be nondecreasing in vocab size and reach exactly
    1.0 at the full-vocabulary checkpoint."""
    from duckdb_gsheets_spark.operators.curation import vocab_coverage_curve

    rows = sorted(
        vocab_coverage_curve(spark, SF).collect(),
        key=lambda r: r.vocab_size,
    )
    assert rows
    assert all(
        a.coverage <= b.coverage and a.cum_tokens <= b.cum_tokens
        for a, b in zip(rows, rows[1:])
    )
    assert rows[-1].coverage == 1.0
    assert rows[-1].cum_tokens == rows[-1].total_tokens


def test_corpus_resample_flattens_languages(spark):
    """Languages at or under the equal-share token budget keep every
    document; over-represented ones are down-sampled; the decision is
    deterministic across runs."""
    from duckdb_gsheets_spark.operators.curation import corpus_resample

    rows = corpus_resample(spark, SF).collect()
    total = sum(r.lang_tokens for r in rows)
    budget = total / len(rows)
    assert any(r.n_docs_kept < r.n_docs_in for r in rows)
    for r in rows:
        assert 0 < r.n_docs_kept <= r.n_docs_in
        if r.lang_tokens <= budget:
            assert r.n_docs_kept == r.n_docs_in
    again = {(r.lang, r.n_docs_kept) for r in corpus_resample(spark, SF).collect()}
    assert again == {(r.lang, r.n_docs_kept) for r in rows}


def test_pii_scrub_detects_and_masks_planted(spark):
    from duckdb_gsheets_spark.functions.text import (
        PII_EMAIL_PATTERN,
        PII_IP_PATTERN,
        PII_PHONE_PATTERN,
        pii_count,
        pii_scrubbed,
    )

    df = spark.createDataFrame(
        [
            (1, "contact alice@example.com or +1 555-123-4567 via 10.0.0.1 now"),
            (2, "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    c = F.col("text")
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            pii_count(c, PII_EMAIL_PATTERN).alias("n_emails"),
            pii_count(c, PII_PHONE_PATTERN).alias("n_phones"),
            pii_count(c, PII_IP_PATTERN).alias("n_ips"),
            pii_scrubbed(c).alias("scrubbed"),
        ).collect()
    }
    assert (rows[1].n_emails, rows[1].n_phones, rows[1].n_ips) == (1, 1, 1)
    assert "alice@example.com" not in rows[1].scrubbed
    assert "555-123-4567" not in rows[1].scrubbed
    assert "10.0.0.1" not in rows[1].scrubbed
    assert rows[1].scrubbed.count("<pii>") == 3
    assert (rows[2].n_emails, rows[2].n_phones, rows[2].n_ips) == (0, 0, 0)
    assert rows[2].scrubbed == "no pii here at all"


def test_repetition_ratio_orders_docs(spark, tmp_path):
    """A looping doc must score far higher than a non-repetitive one,
    and a short (<3 token) doc scores exactly 0."""
    import os

    from duckdb_gsheets_spark.operators.text import text_repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "spam ham eggs spam ham eggs spam ham eggs spam ham eggs", "en", "t", 1),
            (2, "one two three four five six seven eight nine ten", "en", "t", 1),
            (3, "too short", "en", "t", 1),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    rows = {r.doc_id: r for r in text_repetition_ratio(spark, sf_dir).collect()}
    assert rows[1].repetition_ratio > 0.6
    assert rows[2].repetition_ratio == 0.0
    assert rows[3].repetition_ratio == 0.0 and rows[3].grams_total == 0


def test_connected_components_transitive_chain(spark):
    """A–B and B–C edges (no A–C) must collapse into one cluster with
    min-id labeling; isolated vertices stay singletons."""
    from duckdb_gsheets_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], ["doc_a", "doc_b"]
    )
    vertices = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 7, 10, 11, 42)], ["doc_id"]
    )
    comp = {
        r.doc_id: r.comp for r in connected_components(edges, vertices).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 42: 42}


def _py_lrs_reference(toks_by_doc, key_cap, min_match, topk):
    """Single-process reference for the two-pass engine: ONE suffix
    sort with keys capped at ``key_cap`` (= LRS_EXT_CAP — the proof
    in _lrs_candidates' docstring shows the engine's capped-spine +
    tied-extension algebra equals this one-stage sort exactly),
    adjacent-pair LCPs, distinct (len, substring), (len desc,
    substring) top-K."""
    suffixes = []  # (key_string, doc_id, pos, key_tokens)
    for doc_id, toks in toks_by_doc.items():
        for p in range(len(toks)):
            key = toks[p : p + key_cap]
            suffixes.append((" ".join(key), doc_id, p + 1, key))
    suffixes.sort(key=lambda s: (s[0], s[1], s[2]))

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    cands = set()
    for (_, _, _, pk), (_, _, _, k) in zip(suffixes, suffixes[1:]):
        ln = lcp(pk, k)
        if ln >= min_match:
            cands.add((ln, " ".join(k[:ln])))
    return sorted(cands, key=lambda c: (-c[0], c[1]))[:topk]


def test_dedup_longest_substring_matches_python_suffix_sort(spark):
    """Suffix-LCP top-K longest repeated substrings against a direct
    Python recompute: a real (single-process) suffix sort at the
    LRS_EXT_CAP reporting width, adjacent-pair LCPs, the same
    (len desc, substring) top-K — and occurrence counts re-derived
    INDEPENDENTLY from the raw token streams (window compare, not the
    suffix keys), so a keying bug on the engine side cannot
    self-confirm."""
    import re

    from duckdb_gsheets_spark.operators.dedup import (
        LRS_EXT_CAP,
        LRS_MIN_MATCH,
        LRS_TOPK,
        dedup_longest_substring,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = sorted(
        (r.match_len, r.substring, r.n_occurrences, r.n_docs)
        for r in dedup_longest_substring(spark, SF).collect()
    )

    toks_by_doc = {
        r.doc_id: re.split(r"\s+", r.text.strip())
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .collect()
        if r.text is not None
    }
    topk = _py_lrs_reference(toks_by_doc, LRS_EXT_CAP, LRS_MIN_MATCH, LRS_TOPK)

    expected = []
    for ln, sub in topk:
        sub_toks = sub.split(" ")
        n_occ = n_docs = 0
        for doc_id, toks in toks_by_doc.items():
            hits = sum(
                1
                for p in range(len(toks) - ln + 1)
                if toks[p : p + ln] == sub_toks
            )
            n_occ += hits
            n_docs += 1 if hits else 0
        expected.append((ln, sub, n_occ, n_docs))
    assert got == sorted(expected)
    # every reported repeat really repeats, in >= 1 doc
    assert all(occ >= 2 and nd >= 1 for _, _, occ, nd in got)


def _lrs_cands_of(spark, texts):
    from duckdb_gsheets_spark.operators.dedup import (
        _lrs_candidates,
        _lrs_ext_from,
        _lrs_suffix_table_from,
    )

    docs = spark.createDataFrame(texts, "doc_id long, text string")
    ranged = _lrs_suffix_table_from(docs)
    ext = _lrs_ext_from(ranged, docs)
    return sorted(
        (r.l, r.substring) for r in _lrs_candidates(ranged, ext).collect()
    )


def test_lrs_candidates_on_adversarial_corpus(spark):
    """Suffix/LCP machinery against a hostile in-memory corpus — the
    shapes the generated tables never contain: empty strings (split
    yields ['']), single tokens, a document shorter than the spine
    cap that IS a prefix of another, a whole-document repeat longer
    than the spine cap (must report its TRUE length via the tied-rows
    extension), unicode tokens, and an all-equal token run. Pinned
    against the same Python suffix sort as the corpus test."""
    import re

    from duckdb_gsheets_spark.operators.dedup import (
        LRS_CAP,
        LRS_EXT_CAP,
        LRS_MIN_MATCH,
        LRS_TOPK,
    )

    long_repeat = " ".join(f"w{i}" for i in range(LRS_CAP + 5))
    texts = [
        (1, ""),                       # split -> ['']
        (2, "solo"),                   # single token
        (3, "a b c d e"),              # prefix of doc 4's text
        (4, "a b c d e f g h"),        # superstring
        (5, long_repeat),              # whole-doc repeat, > spine cap
        (6, long_repeat),
        (7, "ü ü ü ü ü ü"),            # unicode + all-equal run
        (8, None),                     # NULL text drops out
    ]
    got = _lrs_cands_of(spark, texts)

    toks_by_doc = {
        doc_id: re.split(r"\s+", text.strip())
        for doc_id, text in texts
        if text is not None
    }
    topk = _py_lrs_reference(toks_by_doc, LRS_EXT_CAP, LRS_MIN_MATCH, LRS_TOPK)
    assert got == sorted(topk)
    # the whole-doc repeat reports its TRUE length (> the spine cap)
    assert max(l for l, _ in got) == LRS_CAP + 5


def test_lrs_planted_long_repeat_reports_true_length(spark):
    """A planted 40-token repeat — ABOVE the 12-token spine cap and
    below the LRS_EXT_CAP reporting ceiling, the Lee et al. 2022
    operating range — reports match_len == 40 with the exact
    substring, plus exact intermediate candidates from the repeat's
    internal suffix adjacencies."""
    from duckdb_gsheets_spark.operators.dedup import LRS_CAP

    repeat = " ".join(f"r{i}" for i in range(40))
    texts = [
        (1, "alpha beta " + repeat + " gamma delta"),
        (2, "unrelated filler tokens only here"),
        (3, repeat + " epsilon zeta"),
    ]
    got = _lrs_cands_of(spark, texts)
    assert max(l for l, _ in got) == 40
    assert (40, repeat) in got
    assert all(l > LRS_CAP for l, _ in got)  # nothing shorter competes


def test_lrs_repeat_beyond_ext_cap_reports_ceiling(spark):
    """A repeat LONGER than LRS_EXT_CAP reports AS the ceiling — the
    documented truncation point of the extension pass (both engine
    and oracle share it)."""
    from duckdb_gsheets_spark.operators.dedup import LRS_EXT_CAP

    huge = " ".join(f"t{i}" for i in range(LRS_EXT_CAP + 30))
    texts = [(1, huge), (2, huge)]
    got = _lrs_cands_of(spark, texts)
    assert max(l for l, _ in got) == LRS_EXT_CAP


def test_lrs_occurrence_probe_respects_token_boundaries(spark):
    """The slim string spine probes candidate occurrences with a
    token-boundary prefix test (ks == substring OR ks startswith
    substring + ' '). A boundary-less startswith would falsely count
    a suffix whose next token merely EXTENDS the candidate's last
    token character-wise ('... c4 ab ...' matching candidate
    '... c4 a') — this corpus plants exactly that trap and pins the
    full occurrence/document counts."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.operators.dedup import (
        _lrs_candidates,
        _lrs_ext_from,
        _lrs_occurrences,
        _lrs_suffix_table_from,
    )

    texts = [
        (1, "c1 c2 c3 c4 a u1 u2"),
        (2, "v1 c1 c2 c3 c4 a"),
        (3, "c1 c2 c3 c4 ab w1"),  # 'ab' must NOT count as 'a'
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    ranged = _lrs_suffix_table_from(docs)
    ext = _lrs_ext_from(ranged, docs)
    cands = _lrs_candidates(ranged, ext)
    got = sorted(
        map(
            tuple,
            _lrs_occurrences(ranged, ext, cands)
            .groupBy("l", "substring")
            .agg(
                F.count(F.lit(1)).alias("n_occ"),
                F.countDistinct("doc_id").alias("n_docs"),
            )
            .collect(),
        )
    )
    assert got == [
        (4, "c1 c2 c3 c4", 3, 3),
        (4, "c2 c3 c4 a", 2, 2),
        (5, "c1 c2 c3 c4 a", 2, 2),
    ]


def test_lrs_table_cache_keeps_latest_per_sf_dir(spark, tmp_path):
    """The (session, corpus) memo for the suffix spine + extension
    table evicts stale entries for the same sf_dir on insert: after
    building against two different mtimes of the SAME corpus dir, the
    cache holds exactly ONE entry for that dir (keep-latest), so a
    session sweeping rewritten corpora cannot pin every prior
    corpus's checkpoint blocks."""
    import os

    from duckdb_gsheets_spark.operators import dedup

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string"
    )
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    dedup._lrs_tables(spark, sf)
    # bump the corpus mtime -> new cache key, old entry must evict
    os.utime(f"{sf}/documents.parquet", (1, 1))
    dedup._lrs_tables(spark, sf)
    assert len([k for k in dedup._LRS_SPINE_CACHE if k[1] == sf]) == 1


def test_token_dictionary_plan_roots_on_checkpoint(spark):
    """The PPJoin verify's tok→tid dictionary assigns ids with
    ``monotonically_increasing_id``, which is nondeterministic across
    re-evaluations; BOTH verify sides join the dictionary, so its
    correctness depends on the frame being MATERIALIZED exactly once.
    Pin the invariant: the returned plan must root on the checkpointed
    RDD (no live lineage back to the id assignment), and two separate
    evaluations must see identical injective ids. Fails if a refactor
    drops the eager localCheckpoint."""
    from duckdb_gsheets_spark.operators.dedup import _token_dictionary

    dfs = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], "tok string"
    )
    d = _token_dictionary(dfs)
    plan = d._jdf.queryExecution().optimizedPlan().toString()
    assert ("LogicalRDD" in plan) or ("ExistingRDD" in plan), plan
    assert "monotonically_increasing_id" not in plan, plan
    first = {r.tok: r.tid for r in d.collect()}
    second = {r.tok: r.tid for r in d.collect()}
    assert first == second
    assert len(set(first.values())) == 3  # injective


def test_pipeline_exactsubstr_corpus_on_planted_corpus(spark, tmp_path):
    """End-to-end scrub pipeline on a hand-computable corpus with
    heavily OVERLAPPING occurrences: two docs in source 'a' share a
    40-token repeat, so the top-10 candidates are the repeat's
    suffixes (lengths 40..31) and their spans in each doc all overlap
    into ONE island [1,40]. The exact interval-union cut is 40 tokens
    per doc — NOT the Σ match_len upper bound (355), which would cap
    at n_tokens and wrongly scrub doc 2's tail too. Doc 1 (exactly
    the repeat) scrubs away; doc 2 keeps its 2 tail tokens; source
    'b' is untouched."""
    from duckdb_gsheets_spark.operators.dedup import (
        pipeline_exactsubstr_corpus,
    )

    sf = str(tmp_path)
    repeat = " ".join(f"r{i}" for i in range(40))
    spark.createDataFrame(
        [
            (1, repeat, "en", "a"),
            (2, repeat + " tail1 tail2", "en", "a"),
            (3, " ".join(f"u{i}" for i in range(8)), "en", "b"),
            # repeat TWICE with a 3-token gap: two DISJOINT islands
            # [1,40] and [44,83] -> cut 80 of 83, the gap survives
            (4, repeat + " gap1 gap2 gap3 " + repeat, "en", "c"),
        ],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        r.source: r
        for r in pipeline_exactsubstr_corpus(spark, sf).collect()
    }
    a, b, c = got["a"], got["b"], got["c"]
    assert (a.n_docs, a.n_docs_scrubbed, a.tokens_in) == (2, 2, 82)
    # union of spans [1,40],[2,40],...,[10,40] = [1,40] -> 40 tokens
    # cut per doc; doc 2's tail1/tail2 survive (Σl would be 355/doc)
    assert (a.tokens_scrubbed, a.tokens_out) == (80, 2)
    assert a.token_retention == round(2 / 82, 6)
    assert (b.n_docs, b.n_docs_scrubbed) == (1, 0)
    assert (b.tokens_in, b.tokens_out, b.token_retention) == (8, 8, 1.0)
    assert (c.tokens_in, c.tokens_scrubbed, c.tokens_out) == (83, 80, 3)
    assert c.token_retention == round(3 / 83, 6)


def test_pipeline_exactsubstr_apply_scrubbed_digests(spark, tmp_path):
    """The APPLY step on the same planted corpus: the emitted digest
    must be md5 of exactly the tokens a left-to-right scrub retains —
    doc 1 (the bare 40-token repeat) scrubs to EMPTY (md5 of ''),
    doc 2 keeps its two tail tokens, doc 4 keeps only the 3-token gap
    between its two repeat islands, and untouched doc 3 is absent
    (a real scrub passes it through unchanged)."""
    import hashlib

    from duckdb_gsheets_spark.operators.dedup import (
        pipeline_exactsubstr_apply,
    )

    sf = str(tmp_path)
    repeat = " ".join(f"r{i}" for i in range(40))
    spark.createDataFrame(
        [
            (1, repeat, "en", "a"),
            (2, repeat + " tail1 tail2", "en", "a"),
            (3, " ".join(f"u{i}" for i in range(8)), "en", "b"),
            (4, repeat + " gap1 gap2 gap3 " + repeat, "en", "c"),
        ],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        r.doc_id: r for r in pipeline_exactsubstr_apply(spark, sf).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert set(got) == {1, 2, 4}
    assert (got[1].n_tokens_in, got[1].tokens_removed, got[1].n_tokens_out) \
        == (40, 40, 0)
    assert got[1].scrubbed_digest == md5("")
    assert (got[2].n_tokens_in, got[2].tokens_removed, got[2].n_tokens_out) \
        == (42, 40, 2)
    assert got[2].scrubbed_digest == md5("tail1 tail2")
    assert (got[4].n_tokens_in, got[4].tokens_removed, got[4].n_tokens_out) \
        == (83, 80, 3)
    assert got[4].scrubbed_digest == md5("gap1 gap2 gap3")


def test_exact_baseline_cache_keeps_latest_per_sf_dir(spark, tmp_path):
    """Same keep-latest-per-sf_dir eviction contract for the shared
    exact-ANN baseline memo in operators/similarity.py."""
    import os

    from duckdb_gsheets_spark.operators import similarity

    sf = str(tmp_path)
    emb = spark.createDataFrame(
        [
            (i, [float(i), float(i + 1), 1.0], i % 2)
            for i in range(similarity.N_QUERY_VECTORS + 4)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    emb.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    similarity._exact_baseline_ckpt(spark, sf)
    os.utime(f"{sf}/embeddings.parquet", (1, 1))
    similarity._exact_baseline_ckpt(spark, sf)
    assert len([k for k in similarity._EXACT_BASELINE_CACHE if k[1] == sf]) == 1


def test_dedup_clusters_on_planted_corpus(spark, tmp_path):
    """End-to-end: a chain of near-duplicates clusters transitively, the
    survivor is the min doc_id, unrelated docs stay singletons."""
    import os

    from duckdb_gsheets_spark.operators.dedup import dedup_clusters

    base = BASE
    chain1 = base.replace("planner", "optimizer")
    chain2 = chain1.replace("driver", "coordinator")
    rows = [
        (1, base), (2, chain1), (3, chain2), (9, UNRELATED),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    out = {r.doc_id: r for r in dedup_clusters(spark, sf_dir).collect()}
    assert len(out) == 4
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[1].cluster_size == 3
    assert out[1].is_survivor and not out[2].is_survivor
    assert out[9].cluster_id == 9 and out[9].cluster_size == 1 and out[9].is_survivor


def test_approx_quantiles_are_valid_order_statistics(spark):
    """percentile_approx (accuracy 10000) interpolates nothing — it
    returns a data point. At test sizes the sketch is effectively
    exact, so each output must land inside the [lower, higher]
    neighboring order statistics of the true distribution (the exact
    twin events_value_quantiles interpolates, so its p99 legitimately
    differs in a thin tail — that's definitional, not error)."""
    import numpy as np

    from duckdb_gsheets_spark.operators.events import events_approx_quantiles
    from duckdb_gsheets_spark.plans.catalog import load_table

    vals = {}
    for r in load_table(spark, SF, "events").select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    approx = {r.event_type: r for r in events_approx_quantiles(spark, SF).collect()}
    assert set(vals) == set(approx)
    for et, xs in vals.items():
        arr = np.array(xs)
        for q, field in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            lo = float(np.quantile(arr, q, method="lower"))
            hi = float(np.quantile(arr, q, method="higher"))
            got = getattr(approx[et], field)
            assert lo - 1e-6 <= got <= hi + 1e-6, (et, field, lo, got, hi)


def test_gapfill_is_dense_and_carries_forward(spark):
    from duckdb_gsheets_spark.operators.events import (
        EVENT_TYPES,
        events_gapfill_locf,
    )

    rows = events_gapfill_locf(spark, SF).collect()
    hours = {r.hour_start for r in rows}
    # Dense grid: every (hour, type) cell exists exactly once.
    assert len(rows) == len(hours) * len(EVENT_TYPES)
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.hour_start)
        last_seen = None
        for r in series:
            if r.is_gap:
                assert r.n_events == 0
                assert r.avg_value_locf == last_seen
            else:
                assert r.n_events > 0
                last_seen = r.avg_value_locf


def test_histogram_partitions_all_events(spark):
    from duckdb_gsheets_spark.operators.events import events_histogram
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = events_histogram(spark, SF).collect()
    assert all(0 <= r.bin <= 9 for r in rows)
    total = load_table(spark, SF, "events").count()
    assert sum(r.n_events for r in rows) == total


def test_anomaly_zscore_flags_only_tails(spark):
    from duckdb_gsheets_spark.operators.events import (
        ZSCORE_THRESHOLD,
        events_anomaly_zscore,
    )

    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = events_anomaly_zscore(spark, SF).collect()
    assert rows, "uniform tails should produce some outliers"
    assert all(abs(r.zscore) >= ZSCORE_THRESHOLD for r in rows)
    # Recompute the flags in plain Python from the raw table.
    raw = load_table(spark, SF, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    by_type: dict[str, list] = {}
    for r in raw:
        by_type.setdefault(r.event_type, []).append(r)
    expected = set()
    for series in by_type.values():
        scaled = [round(r.value * 100) for r in series]
        n, s1 = len(scaled), sum(scaled)
        s2 = sum(v * v for v in scaled)
        var_num = n * s2 - s1 * s1
        if var_num <= 0:
            continue
        for r, v in zip(series, scaled):
            if abs(round((n * v - s1) / (var_num**0.5), 6)) >= ZSCORE_THRESHOLD:
                expected.add(r.event_id)
    assert {r.event_id for r in rows} == expected


def test_stratified_sample_rates_and_determinism(spark):
    from duckdb_gsheets_spark.operators.sampling import sample_stratified
    from duckdb_gsheets_spark.plans.catalog import load_table

    first = {r.doc_id: r.lang for r in sample_stratified(spark, SF).collect()}
    again = {r.doc_id: r.lang for r in sample_stratified(spark, SF).collect()}
    assert first == again  # same sample on every run
    docs = load_table(spark, SF, "documents").select("doc_id", "lang").collect()
    totals: dict[str, int] = {}
    for r in docs:
        totals[r.lang] = totals.get(r.lang, 0) + 1
    kept: dict[str, int] = {}
    for lang in first.values():
        kept[lang] = kept.get(lang, 0) + 1
    # en keeps ~25%, others ~50%; generous tolerance at tiny SF.
    assert 0.05 < kept.get("en", 0) / totals["en"] < 0.5
    for lang in totals:
        if lang != "en" and totals[lang] >= 20:
            assert 0.25 < kept.get(lang, 0) / totals[lang] < 0.75


def test_bottom_k_keeps_globally_smallest_keys(spark):
    from duckdb_gsheets_spark.operators.sampling import (
        SAMPLE_K,
        sample_bottom_k,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    sample = sample_bottom_k(spark, SF).collect()
    assert len(sample) == min(
        SAMPLE_K, load_table(spark, SF, "documents").count()
    )
    kept_max = max(r.sample_key for r in sample)
    all_keys = sorted(
        r.sample_key
        for r in load_table(spark, SF, "documents")
        .selectExpr("md5(cast(doc_id as string)) as sample_key")
        .collect()
    )
    assert kept_max == all_keys[len(sample) - 1]


def test_gopher_rules_consistent_and_discriminating(spark):
    from duckdb_gsheets_spark.operators.text import text_gopher_quality

    rows = text_gopher_quality(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.passes == int(
            r.rule_word_len and r.rule_alpha and r.rule_stopwords and r.rule_symbols
        )
    # The corpus is multilingual, so the en-stopword rule must split it.
    outcomes = {r.passes for r in rows}
    assert outcomes == {0, 1}


def test_tfidf_scores_and_ranks_exact(spark):
    from duckdb_gsheets_spark.operators.text import (
        TFIDF_SCALE,
        text_tfidf_top_terms,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = text_tfidf_top_terms(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r.tfidf_x1e6 == (r.tf * n_docs * TFIDF_SCALE) // r.df
        by_doc.setdefault(r.doc_id, []).append(r)
    for series in by_doc.values():
        assert sorted(r.rank for r in series) == list(range(1, len(series) + 1))
        series.sort(key=lambda r: r.rank)
        scores = [r.tfidf_x1e6 for r in series]
        assert scores == sorted(scores, reverse=True)


def test_topk_per_lang_matches_python_recompute(spark):
    from duckdb_gsheets_spark.operators.text import text_topk_per_lang
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.lang, r.rank): r.doc_id
        for r in text_topk_per_lang(spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents").select(
        "lang", "doc_id", "n_chars"
    ).collect()
    by_lang: dict[str, list] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, series in by_lang.items():
        series.sort(key=lambda r: (-r.n_chars, r.doc_id))
        for i, r in enumerate(series[:3], start=1):
            assert got[(lang, i)] == r.doc_id


def test_corpus_upsert_actions(spark):
    from duckdb_gsheets_spark.operators.pipeline import corpus_upsert
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = corpus_upsert(spark, SF).collect()
    base = load_table(spark, SF, "documents").select("doc_id").collect()
    n = len(base)
    n_upd = sum(1 for r in base if r.doc_id % 7 == 0)
    actions: dict[str, int] = {}
    for r in rows:
        actions[r.merge_action] = actions.get(r.merge_action, 0) + 1
    assert actions == {
        "updated": n_upd,
        "inserted": 1,
        "unchanged": n - n_upd,
    }
    assert len(rows) == n + 1
    inserted = [r for r in rows if r.merge_action == "inserted"]
    assert inserted[0].doc_id == max(r.doc_id for r in base) + 1
    assert inserted[0].source == "cdc"


def test_corr_matches_python_recompute(spark):
    from duckdb_gsheets_spark.operators.events import events_corr_value_hour
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.event_type: (r.n, r.corr_value_hour)
        for r in events_corr_value_hour(spark, SF).collect()
    }
    raw = load_table(spark, SF, "events").selectExpr(
        "event_type",
        "cast(round(value * 100) as long) as x",
        "cast(hour(ts) as long) as y",
    ).collect()
    by_type: dict[str, list] = {}
    for r in raw:
        by_type.setdefault(r.event_type, []).append((r.x, r.y))
    for etype, pairs in by_type.items():
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        expected = round(
            (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) ** 0.5 * (n * syy - sy * sy) ** 0.5),
            6,
        )
        assert got[etype][0] == n
        assert abs(got[etype][1] - expected) < 1e-9
        assert -1.0 <= got[etype][1] <= 1.0


def test_doc_chunks_match_python_recompute(spark):
    """Chunk count, sizes and hashes against a direct Python windowing
    of the same token lists (independent of the DuckDB oracle)."""
    import hashlib
    import re

    from duckdb_gsheets_spark.operators.chunking import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        doc_chunk_tokens,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got: dict[tuple[int, int], tuple[int, str]] = {
        (r.doc_id, r.chunk_id): (r.chunk_tokens, r.chunk_hash)
        for r in doc_chunk_tokens(spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    expected_keys = set()
    for r in docs:
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip())
        n = len(toks)
        n_chunks = 1 + max(0, -(-(n - CHUNK_SIZE) // CHUNK_STRIDE)) if n > CHUNK_SIZE else 1
        for cid in range(n_chunks):
            piece = toks[cid * CHUNK_STRIDE : cid * CHUNK_STRIDE + CHUNK_SIZE]
            expected_keys.add((r.doc_id, cid))
            h = hashlib.md5(" ".join(piece).encode()).hexdigest()
            assert got[(r.doc_id, cid)] == (len(piece), h)
    assert set(got) == expected_keys
    # Overlap invariant: consecutive chunks share SIZE - STRIDE tokens.
    assert CHUNK_SIZE > CHUNK_STRIDE


def test_segment_dedup_matches_python_recompute(spark):
    import re

    from duckdb_gsheets_spark.operators.chunking import (
        SEGMENT_SIZE,
        segment_dedup_stats,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.n_segments, r.n_dup_segments, r.dup_ratio)
        for r in segment_dedup_stats(spark, SF).collect()
    }
    docs = sorted(
        (
            (r.doc_id, re.split(r"\s+", r.text.strip()))
            for r in load_table(spark, SF, "documents")
            .select("doc_id", "text")
            .collect()
            if r.text is not None
        ),
    )
    seen: set[str] = set()
    expected: dict[int, tuple[int, int]] = {}
    for doc_id, toks in docs:  # ordered by doc_id == first-occurrence order
        n_segs = -(-len(toks) // SEGMENT_SIZE)
        dups = 0
        for sid in range(n_segs):
            seg = " ".join(toks[sid * SEGMENT_SIZE : (sid + 1) * SEGMENT_SIZE])
            if seg in seen:
                dups += 1
            else:
                seen.add(seg)
        expected[doc_id] = (n_segs, dups)
    assert {d: (a, b) for d, (a, b, _) in got.items()} == expected
    for _, (n, d, ratio) in got.items():
        assert ratio == round(d / n, 6)


def test_boilerplate_removal_matches_python_recompute(spark):
    """Per-doc retention after dropping ALL occurrences of segments
    that appear in >= BOILER_MIN_DOCS distinct documents, recomputed
    directly in Python. The fixture must actually contain boilerplate
    (otherwise the drop path is untested)."""
    import re

    from duckdb_gsheets_spark.operators.chunking import (
        BOILER_MIN_DOCS,
        BOILER_SEG_SIZE,
        boilerplate_segment_removal,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (
            r.n_segments,
            r.n_boiler_segments,
            r.tokens_total,
            r.tokens_retained,
            r.retained_ratio,
        )
        for r in boilerplate_segment_removal(spark, SF).collect()
    }
    doc_segs: dict[int, list[list[str]]] = {}
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip())
        doc_segs[r.doc_id] = [
            toks[i : i + BOILER_SEG_SIZE]
            for i in range(0, len(toks), BOILER_SEG_SIZE)
        ]
    df_count: dict[str, set[int]] = {}
    for d, segs in doc_segs.items():
        for seg in segs:
            df_count.setdefault(" ".join(seg), set()).add(d)
    boiler = {s for s, ds in df_count.items() if len(ds) >= BOILER_MIN_DOCS}
    assert boiler, "fixture has no cross-doc boilerplate — test is vacuous"
    expected = {}
    for d, segs in doc_segs.items():
        total = sum(len(s) for s in segs)
        kept = sum(len(s) for s in segs if " ".join(s) not in boiler)
        nboil = sum(1 for s in segs if " ".join(s) in boiler)
        expected[d] = (len(segs), nboil, total, kept, round(kept / total, 6))
    assert got == expected
    assert any(v[1] > 0 for v in got.values())


def test_contamination_matches_python_recompute(spark):
    import re

    from duckdb_gsheets_spark.operators.chunking import (
        BENCH_MOD,
        CONTAM_N,
        contamination_ngram,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.n_matched_ngrams, r.n_bench_docs)
        for r in contamination_ngram(spark, SF).collect()
    }
    grams: dict[int, set[str]] = {}
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip())
        if len(toks) < CONTAM_N:
            continue
        grams[r.doc_id] = {
            " ".join(toks[i : i + CONTAM_N])
            for i in range(len(toks) - CONTAM_N + 1)
        }
    bench = {d: g for d, g in grams.items() if d % BENCH_MOD == 0}
    expected = {}
    for d, g in grams.items():
        if d % BENCH_MOD == 0:
            continue
        matched = set().union(*(g & bg for bg in bench.values())) if bench else set()
        ndocs = sum(1 for bg in bench.values() if g & bg)
        if matched:
            expected[d] = (len(matched), ndocs)
    assert got == expected


def test_duplicate_passages_match_python_recompute(spark):
    """Top-K duplicated passages against a direct Python sliding-window
    count of the same token lists (independent of the DuckDB oracle)."""
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.chunking import (
        PASSAGE_MIN_OCC,
        PASSAGE_N,
        TOP_PASSAGES,
        duplicate_passages,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = duplicate_passages(spark, SF).collect()
    occ: Counter[str] = Counter()
    docs: dict[str, set[int]] = {}
    first: dict[str, tuple[int, int]] = {}
    for r in sorted(
        load_table(spark, SF, "documents").select("doc_id", "text").collect(),
        key=lambda r: r.doc_id,
    ):
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip())
        for pos in range(len(toks) - PASSAGE_N + 1):
            p = " ".join(toks[pos : pos + PASSAGE_N])
            occ[p] += 1
            docs.setdefault(p, set()).add(r.doc_id)
            first.setdefault(p, (r.doc_id, pos + 1))
    dup = [
        (p, n) for p, n in occ.items() if n >= PASSAGE_MIN_OCC
    ]
    # Hash-free total order: count desc, then first occurrence
    # (doc_id, pos) — injective per passage, mirrors engine + oracle.
    dup.sort(key=lambda t: (-t[1], first[t[0]]))
    expected = dup[:TOP_PASSAGES]
    assert len(rows) == len(expected)
    for r, (p, n) in zip(sorted(rows, key=lambda r: r.rank), expected):
        assert r.passage == p
        assert r.n_occurrences == n
        assert r.n_docs == len(docs[p])
        assert (r.first_doc, r.first_pos) == first[p]
    # Every reported passage is genuinely duplicated.
    assert all(r.n_occurrences >= PASSAGE_MIN_OCC for r in rows)


def test_basket_pairs_match_python_recompute(spark):
    """Pair supports against a direct Python basket recount."""
    from collections import Counter, defaultdict
    from itertools import combinations

    from duckdb_gsheets_spark.operators.tpch_extra import (
        BASKET_MIN_SUPPORT,
        BASKET_TOPK,
        basket_part_pairs,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = basket_part_pairs(spark, SF).collect()
    baskets = defaultdict(set)
    for r in load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect():
        baskets[r.l_orderkey].add(r.l_partkey)
    support: Counter[tuple[int, int]] = Counter()
    for parts in baskets.values():
        support.update(combinations(sorted(parts), 2))
    expected = sorted(
        ((p, n) for p, n in support.items() if n >= BASKET_MIN_SUPPORT),
        key=lambda kv: (-kv[1], kv[0]),
    )[:BASKET_TOPK]
    assert [((r.part_a, r.part_b), r.support) for r in rows] == expected


def test_dataset_datasheet_ledger_closes(spark):
    """Datasheet totals against a direct Python recount: volumes sum
    exactly, dup counts match a first-occurrence replay, and every
    source row is present."""
    import hashlib
    import re
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.curation import dataset_datasheet
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {r.source: r for r in dataset_datasheet(spark, SF).collect()}
    docs = sorted(
        (
            r
            for r in load_table(spark, SF, "documents")
            .select("doc_id", "source", "lang", "text")
            .collect()
            if r.text is not None
        ),
        key=lambda r: r.doc_id,
    )
    seen: set[str] = set()
    agg = defaultdict(lambda: [0, set(), 0, 0, 0])
    for r in docs:
        fp = hashlib.md5(
            re.sub(r"\s+", " ", r.text.lower()).strip().encode()
        ).hexdigest()
        a = agg[r.source]
        a[0] += 1
        a[1].add(r.lang)
        a[2] += len(re.split(r"\s+", r.text.strip()))
        a[3] += len(r.text)
        if fp in seen:
            a[4] += 1
        else:
            seen.add(fp)
    assert set(got) == set(agg)
    for src, (n, langs, toks, chars, dups) in agg.items():
        r = got[src]
        assert r.n_docs == n
        assert r.n_langs == len(langs)
        assert r.total_tokens == toks
        assert r.total_chars == chars
        assert r.n_exact_dups == dups
        assert r.dup_rate == round(dups / n, 6)
        assert 0.0 <= r.mean_quality <= 1.0


def test_map_functions_battery(spark):
    """Map battery invariants on real rows: merged entry count, sorted
    key set, lookups match the source columns, filter/transform
    results are consistent."""
    import json

    from duckdb_gsheets_spark.operators.relational import map_functions
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {r.event_id: r for r in map_functions(spark, SF).collect()}
    src = {
        r.event_id: r
        for r in load_table(spark, SF, "events")
        .select("event_id", "event_type", "user_id", "props")
        .collect()
    }
    assert set(got) == set(src)
    for eid, r in got.items():
        s = src[eid]
        props = json.loads(s.props)
        assert r.n_entries == 2 + len(props)
        assert r.keys_csv == ",".join(sorted(["type", "uid"] + list(props)))
        assert r.type_val == s.event_type
        assert r.k_val == props["k"]
        assert r.n_t_keys == 1  # 'type' is the only t-key
        assert r.uid_tagged == f"uid={s.user_id}"


def test_winnowing_matches_python_recompute_and_guarantee(spark):
    """Winnowing fingerprints against a direct Python replay, plus the
    algorithm's guarantee: exact-duplicate documents select identical
    fingerprint sets, and density ≤ 1 with every selected hash a real
    gram hash."""
    import hashlib
    import re

    from duckdb_gsheets_spark.functions.portable_hash import P, SHINGLE_A
    from duckdb_gsheets_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnowing_fingerprints,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.n_grams, r.n_fingerprints, r.density, r.fp_digest)
        for r in winnowing_fingerprints(spark, SF).collect()
    }

    def tok_mod_p(t: str) -> int:
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % P

    digests_by_text: dict[str, str] = {}
    expected = {}
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip().lower())
        if len(toks) < WINNOW_K + WINNOW_W - 1:
            continue
        ht = [tok_mod_p(t) for t in toks]
        gh = []
        for i in range(len(ht) - WINNOW_K + 1):
            g = ht[i]
            for j in range(1, WINNOW_K):
                g = (g * SHINGLE_A + ht[i + j]) % P
            gh.append(g)
        sel = sorted(
            {min(gh[i : i + WINNOW_W]) for i in range(len(gh) - WINNOW_W + 1)}
        )
        digest = hashlib.md5(",".join(str(x) for x in sel).encode()).hexdigest()
        expected[r.doc_id] = (
            len(gh),
            len(sel),
            round(len(sel) / len(gh), 6),
            digest,
        )
        digests_by_text.setdefault(r.text.strip().lower(), digest)
        # Identical text ⇒ identical fingerprint digest.
        assert digests_by_text[r.text.strip().lower()] == digest
        assert set(sel) <= set(gh) and len(sel) <= len(gh)
    assert got == expected


def test_bpe_merge_candidates_match_python_recompute(spark):
    """BPE pair table against a direct Python replay of the weighted
    word-table representation."""
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.text import (
        BPE_TOPK,
        bpe_merge_candidates,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = bpe_merge_candidates(spark, SF).collect()
    assert 0 < len(rows) <= BPE_TOPK
    word_freq: Counter[str] = Counter()
    for r in load_table(spark, SF, "documents").select("text").collect():
        if r.text is None:
            continue
        word_freq.update(re.split(r"\s+", r.text.strip().lower()))
    pair_count: Counter[tuple[str, str]] = Counter()
    n_words: Counter[tuple[str, str]] = Counter()
    for w, freq in word_freq.items():
        if len(w) < 2:
            continue
        for a, b in zip(w, w[1:]):
            pair_count[(a, b)] += freq
        # Distinct words containing the pair — 'coco' counts (c,o)
        # once even though it occurs at two positions.
        for pair in set(zip(w, w[1:])):
            n_words[pair] += 1
    expected = sorted(
        pair_count.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )[:BPE_TOPK]
    assert [
        ((r.left_sym, r.right_sym), r.pair_count) for r in rows
    ] == expected
    for r in rows:
        assert r.n_distinct_words == n_words[(r.left_sym, r.right_sym)]


def test_lang_trigram_profile_matches_python_recompute(spark):
    """Per-language trigram top-K against a direct Python recount."""
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.text import (
        TRIGRAM_PER_LANG,
        lang_char_trigram_profile,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = defaultdict(list)
    for r in sorted(
        lang_char_trigram_profile(spark, SF).collect(),
        key=lambda r: (r.lang, r.rank),
    ):
        got[r.lang].append((r.trigram, r.n, r.share))
    counts: dict[str, Counter[str]] = defaultdict(Counter)
    for r in load_table(spark, SF, "documents").select("lang", "text").collect():
        if r.text is None or r.lang is None:
            continue
        t = r.text.strip().lower()
        counts[r.lang].update(t[i : i + 3] for i in range(len(t) - 2))
    for lang, ctr in counts.items():
        if not ctr:
            continue
        total = sum(ctr.values())
        expected = sorted(ctr.items(), key=lambda kv: (-kv[1], kv[0]))[
            :TRIGRAM_PER_LANG
        ]
        assert [(t, n) for t, n, _ in got[lang]] == expected
        for t, n, share in got[lang]:
            assert share == round(n / total, 6)


def test_pmi_collocations_match_python_recompute(spark):
    """PMI ratios against a direct Python recount of unigram/bigram
    frequencies, and ranking sanity: every reported pair clears the
    count floor."""
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.text import (
        PMI_MIN_COUNT,
        PMI_TOPK,
        text_pmi_collocations,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = text_pmi_collocations(spark, SF).collect()
    assert 0 < len(rows) <= PMI_TOPK
    uni: Counter[str] = Counter()
    bi: Counter[tuple[str, str]] = Counter()
    for r in load_table(spark, SF, "documents").select("text").collect():
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip().lower())
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    n_tokens = sum(uni.values())
    n_bigrams = sum(bi.values())
    for r in rows:
        a, b = r.bigram.split(" ")
        assert r.n_pair == bi[(a, b)] >= PMI_MIN_COUNT
        assert r.n_left == uni[a] and r.n_right == uni[b]
        expected = round(
            ((r.n_pair * n_tokens) / (n_bigrams * r.n_left))
            * (n_tokens / r.n_right),
            6,
        )
        assert r.pmi_ratio == pytest.approx(expected, abs=1e-9)
    # The report is the global top-K: no unreported qualifying pair
    # may beat the weakest reported one.
    floor = min(r.pmi_ratio for r in rows)
    if len(rows) == PMI_TOPK:
        for (a, b), n in bi.items():
            if n >= PMI_MIN_COUNT:
                ratio = round(
                    ((n * n_tokens) / (n_bigrams * uni[a]))
                    * (n_tokens / uni[b]),
                    6,
                )
                assert ratio <= floor or any(
                    r.bigram == f"{a} {b}" for r in rows
                )


def test_embedding_doc_coverage_accounts_for_every_row(spark):
    """The coverage report must partition both tables exactly: doc
    counts per lang match the documents table, embedded counts match
    the id intersection, and orphans match the id anti-join."""
    from duckdb_gsheets_spark.operators.similarity import (
        embedding_doc_coverage,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = {r.lang: r for r in embedding_doc_coverage(spark, SF).collect()}
    docs = load_table(spark, SF, "documents").select("doc_id", "lang").collect()
    vec_ids = {
        r.vec_id
        for r in load_table(spark, SF, "embeddings").select("vec_id").collect()
    }
    doc_ids = {r.doc_id for r in docs}
    from collections import Counter

    per_lang = Counter(r.lang for r in docs)
    per_lang_emb = Counter(r.lang for r in docs if r.doc_id in vec_ids)
    for lang, n in per_lang.items():
        r = rows[lang]
        assert r.n_docs == n
        assert r.n_with_embedding == per_lang_emb[lang]
        assert r.coverage == round(per_lang_emb[lang] / n, 6)
        assert r.n_orphan_embeddings == 0
    orphans = len(vec_ids - doc_ids)
    if orphans:
        assert rows["__orphan__"].n_orphan_embeddings == orphans
        assert rows["__orphan__"].n_docs == 0
    assert sum(r.n_docs for r in rows.values()) == len(docs)


def test_split_assign_partitions_corpus_exactly(spark):
    """Every doc lands in exactly one split; per-(split, lang) counts
    match a direct Python hash replay; split is doc_id-stable."""
    import hashlib
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.sampling import (
        SPLIT_TEST_LO,
        SPLIT_VAL_LO,
        sample_split_assign,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.split, r.lang): (r.n_docs, r.n_tokens)
        for r in sample_split_assign(spark, SF).collect()
    }

    def split_of(doc_id: int) -> str:
        p = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return "train" if p < SPLIT_VAL_LO else ("val" if p < SPLIT_TEST_LO else "test")

    docs_n: Counter[tuple[str, str]] = Counter()
    toks_n: Counter[tuple[str, str]] = Counter()
    for r in load_table(spark, SF, "documents").select(
        "doc_id", "lang", "text"
    ).collect():
        if r.text is None:
            continue
        key = (split_of(r.doc_id), r.lang)
        docs_n[key] += 1
        toks_n[key] += len(re.split(r"\s+", r.text.strip()))
    assert {k: v[0] for k, v in got.items()} == dict(docs_n)
    assert {k: v[1] for k, v in got.items()} == dict(toks_n)
    # All three splits are populated at this SF.
    assert {s for s, _ in got} == {"train", "val", "test"}


def test_split_pipeline_accounts_for_every_doc(spark):
    """Composed split pipeline against a direct Python replay: split
    assignment, in-split first-occurrence dedup, train-side exact
    decontamination — every document lands in exactly one status."""
    import hashlib
    import re
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.pipeline import pipeline_split_corpus
    from duckdb_gsheets_spark.operators.sampling import (
        SPLIT_TEST_LO,
        SPLIT_VAL_LO,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.split, r.lang): (
            r.n_docs_in,
            r.n_dup_removed,
            r.n_leak_removed,
            r.n_docs_kept,
            r.tokens_kept,
        )
        for r in pipeline_split_corpus(spark, SF).collect()
    }

    def split_of(doc_id: int) -> str:
        p = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return "train" if p < SPLIT_VAL_LO else ("val" if p < SPLIT_TEST_LO else "test")

    docs = sorted(
        (
            r
            for r in load_table(spark, SF, "documents")
            .select("doc_id", "lang", "text")
            .collect()
            if r.text is not None
        ),
        key=lambda r: r.doc_id,
    )
    fp_of = {}
    eval_fps = set()
    for r in docs:
        fp = hashlib.md5(
            re.sub(r"\s+", " ", r.text.lower()).strip().encode()
        ).hexdigest()
        fp_of[r.doc_id] = fp
        if split_of(r.doc_id) != "train":
            eval_fps.add(fp)
    seen_in_split: set[tuple[str, str]] = set()
    agg = defaultdict(lambda: [0, 0, 0, 0, 0])
    for r in docs:
        sp, fp = split_of(r.doc_id), fp_of[r.doc_id]
        a = agg[(sp, r.lang)]
        a[0] += 1
        if (sp, fp) in seen_in_split:
            a[1] += 1
        elif sp == "train" and fp in eval_fps:
            seen_in_split.add((sp, fp))
            a[2] += 1
        else:
            seen_in_split.add((sp, fp))
            a[3] += 1
            a[4] += len(re.split(r"\s+", r.text.strip()))
    assert got == {k: tuple(v) for k, v in agg.items()}
    # Ledger closes: in = dup + leak + kept per group.
    for n_in, n_dup, n_leak, n_kept, _ in got.values():
        assert n_in == n_dup + n_leak + n_kept


def test_split_leakage_matches_pair_replay(spark):
    """Leakage rows must equal the dedup pair set filtered to
    straddling pairs, grouped by the ordered split pair."""
    import hashlib
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.dedup import dedup_minhash_lsh
    from duckdb_gsheets_spark.operators.sampling import (
        SPLIT_TEST_LO,
        SPLIT_VAL_LO,
        split_leakage_check,
    )

    def split_of(doc_id: int) -> str:
        p = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return "train" if p < SPLIT_VAL_LO else ("val" if p < SPLIT_TEST_LO else "test")

    expected = defaultdict(list)
    for p in dedup_minhash_lsh(spark, SF).collect():
        sa, sb = split_of(p.doc_a), split_of(p.doc_b)
        if sa != sb:
            expected[tuple(sorted((sa, sb)))].append(p.jaccard)
    got = {
        (r.split_a, r.split_b): (r.n_leaky_pairs, r.worst_jaccard)
        for r in split_leakage_check(spark, SF).collect()
    }
    assert set(got) == set(expected)
    for key, jacs in expected.items():
        assert got[key] == (len(jacs), max(jacs))


def test_seasonality_profile_matches_python_recompute(spark):
    """Weekday×hour cells against a direct Python recount (ISO
    weekday), with the whole-corpus total conserved."""
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.events import (
        events_seasonality_profile,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.iso_weekday, r.hour_of_day): (r.n_events, r.n_days, r.events_per_occurrence)
        for r in events_seasonality_profile(spark, SF).collect()
    }
    counts: Counter[tuple[int, int]] = Counter()
    days = defaultdict(set)
    total = 0
    for r in load_table(spark, SF, "events").select("ts").collect():
        cell = (r.ts.isoweekday(), r.ts.hour)
        counts[cell] += 1
        days[cell].add(r.ts.date())
        total += 1
    assert {k: v[0] for k, v in got.items()} == dict(counts)
    for cell, (n, nd, rate) in got.items():
        assert nd == len(days[cell])
        assert rate == round(n / nd, 6)
    assert sum(v[0] for v in got.values()) == total


def test_active_users_match_python_recompute(spark):
    """DAU/WAU/MAU against a direct Python replay of trailing-window
    distinct-user counts, plus the DAU ≤ WAU ≤ MAU invariant."""
    import datetime
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import (
        MAU_WINDOW,
        WAU_WINDOW,
        events_active_users,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {r.day: (r.dau, r.wau, r.mau) for r in events_active_users(spark, SF).collect()}
    by_day = defaultdict(set)
    for r in load_table(spark, SF, "events").select("user_id", "ts").collect():
        by_day[r.ts.date()].add(r.user_id)
    days = sorted(by_day)
    expected = {}
    for d in days:
        dau = by_day[d]
        wau, mau = set(), set()
        for off in range(MAU_WINDOW):
            src = d - datetime.timedelta(days=off)
            users = by_day.get(src, set())
            mau |= users
            if off < WAU_WINDOW:
                wau |= users
        expected[str(d)] = (len(dau), len(wau), len(mau))
    assert got == expected
    for dau, wau, mau in got.values():
        assert dau <= wau <= mau


def test_pareto_share_matches_python_recompute(spark):
    """Revenue deciles against a direct Python tiling replay; shares
    sum to 1 and the cumulative share is monotone."""
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.tpch_extra import orders_pareto_share
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = sorted(orders_pareto_share(spark, SF).collect(), key=lambda r: r.decile)
    rev = Counter()
    for r in load_table(spark, SF, "orders").select("o_custkey", "o_totalprice").collect():
        rev[r.o_custkey] += round(r.o_totalprice * 100)
    vals = Counter(rev.values())
    n_total = sum(vals.values())
    rev_total = sum(v * c for v, c in vals.items())
    agg = defaultdict(lambda: [0, 0])
    n_before = 0
    for v in sorted(vals, reverse=True):
        decile = 1 + (n_before * 10) // n_total
        agg[decile][0] += vals[v]
        agg[decile][1] += v * vals[v]
        n_before += vals[v]
    assert [r.decile for r in got] == sorted(agg)
    cum = 0
    for r in got:
        n, rc = agg[r.decile]
        cum += rc
        assert r.n_customers == n
        assert r.decile_revenue == rc / 100.0
        assert r.revenue_share == round(rc / rev_total, 6)
        assert r.cum_revenue_share == round(cum / rev_total, 6)
    assert got[-1].cum_revenue_share == 1.0


def test_forecast_baseline_matches_python_recompute(spark):
    """Seasonal-naive accuracy report against a direct Python replay
    of hourly counts and the h-24 pairing."""
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.events import (
        events_forecast_baseline,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {r.event_type: r for r in events_forecast_baseline(spark, SF).collect()}
    hourly: Counter[tuple[str, object]] = Counter()
    for r in load_table(spark, SF, "events").select("event_type", "ts").collect():
        hourly[(r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))] += 1
    import datetime

    agg = defaultdict(lambda: [0, 0, 0, 0, 0])
    day = datetime.timedelta(hours=24)
    for (et, h), n in hourly.items():
        prev = hourly.get((et, h - day))
        if prev is None:
            continue
        a = agg[et]
        a[0] += 1
        a[1] += n
        a[2] += prev
        a[3] += abs(n - prev)
        a[4] += prev - n
    assert set(got) == set(agg)
    for et, (nh, ta, tf, abserr, bias) in agg.items():
        r = got[et]
        assert (r.n_hours, r.total_actual, r.total_forecast, r.bias) == (
            nh, ta, tf, bias,
        )
        assert r.mae == round(abserr / nh, 6)


def test_attribution_matches_python_recompute(spark):
    """Last-touch credits against a direct Python replay of each
    user's event timeline."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import (
        ATTRIB_WINDOW_S,
        events_attribution,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.touch_type: (r.n_purchases, r.attributed_value)
        for r in events_attribution(spark, SF).collect()
    }
    by_user = defaultdict(list)
    for r in load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    ).collect():
        by_user[r.user_id].append(r)
    counts: dict[str, int] = defaultdict(int)
    sums: dict[str, int] = defaultdict(int)  # cents
    for rows in by_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        last_touch = None
        for r in rows:
            if r.event_type == "purchase":
                if (
                    last_touch is not None
                    and (r.ts - last_touch.ts).total_seconds() <= ATTRIB_WINDOW_S
                ):
                    key = last_touch.event_type
                else:
                    key = "__none__"
                counts[key] += 1
                sums[key] += round(r.value * 100)
            else:
                last_touch = r
    assert {k: v[0] for k, v in got.items()} == dict(counts)
    for k, (_, val) in got.items():
        assert val == pytest.approx(sums[k] / 100.0, abs=1e-9)


def test_markov_transitions_match_python_recompute(spark):
    """Transition counts and row-normalized probabilities against a
    direct Python replay of the per-user event order."""
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.events import (
        events_markov_transitions,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.prob)
        for r in events_markov_transitions(spark, SF).collect()
    }
    by_user = defaultdict(list)
    for r in load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect():
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    counts: Counter[tuple[str, str]] = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            counts[(a, b)] += 1
    row_totals = defaultdict(int)
    for (a, _), n in counts.items():
        row_totals[a] += n
    assert {k: v[0] for k, v in got.items()} == dict(counts)
    for (a, b), (n, prob) in got.items():
        assert prob == round(n / row_totals[a], 6)
    # Probabilities per from_type row-normalize to ~1.
    for a, total in row_totals.items():
        s = sum(p for (x, _), (_, p) in got.items() if x == a)
        assert abs(s - 1.0) < 1e-4


def test_payload_dedup_matches_python_recompute(spark):
    """Binary payload dedup against a direct hash of the same UTF-8
    payload bytes."""
    import hashlib
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.multimodal import (
        FORMATS,
        multimodal_payload_dedup,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.format, r.payload_md5): (
            r.survivor_doc_id,
            r.n_copies,
            r.reclaimable_bytes,
        )
        for r in multimodal_payload_dedup(spark, SF).collect()
    }
    groups = defaultdict(list)
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        payload = r.text.encode()
        fmt = FORMATS[r.doc_id % len(FORMATS)]
        groups[(fmt, hashlib.md5(payload).hexdigest())].append(
            (r.doc_id, len(payload))
        )
    expected = {
        key: (
            min(d for d, _ in members),
            len(members),
            members[0][1] * (len(members) - 1),
        )
        for key, members in groups.items()
    }
    assert got == expected


def test_neardup_pagerank_matches_python_recompute(spark):
    """Integer PageRank against a direct Python replay over the
    registered dedup_minhash_lsh edge set."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.dedup import (
        PR_BASE,
        PR_ITERS,
        PR_SCALE,
        dedup_minhash_lsh,
        neardup_pagerank,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.degree, r.pagerank_micro)
        for r in neardup_pagerank(spark, SF).collect()
    }
    nbrs = defaultdict(list)
    for p in dedup_minhash_lsh(spark, SF).collect():
        nbrs[p.doc_a].append(p.doc_b)
        nbrs[p.doc_b].append(p.doc_a)
    doc_ids = [
        r.doc_id
        for r in load_table(spark, SF, "documents").select("doc_id").collect()
    ]
    pr = {d: PR_SCALE for d in doc_ids}
    for _ in range(PR_ITERS):
        inflow = defaultdict(int)
        for u, ns in nbrs.items():
            share = pr[u] // len(ns)
            for v in ns:
                inflow[v] += share
        pr = {d: PR_BASE + (85 * inflow[d]) // 100 for d in doc_ids}
    assert set(got) == set(doc_ids)
    for d in doc_ids:
        assert got[d] == (len(nbrs[d]) if d in nbrs else 0, pr[d])
    # Centrality sanity: connected docs outrank isolated ones.
    if nbrs:
        isolated = next((d for d in doc_ids if d not in nbrs), None)
        top = max(pr.values())
        if isolated is not None:
            assert top > pr[isolated] == PR_BASE


def test_neardup_triangles_match_python_recompute(spark):
    """Triangle counts and clustering coefficients against a direct
    Python adjacency-set-intersection count over the same registered
    top-K Jaccard edge set (independent of the degree-ordered
    distributed algorithm under test)."""
    from duckdb_gsheets_spark.operators.dedup import (
        dedup_ngram_jaccard,
        neardup_triangles,
    )

    got = {
        r.doc_id: (r.degree, r.n_triangles, r.clustering_coeff)
        for r in neardup_triangles(spark, SF).collect()
    }
    adj: dict[int, set[int]] = {}
    for p in dedup_ngram_jaccard(spark, SF).collect():
        a, b = min(p.doc_id, p.match_id), max(p.doc_id, p.match_id)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    for node, ns in adj.items():
        tri = sum(len(adj[n] & ns) for n in ns) // 2
        deg = len(ns)
        coeff = round(2 * tri / (deg * (deg - 1)), 6) if deg >= 2 else 0.0
        expected[node] = (deg, tri, coeff)
    assert got == expected
    # Non-vacuity: the fixture graph must contain real triangles and a
    # spread of coefficients, or the counting path is untested.
    assert any(t > 0 for _, t, _ in got.values())
    assert any(0.0 < c < 1.0 for _, _, c in got.values())


def test_embedding_isotropy_matches_bruteforce_pairs(spark):
    """The pair-free identity must equal the literal O(n²) mean
    pairwise dot over the same 1e6-grid components — the whole point
    of the operator is that these agree exactly."""
    from duckdb_gsheets_spark.operators.similarity import (
        embedding_isotropy,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    r = embedding_isotropy(spark, SF).collect()[0]
    vecs = [
        [round(float(x) * 1e6) for x in row.embedding]
        for row in load_table(spark, SF, "embeddings").collect()
    ]
    n = len(vecs)
    dots = 0
    for i in range(n):
        for j in range(n):
            if i != j:
                dots += sum(a * b for a, b in zip(vecs[i], vecs[j]))
    nrm2 = sum(sum(a * a for a in v) for v in vecs)
    mpd = (dots / 1e12) / (n * (n - 1))
    msn = (nrm2 / 1e12) / n
    assert r.n_vectors == n
    assert abs(r.mean_pairwise_dot - mpd) < 2e-6
    assert abs(r.mean_sq_norm - msn) < 2e-6
    assert abs(r.isotropy_ratio - mpd / msn) < 2e-6
    # Sanity: ratio is a mean cosine-like quantity.
    assert -1.0 <= r.isotropy_ratio <= 1.0


def test_ann_ndcg_matches_python_recompute(spark):
    """nDCG per method against a direct Python recompute from the
    registered rankings; nDCG must be ≤ the corresponding recall-based
    ceiling (all relevant items at the worst positions) and positive
    for every method at the fixture SF."""
    from duckdb_gsheets_spark.operators.similarity import (
        NDCG_DISCOUNTS,
        NDCG_IDCG,
        ann_cosine_topk,
        ann_ivf_topk,
        ann_lsh_topk,
        ann_ndcg_report,
        ann_pq_adc_topk,
    )

    got = {
        r.method: (r.n_queries, r.mean_ndcg, r.min_ndcg)
        for r in ann_ndcg_report(spark, SF).collect()
    }
    exact = {
        (r.vec_a, r.vec_b) for r in ann_cosine_topk(spark, SF).collect()
    }
    queries = sorted({a for a, _ in exact})
    expected = {}
    for name, fn in (
        ("lsh", ann_lsh_topk),
        ("ivf", ann_ivf_topk),
        ("pq", ann_pq_adc_topk),
    ):
        dcg = {q: 0 for q in queries}
        for r in fn(spark, SF).collect():
            if (r.vec_a, r.vec_b) in exact:
                dcg[r.vec_a] += NDCG_DISCOUNTS[r.rank - 1]
        expected[name] = (
            len(queries),
            round(sum(dcg.values()) / (len(queries) * NDCG_IDCG), 6),
            round(min(dcg.values()) / NDCG_IDCG, 6),
        )
    assert got == expected
    assert all(v[1] > 0 for v in got.values())


def test_minhash_auc_matches_python_recompute(spark):
    """AUC against a direct Python Mann-Whitney with tie correction
    over the same candidate pairs (reconstructed from the registered
    calibration internals); both classes must be present and the
    sketch must rank better than chance on this corpus."""
    from duckdb_gsheets_spark.operators.dedup import (
        MINHASH_JACCARD_THRESHOLD,
        _minhash_candidates,
        minhash_auc_report,
        minhash_signatures,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    r = minhash_auc_report(spark, SF).collect()[0]
    docs = load_table(spark, SF, "documents")
    sigs = {
        row.doc_id: (list(row.signature), set(row.shingles))
        for row in minhash_signatures(docs).collect()
    }
    cands = [
        (row.doc_a, row.doc_b)
        for row in _minhash_candidates(minhash_signatures(docs)).collect()
    ]
    scored = []
    for a, b in cands:
        sa, sha = sigs[a]
        sb, shb = sigs[b]
        k = sum(1 for x, y in zip(sa, sb) if x == y)
        inter, union = len(sha & shb), len(sha | shb)
        scored.append((k, 2 * inter >= union))
    pos = [k for k, p in scored if p]
    neg = [k for k, p in scored if not p]
    assert pos and neg, "one class empty — AUC vacuous"
    u = sum(
        (1.0 if kp > kn else 0.5 if kp == kn else 0.0)
        for kp in pos
        for kn in neg
    )
    auc = u / (len(pos) * len(neg))
    assert (r.n_pos, r.n_neg) == (len(pos), len(neg))
    assert r.n_pairs == len(scored)
    assert r.auc == round(auc, 6)
    assert r.auc > 0.5  # the sketch must beat chance or it's useless
    assert MINHASH_JACCARD_THRESHOLD == 0.5


def test_neardup_graph_stats_match_python_recompute(spark):
    """Global graph metrics against a direct Python computation over
    the same registered top-K edge set (networkx-free: adjacency sets
    + Newman's assortativity formula)."""
    import math

    from duckdb_gsheets_spark.operators.dedup import (
        dedup_ngram_jaccard,
        neardup_graph_stats,
    )

    r = neardup_graph_stats(spark, SF).collect()[0]
    adj: dict[int, set[int]] = {}
    for p in dedup_ngram_jaccard(spark, SF).collect():
        a, b = min(p.doc_id, p.match_id), max(p.doc_id, p.match_id)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(s) for n, s in adj.items()}
    edges = {(a, b) for a, s in adj.items() for b in s if a < b}
    tri = sum(
        len(adj[n] & adj[m]) for n, m in edges
    ) // 3  # each triangle counted once per edge
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    xs = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
    ys = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    assort = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    assert r.n_nodes == len(deg)
    assert r.n_edges == len(edges)
    assert r.max_degree == max(deg.values())
    assert r.n_triangles == tri and tri > 0
    assert r.transitivity == round(3 * tri / wedges, 6)
    assert abs(r.assortativity - assort) < 2e-6
    assert -1.0 <= r.assortativity <= 1.0


def test_incremental_dedup_consistent_with_full_dedup(spark):
    """The delta-vs-corpus incremental check must agree with the
    registered full-corpus operators: exact verdicts with a direct
    fingerprint recompute, near verdicts with the dedup_minhash_lsh
    pair set restricted to (batch, corpus) pairs."""
    import hashlib
    import re
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.dedup import (
        DELTA_SOURCE,
        dedup_incremental_batch,
        dedup_minhash_lsh,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "source"
    ).collect()
    source = {r.doc_id: r.source for r in docs}

    def fp(text: str) -> str:
        return hashlib.md5(
            re.sub(r"\s+", " ", text.lower()).strip().encode()
        ).hexdigest()

    corpus_fps = defaultdict(list)
    for r in docs:
        if r.source != DELTA_SOURCE and r.text is not None:
            corpus_fps[fp(r.text)].append(r.doc_id)
    exact = {
        r.doc_id: sorted(corpus_fps[fp(r.text)])
        for r in docs
        if r.source == DELTA_SOURCE
        and r.text is not None
        and corpus_fps[fp(r.text)]
    }
    near = defaultdict(list)
    for p in dedup_minhash_lsh(spark, SF).collect():
        for b, c in ((p.doc_a, p.doc_b), (p.doc_b, p.doc_a)):
            if source[b] == DELTA_SOURCE and source[c] != DELTA_SOURCE:
                near[b].append(c)

    got = {r.doc_id: r for r in dedup_incremental_batch(spark, SF).collect()}
    assert set(got) == {r.doc_id for r in docs if r.source == DELTA_SOURCE}
    for doc_id, r in got.items():
        if doc_id in exact:
            assert r.verdict == "exact_dup"
            assert r.n_matches == len(exact[doc_id])
            assert r.best_match == exact[doc_id][0]
        elif doc_id in near:
            assert r.verdict == "near_dup"
            assert r.n_matches == len(near[doc_id])
            assert r.best_match == min(near[doc_id])
        else:
            assert r.verdict == "unique"
            assert r.n_matches == 0 and r.best_match == -1


def test_token_budget_waterfill_invariants_and_recompute(spark):
    """Waterfilling against a direct Python bisection on the same
    inventory, plus the hard invariants: allocations sum to exactly B,
    never exceed a source's inventory, capped sources keep everything,
    uncapped allocations differ by at most one token."""
    import re

    from duckdb_gsheets_spark.operators.curation import (
        token_budget_waterfill,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = token_budget_waterfill(spark, SF).collect()
    got = {
        r.source: (r.avail_tokens, r.allocated_tokens, r.capped)
        for r in rows
    }
    avail: dict[str, int] = {}
    for r in load_table(spark, SF, "documents").select("source", "text").collect():
        if r.text is None:
            continue
        avail[r.source] = avail.get(r.source, 0) + len(
            re.split(r"\s+", r.text.strip())
        )
    total = sum(avail.values())
    budget = total // 2
    assert {s: a for s, (a, _, _) in got.items()} == avail
    assert sum(a for _, a, _ in got.values()) == budget
    assert all(a <= av for av, a, _ in got.values())
    assert all(a == av for av, a, c in got.values() if c)
    uncapped = sorted(a for _, a, c in got.values() if not c)
    assert uncapped, "budget capped nothing — waterfill path untested"
    assert uncapped[-1] - uncapped[0] <= 1
    # Independent recompute: integer bisection on the water level.
    lo, hi = 0, max(avail.values())
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if sum(min(a, mid) for a in avail.values()) <= budget:
            lo = mid
        else:
            hi = mid - 1
    base = sum(min(a, lo) for a in avail.values())
    assert budget - base < sum(1 for a in avail.values() if a > lo)
    for s, (av, a, c) in got.items():
        assert a in (min(av, lo), min(av, lo + 1))


def test_join_lateral_topn_matches_python_recompute(spark):
    """LATERAL top-2 orders per customer against a direct Python
    group-sort (customers with no orders emit nothing — inner lateral
    semantics)."""
    from duckdb_gsheets_spark.operators.relational import join_lateral_topn
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = sorted(
        (r.c_custkey, r.o_orderkey, r.o_totalprice)
        for r in join_lateral_topn(spark, SF).collect()
    )
    by_cust: dict[int, list[tuple[float, int]]] = {}
    for r in load_table(spark, SF, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    ).collect():
        by_cust.setdefault(r.o_custkey, []).append(
            (-r.o_totalprice, r.o_orderkey)
        )
    custkeys = {
        r.c_custkey
        for r in load_table(spark, SF, "customer").select("c_custkey").collect()
    }
    expected = sorted(
        (c, k, -negp)
        for c, orders in by_cust.items()
        if c in custkeys
        for negp, k in sorted(orders)[:2]
    )
    assert got == expected
    # Inner-lateral semantics: exactly the customers with orders emit.
    assert {c for c, _, _ in got} == set(by_cust) & custkeys


def test_contrastive_negatives_match_python_recompute(spark):
    """Negative sampling against a direct Python replay (hashlib md5
    replicates tok_hash60), with cluster labels taken from the
    registered dedup_clusters op. The rejection paths must fire: at
    least one candidate must be dropped."""
    import hashlib

    from duckdb_gsheets_spark.operators.dedup import dedup_clusters
    from duckdb_gsheets_spark.operators.sampling import (
        K_NEGATIVES,
        contrastive_negatives,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.doc_id, r.j, r.neg_id)
        for r in contrastive_negatives(spark, SF).collect()
    }
    doc_ids = sorted(
        r.doc_id
        for r in load_table(spark, SF, "documents").select("doc_id").collect()
    )
    labels = {
        r.doc_id: r.cluster_id for r in dedup_clusters(spark, SF).collect()
    }
    m = max(doc_ids) + 1
    id_set = set(doc_ids)
    expected = set()
    n_rejected = 0
    for d in doc_ids:
        for j in range(1, K_NEGATIVES + 1):
            h = int(hashlib.md5(f"{d}:{j}".encode()).hexdigest()[:15], 16)
            neg = h % m
            if (
                neg in id_set
                and neg != d
                and labels.get(neg) != labels.get(d)
            ):
                expected.add((d, j, neg))
            else:
                n_rejected += 1
    assert got == expected
    assert n_rejected > 0, "no candidate rejected — filter paths untested"


def test_quality_rank_ensemble_matches_python_recompute(spark):
    """Borda ranks against a direct Python sort of the three signals
    (same tiebreaks), plus the invariant that each rank column is a
    permutation of 1..n."""
    import re

    from duckdb_gsheets_spark.operators.curation import (
        quality_rank_ensemble,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.rank_len, r.rank_diversity, r.rank_wordlen, r.avg_rank)
        for r in quality_rank_ensemble(spark, SF).collect()
    }
    sigs = {}
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip())
        nt = len(toks)
        sigs[r.doc_id] = (
            float(nt),
            len(set(toks)) / nt,
            sum(len(t) for t in toks) / nt,
        )
    n = len(sigs)
    expected_ranks: dict[int, list[int]] = {d: [0, 0, 0] for d in sigs}
    for i in range(3):
        order = sorted(sigs, key=lambda d: (-sigs[d][i], d))
        for pos, d in enumerate(order, start=1):
            expected_ranks[d][i] = pos
    expected = {
        d: (*rs, round(sum(rs) / 3.0, 6)) for d, rs in expected_ranks.items()
    }
    assert got == expected
    for i in range(3):
        assert sorted(v[i] for v in got.values()) == list(range(1, n + 1))


def test_quality_signal_spearman_matches_python_recompute(spark):
    """Spearman rho per signal pair against a direct Python rank
    correlation (same unique-rank tiebreaks); the three signals must
    not be perfectly redundant (some rho must be meaningfully < 1)."""
    import math
    import re

    from duckdb_gsheets_spark.operators.curation import (
        quality_signal_spearman,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.signal_pair: (r.n_docs, r.spearman_rho)
        for r in quality_signal_spearman(spark, SF).collect()
    }
    sigs = {}
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip())
        nt = len(toks)
        sigs[r.doc_id] = (
            float(nt),
            len(set(toks)) / nt,
            sum(len(t) for t in toks) / nt,
        )
    n = len(sigs)
    ranks: dict[int, list[int]] = {d: [0, 0, 0] for d in sigs}
    for i in range(3):
        for pos, d in enumerate(
            sorted(sigs, key=lambda d: (-sigs[d][i], d)), start=1
        ):
            ranks[d][i] = pos

    def rho(i, j):
        xs = [ranks[d][i] for d in sigs]
        ys = [ranks[d][j] for d in sigs]
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        return (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )

    expected = {
        "len_vs_diversity": (n, round(rho(0, 1), 6)),
        "len_vs_wordlen": (n, round(rho(0, 2), 6)),
        "diversity_vs_wordlen": (n, round(rho(1, 2), 6)),
    }
    for k in expected:
        assert got[k][0] == expected[k][0]
        assert abs(got[k][1] - expected[k][1]) < 2e-6
    assert any(abs(v[1]) < 0.95 for v in got.values())


def test_scd2_history_matches_python_recompute(spark):
    """SCD2 intervals against a direct Python replay of the three
    snapshot rules (independent of the DuckDB oracle)."""
    import hashlib
    import re

    from duckdb_gsheets_spark.operators.pipeline import (
        SCD2_VERSIONS,
        corpus_scd2_history,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = sorted(
        (r.doc_id, r.valid_from, r.valid_to, r.text_md5, r.is_current)
        for r in corpus_scd2_history(spark, SF).collect()
    )

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    def state(doc_id: int, text: str, v: int) -> str | None:
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        if v == 1:
            return md5(text)
        if doc_id % 13 == 0:
            return None  # deleted from v2 on
        if v == 3 and doc_id % 5 == 0:
            return md5(text.upper())
        if doc_id % 7 == 0:
            return md5(norm)
        return md5(text)

    expected = []
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        if r.text is None:
            continue
        states = [state(r.doc_id, r.text, v) for v in range(1, SCD2_VERSIONS + 1)]
        runs: list[tuple[int, int, str | None]] = []
        for v, s in enumerate(states, start=1):
            if runs and runs[-1][2] == s:
                runs[-1] = (runs[-1][0], v, s)
            else:
                runs.append((v, v, s))
        for frm, to, s in runs:
            if s is not None:
                expected.append((r.doc_id, frm, to, s, to == SCD2_VERSIONS))
    assert got == sorted(expected)


def test_scd2_asof_diff_matches_python_recompute(spark):
    """The v1→v3 snapshot diff against a direct Python replay of the
    snapshot rules (same state function as the ledger test)."""
    import hashlib
    import re

    from duckdb_gsheets_spark.operators.pipeline import (
        SCD2_DIFF_FROM,
        SCD2_DIFF_TO,
        scd2_asof_diff,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.md5_before, r.md5_after, r.status)
        for r in scd2_asof_diff(spark, SF).collect()
    }

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    def state(doc_id: int, text: str, v: int) -> str | None:
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        if v == 1:
            return md5(text)
        if doc_id % 13 == 0:
            return None
        if v == 3 and doc_id % 5 == 0:
            return md5(text.upper())
        if doc_id % 7 == 0:
            return md5(norm)
        return md5(text)

    expected = {}
    for r in load_table(spark, SF, "documents").select("doc_id", "text").collect():
        if r.text is None:
            continue
        b = state(r.doc_id, r.text, SCD2_DIFF_FROM)
        a = state(r.doc_id, r.text, SCD2_DIFF_TO)
        if b is None and a is None:
            continue
        status = (
            "added" if b is None
            else "deleted" if a is None
            else "unchanged" if a == b
            else "changed"
        )
        expected[r.doc_id] = (b, a, status)
    assert got == expected
    # The fixture must exercise deletion and change, or the diff paths
    # are untested ('added' needs a reappearing doc — synthetic test).
    statuses = {s for _, _, s in got.values()}
    assert {"deleted", "changed", "unchanged"} <= statuses


def test_scd2_asof_diff_synthetic_ledger_covers_added(spark):
    """A reappearing document (absent at v_from, present at v_to) must
    classify as 'added' — unreachable on the generated corpus, so a
    synthetic grid drives the full status matrix through the same
    scd2_intervals → diff composition as the registered query."""
    from duckdb_gsheets_spark.operators.pipeline import (
        _SCD2_ABSENT,
        scd2_diff_from_ledger,
        scd2_intervals,
    )

    grid = spark.createDataFrame(
        [
            (1, [("A"), ("A"), ("A")]),  # unchanged
            (2, [("A"), (_SCD2_ABSENT), ("B")]),  # delete then re-ingest
            (3, [(_SCD2_ABSENT), ("B"), ("B")]),  # added after v1
            (4, [("A"), ("B"), (_SCD2_ABSENT)]),  # deleted by v3
            (5, [("A"), ("A"), ("B")]),  # changed
        ],
        "doc_id long, states array<string>",
    ).select(
        "doc_id",
        F.posexplode("states").alias("pos", "state"),
    ).select(
        "doc_id", (F.col("pos") + 1).cast("long").alias("version"), "state"
    )
    ledger = scd2_intervals(grid, n_versions=3)
    diff = {
        r.doc_id: r.status
        for r in scd2_diff_from_ledger(ledger, 1, 3).collect()
    }
    assert diff == {
        1: "unchanged",
        2: "changed",  # present at both endpoints with different content
        3: "added",
        4: "deleted",
        5: "changed",
    }


def test_ann_mmr_rerank_matches_numpy_recompute(spark):
    """Greedy MMR replayed in numpy over the collected embeddings
    (same pool, same round-6 sims, same tiebreaks) — plus the
    diversification property: the MMR list must not equal the plain
    relevance top-K (otherwise the penalty term did nothing)."""
    import numpy as np

    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.operators.similarity import (
        MMR_K,
        MMR_POOL,
        MMR_QUERY_ID,
        ann_mmr_rerank,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = [
        (r.rank, r.vec_id, r.relevance, r.diversity, r.mmr_score)
        for r in sorted(
            ann_mmr_rerank(spark, SF).collect(), key=lambda r: r.rank
        )
    ]
    vecs = {
        r.vec_id: np.array([float(x) for x in r.embedding])
        for r in load_table(spark, SF, "embeddings").collect()
    }
    q = vecs[MMR_QUERY_ID]

    def cos(u, v):
        return round_half_away(
            float(u @ v / (np.sqrt(u @ u) * np.sqrt(v @ v))), 6
        )

    rel = {d: cos(q, v) for d, v in vecs.items() if d != MMR_QUERY_ID}
    pool = sorted(rel, key=lambda d: (-rel[d], d))[:MMR_POOL]
    sims = {
        (d, s): cos(vecs[d], vecs[s]) for d in pool for s in pool if d != s
    }
    selected: list[int] = []
    expected = []
    for t in range(1, MMR_K + 1):
        best = None
        for d in pool:
            if d in selected:
                continue
            pen = max((sims[(d, s)] for s in selected), default=0.0)
            score = 0.7 * rel[d] - 0.3 * pen
            key = (-score, d)
            if best is None or key < best[0]:
                best = (key, d, pen, score)
        _, d, pen, score = best
        selected.append(d)
        expected.append((t, d, rel[d], pen, round_half_away(score, 6)))
    assert got == expected
    top_by_rel = pool[:MMR_K]
    assert [d for _, d, *_ in got] != top_by_rel, (
        "MMR equals the plain top-K — diversification vacuous"
    )


def test_kmeans_matches_numpy_recompute(spark):
    """Same-recipe spherical Lloyd in numpy over the collected corpus
    must reproduce sizes and (to rounding) the per-cluster stats."""
    import numpy as np

    from duckdb_gsheets_spark.operators.ml import (
        KMEANS_INIT_STRIDE,
        KMEANS_ITERS,
        KMEANS_K,
        kmeans_lloyd,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.cluster_id: (r.size, r.avg_cos_sim, r.centroid_norm)
        for r in kmeans_lloyd(spark, SF).collect()
    }
    rows = sorted(
        (r.vec_id, [float(x) for x in r.embedding])
        for r in load_table(spark, SF, "embeddings").collect()
    )
    X = np.array([e for _, e in rows])
    ids = [i for i, _ in rows]
    init_ids = sorted(i for i in ids if i % KMEANS_INIT_STRIDE == 0)[:KMEANS_K]
    C = X[[ids.index(i) for i in init_ids]].copy()

    def assign(C):
        unit = C / np.linalg.norm(C, axis=1, keepdims=True)
        norms = np.sqrt(np.einsum("ij,ij->i", X, X))
        sims = np.round((X @ unit.T) / norms[:, None], 6)
        return sims.argmax(axis=1), sims.max(axis=1)

    for _ in range(KMEANS_ITERS):
        a, _ = assign(C)
        for k in range(KMEANS_K):
            if (a == k).any():
                C[k] = X[a == k].mean(axis=0)
    a, s = assign(C)
    assert set(got) == {k for k in range(KMEANS_K) if (a == k).any()}
    total = 0
    for k, (size, avg, cnorm) in got.items():
        assert size == int((a == k).sum())
        total += size
        exp_avg = np.round(s[a == k], 6).sum() / size
        assert abs(avg - exp_avg) < 1e-5
        assert abs(cnorm - np.linalg.norm(C[k])) < 1e-5
        assert -1.0 <= avg <= 1.0
    assert total == len(X)


def test_pca_matches_numpy_recompute(spark):
    import numpy as np

    from duckdb_gsheets_spark.operators.ml import (
        DIM,
        PCA_ITERS,
        pca_power_topcomp,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    out = pca_power_topcomp(spark, SF).collect()
    assert len(out) == DIM
    v_got = np.array([r.loading for r in sorted(out, key=lambda r: r.dim)])
    eig = out[0].eigenvalue
    assert all(r.eigenvalue == eig for r in out)

    X = np.array(
        [
            [float(x) for x in r.embedding]
            for r in load_table(spark, SF, "embeddings").collect()
        ]
    )
    m = X.mean(axis=0)
    v = np.ones(DIM) / np.sqrt(DIM)
    for _ in range(PCA_ITERS):
        z = (X - m).T @ ((X - m) @ v)
        lam = np.linalg.norm(z) / len(X)
        v = z / np.linalg.norm(z)
    if v[np.abs(v).argmax()] < 0:
        v = -v
    assert abs(np.linalg.norm(v_got) - 1.0) < 1e-3
    assert np.abs(v_got - v).max() < 1e-5
    assert abs(eig - lam) < 1e-6
    # The corpus's top spectral band is nearly degenerate (λ₁/λ₂ ≈
    # 1.07), so single-vector alignment is unreachable in few
    # iterations; the operator's contract is a direction whose
    # variance sits in that top band.
    C = np.cov(X.T, bias=True)
    w = np.linalg.eigvalsh(C)
    assert float(v_got @ C @ v_got) >= 0.85 * w[-1]
    assert abs(eig - float(v @ C @ v)) < 0.1 * w[-1]


def test_mix_weights_temperature_flattens(spark):
    from duckdb_gsheets_spark.operators.curation import corpus_mix_weights

    rows = corpus_mix_weights(spark, SF).collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4
    big = max(rows, key=lambda r: r.n_tokens)
    small = min(rows, key=lambda r: r.n_tokens)
    # α < 1 ⇒ monotone in size but flatter than raw shares.
    assert big.mix_weight > small.mix_weight
    assert big.mix_weight / small.mix_weight < big.token_share / small.token_share


def test_pack_sequences_matches_python_recompute(spark):
    import re

    from duckdb_gsheets_spark.operators.curation import (
        PACK_BUDGET,
        pack_sequences,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.source, r.bin_id): (r.n_docs, r.bin_tokens, r.first_doc, r.last_doc)
        for r in pack_sequences(spark, SF).collect()
    }
    per_source: dict[str, list] = {}
    for r in sorted(
        load_table(spark, SF, "documents")
        .select("source", "doc_id", "text")
        .collect(),
        key=lambda r: r.doc_id,
    ):
        if r.text is None:
            continue
        per_source.setdefault(r.source, []).append(
            (r.doc_id, len(re.split(r"\s+", r.text.strip())))
        )
    expected: dict[tuple, list] = {}
    for src, docs in per_source.items():
        offset = 0
        for doc_id, n in docs:
            b = offset // PACK_BUDGET
            expected.setdefault((src, b), []).append((doc_id, n))
            offset += n
    assert set(got) == set(expected)
    for key, docs in expected.items():
        assert got[key] == (
            len(docs),
            sum(n for _, n in docs),
            min(d for d, _ in docs),
            max(d for d, _ in docs),
        )


def test_bm25_matches_python_recompute(spark):
    import math
    import re

    from duckdb_gsheets_spark.operators.curation import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
        bm25_search,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = [(r.doc_id, r.bm25, r.n_terms_hit) for r in bm25_search(spark, SF).collect()]
    docs = {
        r.doc_id: re.split(r"\s+", r.text.strip())
        for r in load_table(spark, SF, "documents").collect()
        if r.text is not None
    }
    n_total = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n_total
    df = {
        term: sum(1 for t in docs.values() if term in t) for term in BM25_TERMS
    }
    scores = {}
    for d, toks in docs.items():
        s, hit = 0.0, 0
        for term in BM25_TERMS:
            tf = toks.count(term)
            if tf == 0:
                continue
            hit += 1
            idf = math.log(1.0 + (n_total - df[term] + 0.5) / (df[term] + 0.5))
            s += idf * (tf * (BM25_K1 + 1.0)) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(toks) / avgdl)
            )
        if hit:
            scores[d] = (round(s, 6), hit)
    expected = sorted(
        ((d, s, h) for d, (s, h) in scores.items()),
        key=lambda x: (-x[1], x[0]),
    )[:BM25_TOPK]
    assert got == expected


def test_unigram_xent_matches_python_recompute(spark):
    import math
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.curation import text_unigram_xent
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.n_tokens, r.unigram_xent)
        for r in text_unigram_xent(spark, SF).collect()
    }
    docs = {
        r.doc_id: re.split(r"\s+", r.text.strip())
        for r in load_table(spark, SF, "documents").collect()
        if r.text is not None
    }
    vocab = Counter(t for toks in docs.values() for t in toks)
    total = sum(vocab.values())
    vsize = len(vocab)
    for d, toks in docs.items():
        s = sum(
            int(round(math.log((vocab[t] + 1.0) / (total + vsize)) * 1e9))
            for t in toks
        )
        expected = round(-s / 1e9 / len(toks), 6)
        assert got[d] == (len(toks), expected)
    # Quality-signal sanity: scores are positive, finite, and vary.
    scores = [x for _, x in got.values()]
    assert min(scores) > 0
    assert max(scores) > min(scores)


def test_semantic_neardup_precision_and_cluster_recall(spark):
    """Every emitted pair must be in the exact O(n²) pair set
    (precision 1.0), and every exact pair whose two vectors share a
    cluster must be emitted (within-cluster recall 1.0)."""
    from duckdb_gsheets_spark.operators.ml import (
        _assign_sim_np,
        _init_centroids,
        semantic_neardup_pairs,
    )
    from duckdb_gsheets_spark.operators.similarity import (
        embedding_neardup_pairs_exact,
    )
    from duckdb_gsheets_spark.functions.vectors import to_double
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in semantic_neardup_pairs(spark, SF).collect()
    }
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in embedding_neardup_pairs_exact(spark, SF).collect()
    }
    assert set(got) <= set(exact)
    for pair, cos in got.items():
        assert abs(cos - exact[pair]) < 2e-6
    centroids = _init_centroids(SF)
    emb = load_table(spark, SF, "embeddings")
    clusters = {
        r.vec_id: r.cluster
        for r in emb.select(
            "vec_id",
            _assign_sim_np(centroids)(
                to_double(F.col("embedding"))
            )["cluster"].alias("cluster"),
        ).collect()
    }
    within = {
        p for p in exact if clusters[p[0]] == clusters[p[1]]
    }
    assert set(got) == within
    # NOTE: the fixture corpus has NO pair at the 0.95 bar, so the
    # assertions above only pin the no-false-positive direction here.
    # The non-vacuous precision/recall/threshold coverage lives in
    # test_semantic_neardup_synthetic_pairs below.


def test_semantic_neardup_synthetic_pairs(spark):
    """Seeded synthetic corpus with pairs STRADDLING the SemDeDup
    threshold and the cluster boundary, so every semantic of the
    operator has a pair that would flip on regression:

    * a same-cluster pair above 0.95 → must be emitted;
    * a same-cluster pair below 0.95 → must NOT be emitted (threshold
      direction);
    * a cross-cluster pair above 0.95 → must NOT be emitted (cluster
      blocking is the documented recall trade);
    * the emitted set must equal the numpy-recomputed within-cluster
      exact set, which is asserted NON-EMPTY."""
    import math

    import numpy as np

    from duckdb_gsheets_spark.operators.ml import (
        DIM,
        SEMDEDUP_THRESHOLD,
        semantic_neardup_pairs_frame,
    )

    def vec(angle_deg: float) -> list[float]:
        a = math.radians(angle_deg)
        v = [0.0] * DIM
        v[0], v[1] = math.cos(a), math.sin(a)
        return v

    # Centroids at 0° and 45° in the (dim0, dim1) plane.
    centroids = np.array([vec(0.0), vec(45.0)])
    # vec_id → angle: a1/a2 same-cluster dup (Δ14° ⇒ cos ≈ .970),
    # a3 same-cluster non-dup (Δ≥25° from both), b1/b2 a near-dup
    # pair split across the cluster boundary (Δ3.5° ⇒ cos ≈ .998 but
    # argmax centroids differ), d1/d2 a cluster-1 dup (Δ10°).
    angles = {1: 5.0, 2: 19.0, 3: -20.0, 4: 21.0, 5: 24.5, 6: 40.0, 7: 50.0}
    rows = [(i, vec(a)) for i, a in sorted(angles.items())]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")

    got = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in semantic_neardup_pairs_frame(emb, centroids).collect()
    }

    # numpy recompute with the operator's own rules (round-6 sims,
    # first-index argmax ties, round-6 pair cosine).
    M = np.array([v for _, v in rows])
    unit = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    sims = np.round(
        (M @ unit.T) / np.linalg.norm(M, axis=1)[:, None], 6
    )
    cluster = {i: int(s.argmax()) for (i, _), s in zip(rows, sims)}
    ids = [i for i, _ in rows]
    exact = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            c = float(
                np.round(
                    M[x] @ M[y]
                    / (np.linalg.norm(M[x]) * np.linalg.norm(M[y])),
                    6,
                )
            )
            if c >= SEMDEDUP_THRESHOLD:
                exact[(ids[x], ids[y])] = c
    within = {
        p: c for p, c in exact.items() if cluster[p[0]] == cluster[p[1]]
    }
    # The scenario itself must be non-degenerate: emitted pairs exist,
    # and at least one exact pair is excluded by cluster blocking.
    assert within, "synthetic fixture lost its within-cluster dup pairs"
    assert set(exact) - set(within), (
        "synthetic fixture lost its cross-cluster boundary pair"
    )
    assert set(got) == set(within)
    for p, c in within.items():
        assert abs(got[p] - c) < 2e-6
    # Threshold direction: the same-cluster sub-threshold pair (a1,a3)
    # shares cluster 0 but sits below the bar.
    assert cluster[1] == cluster[3]
    assert (1, 3) not in got


def test_vocab_oov_matches_python_recompute(spark):
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.curation import (
        VOCAB_TOP,
        vocab_oov_rate,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.lang: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in vocab_oov_rate(spark, SF).collect()
    }
    docs = [
        (r.lang, re.split(r"\s+", r.text.strip()))
        for r in load_table(spark, SF, "documents").collect()
        if r.text is not None
    ]
    freq = Counter(t for _, toks in docs for t in toks)
    vocab = {
        t for t, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_TOP]
    }
    exp: dict[str, list[int]] = {}
    for lang, toks in docs:
        n, oov = exp.setdefault(lang, [0, 0])
        exp[lang][0] += len(toks)
        exp[lang][1] += sum(1 for t in toks if t not in vocab)
    for lang, (n, oov) in exp.items():
        assert got[lang] == (n, oov, round(oov / n, 6))
    # Non-degenerate: some OOV must exist on the synthetic corpus.
    assert any(oov > 0 for _, oov in exp.values())


def test_bounded_init_probes_match_distributed_sample(spark):
    """The driver-side arithmetic-grid probes (IVF quantizer, k-means
    seed) must select exactly the rows the distributed strided sample
    selects — the contract that let the O(corpus) id-column scan be
    removed (VERDICT r2 'What's wrong' #4)."""
    import numpy as np

    from duckdb_gsheets_spark.functions.vectors import to_double
    from duckdb_gsheets_spark.operators.ml import (
        KMEANS_INIT_STRIDE,
        KMEANS_K,
        _init_centroids,
    )
    from duckdb_gsheets_spark.operators.similarity import (
        IVF_CENTROIDS,
        IVF_ID_STRIDE,
        _collect_ivf_inputs,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")

    centroid_rows, query_rows = _collect_ivf_inputs(spark, SF)
    want = (
        emb.where(F.col("vec_id") % IVF_ID_STRIDE == 0)
        .orderBy("vec_id")
        .limit(IVF_CENTROIDS)
        .select("vec_id", to_double(F.col("embedding")).alias("emb"))
        .collect()
    )
    assert [r.vec_id for r in centroid_rows] == [r.vec_id for r in want]
    assert [list(r.emb) for r in centroid_rows] == [list(r.emb) for r in want]
    assert [r.vec_id for r in query_rows] == sorted(
        r.vec_id for r in emb.where(F.col("vec_id") < 10).collect()
    )

    got_c = _init_centroids(SF, spark)
    want_c = (
        emb.where(F.col("vec_id") % KMEANS_INIT_STRIDE == 0)
        .orderBy("vec_id")
        .limit(KMEANS_K)
        .select(to_double(F.col("embedding")).alias("emb"))
        .collect()
    )
    assert np.array_equal(got_c, np.array([list(r.emb) for r in want_c]))


def test_bounded_dedup_variants_match_pair_recompute(spark):
    """The registered bounded queries (per-doc top-K Jaccard, per-doc
    containment rollup) must be exact functions of the all-pairs
    results they summarize."""
    from duckdb_gsheets_spark.operators.dedup import (
        NGRAM_TOPK_K,
        containment_pairs,
        dedup_containment,
        dedup_ngram_jaccard,
        ngram_jaccard_pairs,
    )

    pairs = [
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(spark, SF).collect()
    ]
    per_doc: dict[int, list[tuple[float, int]]] = {}
    for a, b, j in pairs:
        per_doc.setdefault(a, []).append((-j, b))
        per_doc.setdefault(b, []).append((-j, a))
    want = {
        (d, m, -nj, i + 1)
        for d, ms in per_doc.items()
        for i, (nj, m) in enumerate(sorted(ms)[:NGRAM_TOPK_K])
    }
    got = {
        (r.doc_id, r.match_id, r.jaccard, r.rank)
        for r in dedup_ngram_jaccard(spark, SF).collect()
    }
    assert got == want
    assert max(len(ms) for ms in per_doc.values()) > NGRAM_TOPK_K  # cap binds

    cp = [
        (r.doc_a, r.n_tokens_a, r.containment)
        for r in containment_pairs(spark, SF).collect()
    ]
    agg: dict[tuple[int, int], list[float]] = {}
    for a, n, c in cp:
        agg.setdefault((a, n), []).append(c)
    want_c = {
        (a, n, len(cs), max(cs)) for (a, n), cs in agg.items()
    }
    got_c = {
        (r.doc_a, r.n_tokens_a, r.n_hosts, r.max_containment)
        for r in dedup_containment(spark, SF).collect()
    }
    assert got_c == want_c


def test_dedup_savings_report_invariants(spark, tmp_path):
    """A 3-doc near-dup chain plus an unrelated doc: 2 survivors of 4,
    kept tokens bounded by input tokens, keep-rate consistent."""
    import os

    from duckdb_gsheets_spark.operators.dedup import dedup_savings_report

    base = BASE
    chain1 = base.replace("planner", "optimizer")
    chain2 = chain1.replace("driver", "coordinator")
    rows = [(1, base), (2, chain1), (3, chain2), (9, UNRELATED)]
    df = spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    out = dedup_savings_report(spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    assert r.lang == "en"
    assert r.n_docs_in == 4 and r.n_docs_kept == 2  # chain survivor + unrelated
    assert 0 < r.tokens_kept <= r.tokens_in
    assert abs(r.token_keep_rate - round(r.tokens_kept / r.tokens_in, 6)) < 1e-9


def test_source_overlap_matrix_is_canonical_and_bounded(spark, tmp_path):
    """Cross-source near-dup pairs roll up to canonicalized unordered
    source pairs; every Jaccard stat stays within [threshold, 1]."""
    import os

    from duckdb_gsheets_spark.operators.dedup import (
        MINHASH_JACCARD_THRESHOLD,
        source_overlap_matrix,
    )

    base = BASE
    near = base.replace("planner", "optimizer")
    rows = [
        (1, base, "crawlB"), (2, near, "crawlA"),  # cross-source near-dup
        (3, base, "crawlA"),                        # same-pair other order
        (9, UNRELATED, "crawlC"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    out = source_overlap_matrix(spark, sf_dir).collect()
    assert out, "planted cross-source near-dups must surface"
    for r in out:
        assert r.source_a <= r.source_b  # canonical unordered pair
        assert r.n_pairs >= 1
        assert MINHASH_JACCARD_THRESHOLD <= r.avg_jaccard <= r.max_jaccard <= 1.0


def test_vocab_tokenize_ids_matches_python_recompute(spark):
    """Tokenizer application against a direct Python replay: same
    top-K vocab ranking, same id stream digest, same OOV accounting."""
    import hashlib
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.curation import (
        VOCAB_TOP,
        vocab_tokenize_ids,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate, r.ids_digest)
        for r in vocab_tokenize_ids(spark, SF).collect()
    }
    docs = {
        r.doc_id: re.split(r"\s+", r.text.strip())
        for r in load_table(spark, SF, "documents").collect()
        if r.text is not None
    }
    freq = Counter(t for toks in docs.values() for t in toks)
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_TOP]
    vocab = {tok: i + 1 for i, (tok, _) in enumerate(ranked)}
    assert set(got) == set(docs)
    for d, toks in docs.items():
        ids = [vocab.get(t, 0) for t in toks]
        n_oov = sum(1 for i in ids if i == 0)
        digest = hashlib.md5(",".join(map(str, ids)).encode()).hexdigest()
        assert got[d] == (
            len(toks),
            n_oov,
            round(n_oov / len(toks), 6),
            digest,
        )
    # The signal is non-degenerate: both in-vocab and OOV tokens occur.
    assert any(v[1] > 0 for v in got.values())
    assert any(v[1] < v[0] for v in got.values())


def test_text_bigram_xent_matches_python_recompute(spark):
    """Bigram cross-entropy against a Counter/​math.log replay with the
    same 1e-9 scaled-long determinism boundary."""
    import math
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.curation import text_bigram_xent
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.n_tokens, r.bigram_xent)
        for r in text_bigram_xent(spark, SF).collect()
    }
    docs = {
        r.doc_id: re.split(r"\s+", r.text.strip())
        for r in load_table(spark, SF, "documents").collect()
        if r.text is not None
    }
    docs = {d: t for d, t in docs.items() if len(t) >= 2}
    bi = Counter()
    uni = Counter()
    for toks in docs.values():
        uni.update(toks)
        bi.update(zip(toks[:-1], toks[1:]))
    vsize = len(uni)
    assert set(got) == set(docs)
    for d, toks in docs.items():
        s = sum(
            int(round(math.log((bi[(a, b)] + 1.0) / (uni[a] + vsize)) * 1e9))
            for a, b in zip(toks[:-1], toks[1:])
        )
        expected = round(-s / 1e9 / (len(toks) - 1), 6)
        assert got[d] == (len(toks), expected)
    scores = [x for _, x in got.values()]
    assert min(scores) > 0 and max(scores) > min(scores)


def test_split_contamination_matches_python_recompute(spark):
    """Cross-split winnowing contamination against a full Python
    replay of fingerprints + the md5 split rule."""
    import hashlib
    import re

    from duckdb_gsheets_spark.functions.portable_hash import P, SHINGLE_A
    from duckdb_gsheets_spark.operators.sampling import (
        SPLIT_TEST_LO,
        SPLIT_VAL_LO,
        split_contamination_winnowing,
    )
    from duckdb_gsheets_spark.operators.text import WINNOW_K, WINNOW_W
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.split: (
            r.n_docs,
            r.n_fps,
            r.n_contaminated_fps,
            r.contamination_rate,
            r.n_docs_flagged,
        )
        for r in split_contamination_winnowing(spark, SF).collect()
    }

    def tok_mod_p(t: str) -> int:
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % P

    def fingerprints(text: str) -> set:
        toks = re.split(r"\s+", text.strip().lower())
        if len(toks) < WINNOW_K + WINNOW_W - 1:
            return set()
        ht = [tok_mod_p(t) for t in toks]
        gh = []
        for i in range(len(ht) - WINNOW_K + 1):
            g = ht[i]
            for j in range(1, WINNOW_K):
                g = (g * SHINGLE_A + ht[i + j]) % P
            gh.append(g)
        return {min(gh[i : i + WINNOW_W]) for i in range(len(gh) - WINNOW_W + 1)}

    def split_of(doc_id: int) -> str:
        prefix = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        if prefix < SPLIT_VAL_LO:
            return "train"
        return "val" if prefix < SPLIT_TEST_LO else "test"

    fps = {
        r.doc_id: fingerprints(r.text)
        for r in load_table(spark, SF, "documents").collect()
        if r.text is not None
    }
    train = set().union(
        *(f for d, f in fps.items() if split_of(d) == "train")
    )
    expected = {}
    for sp in ("val", "test"):
        members = {d: f for d, f in fps.items() if split_of(d) == sp and f}
        n_fps = sum(len(f) for f in members.values())
        n_hit = sum(len(f & train) for f in members.values())
        expected[sp] = (
            len(members),
            n_fps,
            n_hit,
            round(n_hit / n_fps, 6),
            sum(1 for f in members.values() if f & train),
        )
    assert got == expected
    # The audit is non-vacuous at this fixture: fingerprints exist on
    # both sides of the split boundary.
    assert all(v[1] > 0 for v in expected.values())


def test_label_centroid_similarity_matches_numpy(spark):
    """Centroid drift matrix against an exact numpy replay (scaled-
    long sums, left-to-right float accumulation, round-6)."""
    import numpy as np

    from duckdb_gsheets_spark.operators.ml import (
        EMB_SCALE,
        label_centroid_similarity,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.label_a, r.label_b): (r.n_a, r.n_b, r.cos_sim)
        for r in label_centroid_similarity(spark, SF).collect()
    }
    rows = load_table(spark, SF, "embeddings").collect()
    labels = sorted({r.label for r in rows})
    sums = {}
    counts = {}
    for lab in labels:
        M = np.array(
            [[float(x) for x in r.embedding] for r in rows if r.label == lab],
            dtype=np.float64,
        )
        sums[lab] = np.round(M * EMB_SCALE).sum(axis=0)
        counts[lab] = len(M)
    assert set(got) == {
        (a, b) for a in labels for b in labels if a < b
    }
    for (a, b), (n_a, n_b, cos) in got.items():
        va, vb = sums[a], sums[b]
        expected = float(va @ vb) / (
            float(np.sqrt(va @ va)) * float(np.sqrt(vb @ vb))
        )
        assert (n_a, n_b) == (counts[a], counts[b])
        assert abs(cos - round(expected, 6)) < 2e-6
    # Cosines vary and stay in [-1, 1].
    cs = [v[2] for v in got.values()]
    assert min(cs) >= -1.0 and max(cs) <= 1.0 and max(cs) > min(cs)


def test_events_path_topk_matches_python_recompute(spark):
    """Trigram path mining against a Counter replay over per-user
    (ts, event_id)-ordered streams."""
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.events import (
        PATH_TOPK,
        events_path_topk,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = [
        (r.path, r.n_occurrences, r.n_users)
        for r in events_path_topk(spark, SF).collect()
    ]
    streams = defaultdict(list)
    for r in load_table(spark, SF, "events").collect():
        streams[r.user_id].append((r.ts, r.event_id, r.event_type))
    occ = Counter()
    users = defaultdict(set)
    for uid, evs in streams.items():
        evs.sort()
        types = [t for _, _, t in evs]
        for i in range(len(types) - 2):
            p = ">".join(types[i : i + 3])
            occ[p] += 1
            users[p].add(uid)
    expected = sorted(
        ((p, n, len(users[p])) for p, n in occ.items()),
        key=lambda t: (-t[1], t[0]),
    )[:PATH_TOPK]
    assert got == expected
    assert len(got) == PATH_TOPK  # fixture has enough path diversity


def test_events_rollup_hypertable_matches_python_recompute(spark):
    """The daily stats served from hourly partials must equal a direct
    single-level Python recompute from raw rows — replayed here through
    an explicit two-level merge so the partial-combine path itself is
    exercised (hourly partials built first, then merged per day)."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import (
        events_rollup_hypertable,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.day_start, r.event_type): (
            r.n_events,
            r.sum_value,
            r.avg_value,
            r.min_value,
            r.max_value,
        )
        for r in events_rollup_hypertable(spark, SF).collect()
    }
    hourly = defaultdict(lambda: [0, 0, None, None])
    for r in load_table(spark, SF, "events").select("ts", "event_type", "value").collect():
        v = round(r.value * 100)
        key = (r.ts.replace(minute=0, second=0, microsecond=0), r.event_type)
        st = hourly[key]
        st[0] += 1
        st[1] += v
        st[2] = v if st[2] is None else min(st[2], v)
        st[3] = v if st[3] is None else max(st[3], v)
    daily = defaultdict(lambda: [0, 0, None, None])
    for (hour, etype), (n, s1, mn, mx) in hourly.items():
        st = daily[(str(hour.date()), etype)]
        st[0] += n
        st[1] += s1
        st[2] = mn if st[2] is None else min(st[2], mn)
        st[3] = mx if st[3] is None else max(st[3], mx)
    expected = {
        k: (n, s1 / 100.0, (s1 / 100.0) / n, mn / 100.0, mx / 100.0)
        for k, (n, s1, mn, mx) in daily.items()
    }
    assert got == expected
    # Non-vacuity: at least one day must span multiple hours, or the
    # merge path degenerates to a relabel.
    assert any(n > 1 for n, *_ in got.values())


def test_events_multigrain_users_matches_python_recompute(spark):
    """Distinct users at each grain against direct Python set counts;
    distinct must NOT roll up (the reason the grouping-sets pass
    exists), so also assert a day where summing per-type uniques
    over-counts the day's true uniques."""
    from duckdb_gsheets_spark.operators.events import (
        events_multigrain_users,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.day, r.event_type): (r.n_users, r.n_events)
        for r in events_multigrain_users(spark, SF).collect()
    }
    by_grain: dict[tuple, set] = {}
    counts: dict[tuple, int] = {}
    for r in load_table(spark, SF, "events").select("ts", "event_type", "user_id").collect():
        day = str(r.ts.date())
        for key in ((day, r.event_type), (day, None), (None, r.event_type)):
            by_grain.setdefault(key, set()).add(r.user_id)
            counts[key] = counts.get(key, 0) + 1
    expected = {k: (len(v), counts[k]) for k, v in by_grain.items()}
    assert got == expected
    days = {d for d, t in got if t is None and d is not None}
    assert any(
        sum(got[(d, t)][0] for d2, t in got if d2 == d and t is not None)
        > got[(d, None)][0]
        for d in days
    ), "no day with cross-type user overlap — rollup-vs-distinct untested"


def test_privacy_k_anonymity_matches_python_recompute(spark):
    """Band counts against a direct Python regroup; all three risk
    bands must be populated at the fixture SF or the banding paths are
    untested."""
    from duckdb_gsheets_spark.operators.events import (
        K_ANON,
        privacy_k_anonymity,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.band: (r.n_groups, r.n_events, r.user_slots, r.groups_share)
        for r in privacy_k_anonymity(spark, SF).collect()
    }
    groups: dict[tuple, set] = {}
    counts: dict[tuple, int] = {}
    for r in load_table(spark, SF, "events").select("ts", "event_type", "user_id").collect():
        k = (r.ts.date(), r.ts.hour, r.event_type)
        groups.setdefault(k, set()).add(r.user_id)
        counts[k] = counts.get(k, 0) + 1
    bands: dict[str, list[int]] = {}
    for k, users in groups.items():
        nu = len(users)
        b = (
            f"k_ge_{K_ANON}" if nu >= K_ANON
            else f"k_2_{K_ANON - 1}" if nu >= 2
            else "k_1"
        )
        st = bands.setdefault(b, [0, 0, 0])
        st[0] += 1
        st[1] += counts[k]
        st[2] += nu
    tot = sum(v[0] for v in bands.values())
    expected = {
        b: (g, e, u, round(g / tot, 6)) for b, (g, e, u) in bands.items()
    }
    assert got == expected
    # The fixture SF populates the risky bands; the safe k≥K band is
    # driven by the synthetic test below when absent here.
    assert {"k_1", f"k_2_{K_ANON - 1}"} <= set(got)


def test_k_anonymity_bands_synthetic_covers_safe_band(spark):
    """A synthetic frame with one ≥K-user group must land in the
    k_ge band with exact counts through the same banding core."""
    import datetime as dt

    from duckdb_gsheets_spark.operators.events import (
        K_ANON,
        k_anonymity_bands,
    )

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [(t0, "click", u) for u in range(K_ANON + 2)]  # one big group
    rows += [(t0.replace(hour=10), "view", 1), (t0.replace(hour=10), "view", 1)]
    rows += [(t0.replace(hour=11), "error", 1), (t0.replace(hour=11), "error", 2)]
    ev = spark.createDataFrame(
        rows, "ts timestamp, event_type string, user_id long"
    )
    got = {
        r.band: (r.n_groups, r.n_events, r.user_slots, r.groups_share)
        for r in k_anonymity_bands(ev).collect()
    }
    assert got == {
        f"k_ge_{K_ANON}": (1, K_ANON + 2, K_ANON + 2, round(1 / 3, 6)),
        "k_1": (1, 2, 1, round(1 / 3, 6)),
        f"k_2_{K_ANON - 1}": (1, 2, 2, round(1 / 3, 6)),
    }


def test_events_lateness_audit_real_stream_is_in_order(spark):
    """The generated stream arrives in event-time order, so the honest
    audit is a single all-on_time row with zero max lateness."""
    from duckdb_gsheets_spark.operators.events import events_lateness_audit

    rows = events_lateness_audit(spark, SF).collect()
    assert [(r.bucket, r.max_lateness_s) for r in rows] == [("on_time", 0.0)]


def test_lateness_buckets_synthetic_disorder_covers_all_paths(spark):
    """A deliberately shuffled synthetic stream must hit every bucket,
    and the tiled prefix-scan MAX must equal a direct Python running
    max regardless of partition count."""
    from duckdb_gsheets_spark.operators.events import (
        LATENESS_HOUR_US,
        LATENESS_MINUTE_US,
        lateness_buckets,
    )

    # Arrival slots (event_id asc) carry event times that jump ahead
    # and fall back by controlled amounts.
    minute, hour = LATENESS_MINUTE_US, LATENESS_HOUR_US
    us = [
        0,                    # on_time (first)
        10 * hour,            # on_time (new max)
        10 * hour - minute,   # le_1m
        10 * hour - hour,     # le_1h
        20 * hour,            # on_time (new max)
        5 * hour,             # gt_1h
        20 * hour,            # on_time (ties the max)
    ]
    ev = spark.createDataFrame(
        [(i, t) for i, t in enumerate(us)], "event_id long, us long"
    ).repartition(4)
    got = {
        r.bucket: (r.n_events, r.max_lateness_s)
        for r in lateness_buckets(ev).collect()
    }
    runmax, expected = -1, {}
    for t in us:
        runmax = max(runmax, t)
        late = runmax - t
        b = (
            "on_time" if late == 0
            else "le_1m" if late <= minute
            else "le_1h" if late <= hour
            else "gt_1h"
        )
        n, mx = expected.get(b, (0, 0))
        expected[b] = (n + 1, max(mx, late))
    assert got == {
        b: (n, round(mx / 1e6, 6)) for b, (n, mx) in expected.items()
    }
    assert set(got) == {"on_time", "le_1m", "le_1h", "gt_1h"}


def test_rollup_incremental_refresh_matches_full_recompute(spark):
    """The merged (base-partials ∪ fresh-hour-partials) day must equal
    the full batch rollup's row for that day, and the base/delta
    slices must BOTH be non-empty (otherwise the merge path is
    untested)."""
    from duckdb_gsheets_spark.operators.events import (
        events_rollup_hypertable,
        rollup_incremental_refresh,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.day_start, r.event_type): (
            r.n_events,
            r.sum_value,
            r.avg_value,
            r.min_value,
            r.max_value,
        )
        for r in rollup_incremental_refresh(spark, SF).collect()
    }
    days = {d for d, _ in got}
    assert len(days) == 1  # exactly the affected day
    full = {
        (r.day_start, r.event_type): (
            r.n_events,
            r.sum_value,
            r.avg_value,
            r.min_value,
            r.max_value,
        )
        for r in events_rollup_hypertable(spark, SF).collect()
        if r.day_start in days
    }
    assert got == full
    ts = [
        r.ts
        for r in load_table(spark, SF, "events").select("ts").collect()
    ]
    last = max(ts)
    last_hour = last.replace(minute=0, second=0, microsecond=0)
    day_events = [t for t in ts if t.date() == last.date()]
    assert any(t < last_hour for t in day_events), "base slice empty"
    assert any(t >= last_hour for t in day_events), "delta slice empty"


def test_events_cohort_ltv_matches_python_recompute(spark):
    """Cohort LTV against a dict replay: first-day cohorts, integer
    week offsets, exact cents."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import events_cohort_ltv
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.cohort_first_day, r.week_offset): (
            r.n_active_users,
            r.n_events,
            r.total_value,
        )
        for r in events_cohort_ltv(spark, SF).collect()
    }
    rows = load_table(spark, SF, "events").collect()
    first = {}
    for r in rows:
        d = r.ts.date()
        if r.user_id not in first or d < first[r.user_id]:
            first[r.user_id] = d
    cells = defaultdict(lambda: [set(), 0, 0])
    for r in rows:
        f = first[r.user_id]
        off = (r.ts.date() - f).days // 7
        cell = cells[(str(f), off)]
        cell[0].add(r.user_id)
        cell[1] += 1
        cell[2] += int(round(r.value * 100))
    expected = {
        k: (len(s), n, cents / 100.0) for k, (s, n, cents) in cells.items()
    }
    assert got == expected
    assert any(off > 0 for _, off in got)  # multi-week activity exists


def test_multimodal_shard_manifest_matches_python_recompute(spark):
    """Shard packing against a running-sum replay, plus the packer's
    invariants: shards are contiguous id ranges and every non-boundary
    shard stays within budget."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.multimodal import (
        SHARD_BUDGET_BYTES,
        media_table,
        multimodal_shard_manifest,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.format, r.shard_id): (r.n_items, r.shard_bytes, r.first_doc, r.last_doc)
        for r in multimodal_shard_manifest(spark, SF).collect()
    }
    media = {
        r.doc_id: (r.format, len(r.payload))
        for r in media_table(spark, SF).collect()
        if r.payload is not None
    }
    by_fmt = defaultdict(list)
    for doc_id in sorted(media):
        fmt, n = media[doc_id]
        by_fmt[fmt].append((doc_id, n))
    expected = {}
    for fmt, items in by_fmt.items():
        run = 0
        cells = defaultdict(lambda: [0, 0, None, None])
        for doc_id, n in items:
            shard = run // SHARD_BUDGET_BYTES
            run += n
            c = cells[shard]
            c[0] += 1
            c[1] += n
            c[2] = doc_id if c[2] is None else c[2]
            c[3] = doc_id
        for shard, c in cells.items():
            expected[(fmt, shard)] = tuple(c)
    assert got == expected
    assert len({s for _, s in got}) > 1  # budget forces multiple shards


def test_embedding_outliers_matches_numpy(spark):
    """Per-label outlier ranking against a numpy replay of the
    centroid cosine."""
    import numpy as np

    from duckdb_gsheets_spark.operators.ml import (
        EMB_SCALE,
        OUTLIER_TOPK,
        embedding_outliers,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.label, r.rank): (r.vec_id, r.cos_centroid)
        for r in embedding_outliers(spark, SF).collect()
    }
    rows = load_table(spark, SF, "embeddings").collect()
    labels = sorted({r.label for r in rows})
    for lab in labels:
        members = [
            (r.vec_id, np.array([float(x) for x in r.embedding]))
            for r in rows
            if r.label == lab
        ]
        s = np.round(
            np.stack([v for _, v in members]) * EMB_SCALE
        ).sum(axis=0)
        scored = sorted(
            (
                round(
                    float(v @ s)
                    / (float(np.linalg.norm(v)) * float(np.linalg.norm(s))),
                    6,
                ),
                vec_id,
            )
            for vec_id, v in members
        )[:OUTLIER_TOPK]
        for rank, (cos, vec_id) in enumerate(scored, start=1):
            g_vec, g_cos = got[(lab, rank)]
            assert g_vec == vec_id
            assert abs(g_cos - cos) < 2e-6
    assert len(got) == len(labels) * OUTLIER_TOPK


def test_doc_length_histogram_matches_python_recompute(spark):
    """Log2 bucket histogram against an int.bit_length replay."""
    import re
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.curation import doc_length_histogram
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.source, r.bucket): (r.len_lo, r.len_hi, r.n_docs, r.total_tokens)
        for r in doc_length_histogram(spark, SF).collect()
    }
    cells = defaultdict(lambda: [0, 0])
    for r in load_table(spark, SF, "documents").collect():
        if r.text is None:
            continue
        n = len(re.split(r"\s+", r.text.strip()))
        b = n.bit_length()
        cells[(r.source, b)][0] += 1
        cells[(r.source, b)][1] += n
    expected = {
        (src, b): (1 << (b - 1), (1 << b) - 1, nd, nt)
        for (src, b), (nd, nt) in cells.items()
    }
    assert got == expected
    assert len({b for _, b in got}) > 1  # heavy tail spans buckets


def test_quality_signal_correlation_matches_python_recompute(spark):
    """Pearson r between quality and xent against an exact integer
    co-moment replay (reusing the operator's own per-doc signals,
    which have their own independent recompute tests)."""
    import math
    from collections import defaultdict

    from duckdb_gsheets_spark.functions import text as T
    from duckdb_gsheets_spark.operators.curation import (
        quality_signal_correlation,
        text_unigram_xent,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.lang: (r.n, r.corr_quality_xent)
        for r in quality_signal_correlation(spark, SF).collect()
    }
    xent = {
        r.doc_id: r.unigram_xent
        for r in text_unigram_xent(spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents")
    quality = {
        r.doc_id: (r.lang, r.quality)
        for r in docs.where(docs.text.isNotNull())
        .select("doc_id", "lang", T.quality_score(docs.text).alias("quality"))
        .collect()
    }
    moments = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for d, xe in xent.items():
        lang, q = quality[d]
        x = int(round(q * 1e6))
        y = int(round(xe * 1e6))
        m = moments[lang]
        m[0] += 1
        m[1] += x
        m[2] += y
        m[3] += x * x
        m[4] += y * y
        m[5] += x * y
    expected = {}
    for lang, (n, sx, sy, sxx, syy, sxy) in moments.items():
        r = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )
        expected[lang] = (n, round(r, 6))
    assert set(got) == set(expected)
    for lang in expected:
        assert got[lang][0] == expected[lang][0]
        assert abs(got[lang][1] - expected[lang][1]) < 2e-6
        assert -1.0 <= got[lang][1] <= 1.0


def test_dedup_upweight_manifest_consistent_with_clusters(spark):
    """The upweight manifest must be exactly the per-cluster rollup of
    dedup_clusters: same representatives, weights equal to cluster
    sizes, weighted tokens = weight x the representative's own token
    count, and total weight = corpus size (nothing dropped)."""
    import re

    from duckdb_gsheets_spark.operators.dedup import (
        dedup_clusters,
        dedup_upweight_manifest,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.rep_doc: (r.weight, r.rep_tokens, r.weighted_tokens)
        for r in dedup_upweight_manifest(spark, SF).collect()
    }
    clusters = dedup_clusters(spark, SF).collect()
    sizes = {}
    for r in clusters:
        sizes.setdefault(r.cluster_id, r.cluster_size)
    toks = {
        r.doc_id: (
            len(re.split(r"\s+", r.text.strip())) if r.text is not None else 0
        )
        for r in load_table(spark, SF, "documents").collect()
    }
    assert set(got) == set(sizes)
    for rep, (w, rt, wt) in got.items():
        assert w == sizes[rep]
        assert rt == toks[rep]
        assert wt == w * rt
    assert sum(w for w, _, _ in got.values()) == len(clusters)
    assert any(w > 1 for w, _, _ in got.values())  # real dup clusters


def test_dedup_threshold_sweep_matches_pair_set(spark):
    """The sweep must be exactly the per-bar rollup of the open-
    threshold verified pair set, and monotone: higher bars keep fewer
    pairs at higher average similarity."""
    from duckdb_gsheets_spark.operators.dedup import (
        SWEEP_THRESHOLDS,
        _verified_minhash_pairs,
        dedup_threshold_sweep,
        minhash_signatures,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.threshold: (r.n_pairs, r.avg_jaccard)
        for r in dedup_threshold_sweep(spark, SF).collect()
    }
    pairs = [
        r.jaccard
        for r in _verified_minhash_pairs(
            minhash_signatures(load_table(spark, SF, "documents")),
            threshold=0.0,
        ).collect()
    ]
    expected = {}
    for t in SWEEP_THRESHOLDS:
        kept = [int(round(j * 1e6)) for j in pairs if j >= t]
        if kept:
            expected[t] = (len(kept), round(sum(kept) / (len(kept) * 1e6), 6))
    assert got == expected
    bars = sorted(got)
    assert len(bars) >= 2  # fixture spans thresholds
    for lo, hi in zip(bars, bars[1:]):
        assert got[lo][0] >= got[hi][0]
        assert got[lo][1] <= got[hi][1]


def test_dedup_quality_interaction_matches_python(spark):
    """Band averages against a replay over dedup_clusters + the
    quality scorer."""
    from duckdb_gsheets_spark.functions import text as T
    from duckdb_gsheets_spark.operators.dedup import (
        dedup_clusters,
        dedup_quality_interaction,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.dup_band: (r.n_docs, r.avg_quality)
        for r in dedup_quality_interaction(spark, SF).collect()
    }
    band_of = {}
    for r in dedup_clusters(spark, SF).collect():
        s = r.cluster_size
        band_of[r.doc_id] = (
            "unique" if s == 1 else "dup_2_4" if s <= 4 else "dup_5_plus"
        )
    docs = load_table(spark, SF, "documents")
    quality = {
        r.doc_id: r.q
        for r in docs.where(docs.text.isNotNull())
        .select("doc_id", T.quality_score(docs.text).alias("q"))
        .collect()
    }
    from collections import defaultdict

    cells = defaultdict(list)
    for d, q in quality.items():
        cells[band_of[d]].append(int(round(q * 1e6)))
    expected = {
        b: (len(v), round(sum(v) / (len(v) * 1e6), 6))
        for b, v in cells.items()
    }
    assert got == expected
    assert "unique" in got and len(got) >= 2  # dup bands exist


def test_events_bounce_rate_matches_sessionizer(spark):
    """Bounce rollup against the sessionizer's own output."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import (
        events_bounce_rate,
        events_sessionize,
    )

    got = {
        r.day: (r.n_sessions, r.n_bounces, r.bounce_rate)
        for r in events_bounce_rate(spark, SF).collect()
    }
    cells = defaultdict(lambda: [0, 0])
    for r in events_sessionize(spark, SF).collect():
        day = r.session_start[:10]
        cells[day][0] += 1
        cells[day][1] += 1 if r.n_events == 1 else 0
    expected = {
        d: (n, b, round(b / n, 6)) for d, (n, b) in cells.items()
    }
    assert got == expected
    assert any(b > 0 for _, b, _ in got.values())


def test_events_interarrival_matches_python(spark):
    """Inter-arrival quantiles against a numpy linear-interpolation
    replay of per-(user, type) gaps."""
    from collections import defaultdict

    import numpy as np

    from duckdb_gsheets_spark.operators.events import (
        events_interarrival_quantiles,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.event_type: (r.n_gaps, r.p50_s, r.p90_s, r.p99_s)
        for r in events_interarrival_quantiles(spark, SF).collect()
    }
    streams = defaultdict(list)
    for r in load_table(spark, SF, "events").collect():
        streams[(r.user_id, r.event_type)].append((r.ts, r.event_id))
    gaps = defaultdict(list)
    for (_, etype), evs in streams.items():
        evs.sort()
        for (a, _), (b, _) in zip(evs, evs[1:]):
            gaps[etype].append((b - a) / pd_timedelta_us())
    for etype, (n, p50, p90, p99) in got.items():
        g = np.array(sorted(gaps[etype]), dtype=np.float64)
        assert n == len(g)
        for p, val in ((0.5, p50), (0.9, p90), (0.99, p99)):
            exp = round(float(np.quantile(g, p, method="linear")) / 1e6, 6)
            assert abs(val - exp) < 2e-6, (etype, p, val, exp)


def pd_timedelta_us():
    """datetime subtraction → timedelta; convert via microseconds=1."""
    import datetime

    return datetime.timedelta(microseconds=1)


def test_nprobe_curve_monotone_and_consistent_with_recall_report(spark):
    """Recall must be non-decreasing in probe depth, and the deepest
    point must equal the recall report's IVF row exactly."""
    from duckdb_gsheets_spark.operators.similarity import (
        IVF_NPROBE,
        NPROBE_SWEEP,
        ann_nprobe_recall_curve,
        ann_recall_report,
    )

    got = {
        r.nprobe: (r.n_queries, r.mean_recall, r.min_recall, r.n_perfect)
        for r in ann_nprobe_recall_curve(spark, SF).collect()
    }
    assert set(got) == set(NPROBE_SWEEP)
    depths = sorted(got)
    for lo, hi in zip(depths, depths[1:]):
        assert got[lo][1] <= got[hi][1]  # mean recall non-decreasing
        assert got[lo][3] <= got[hi][3]  # perfect queries non-decreasing
    ivf_row = {
        r.method: (r.n_queries, r.mean_recall, r.min_recall, r.n_perfect)
        for r in ann_recall_report(spark, SF).collect()
    }["ivf"]
    assert got[IVF_NPROBE] == ivf_row
    assert got[max(depths)][1] > 0  # the index finds something


def test_events_anomaly_mad_matches_python(spark):
    """MAD outliers against a numpy median replay, plus the robust
    property: every flagged event is also beyond the plain 3-MAD
    deviation bar recomputed from scratch."""
    from collections import defaultdict

    import numpy as np

    from duckdb_gsheets_spark.operators.events import (
        MAD_K,
        MAD_SIGMA,
        events_anomaly_mad,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.event_id: (r.event_type, r.value, r.median_value, r.mad_score)
        for r in events_anomaly_mad(spark, SF).collect()
    }
    by_type = defaultdict(list)
    for r in load_table(spark, SF, "events").collect():
        by_type[r.event_type].append((r.event_id, r.value))
    expected = {}
    for etype, rows in by_type.items():
        vals = np.array([v for _, v in rows])
        med = float(np.quantile(vals, 0.5, method="linear"))
        mad = float(np.quantile(np.abs(vals - med), 0.5, method="linear"))
        if mad <= 0:
            continue
        for eid, v in rows:
            score = abs(v - med) / (mad * MAD_SIGMA)
            if score > MAD_K:
                expected[eid] = (etype, v, round(med, 6), round(score, 6))
    assert set(got) == set(expected)
    for eid, (etype, v, med, score) in expected.items():
        g = got[eid]
        assert g[0] == etype and g[1] == v and g[2] == med
        assert abs(g[3] - score) < 2e-6
    assert expected, "fixture must contain MAD outliers"


def test_prefix_sum_tiling_invariant_to_partition_count(spark):
    """The distributed prefix-sum rewrites (window_ntile,
    vocab_coverage_curve, orders_pareto_share) must produce IDENTICAL
    results at any shuffle-partition count — the property that makes
    the pid-offset tiling a safe replacement for the single global
    window. Runs each at 1, 5 and 32 partitions (1 = the degenerate
    all-in-one-tile case; 32 > |distinct pareto deciles|)."""
    from duckdb_gsheets_spark.operators.curation import vocab_coverage_curve
    from duckdb_gsheets_spark.operators.tpch_extra import orders_pareto_share
    from duckdb_gsheets_spark.operators.windows import window_ntile

    original = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("1", "5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results[n] = {
                "ntile": sorted(
                    map(tuple, window_ntile(spark, SF).collect())
                ),
                "coverage": sorted(
                    map(tuple, vocab_coverage_curve(spark, SF).collect())
                ),
                "pareto": sorted(
                    map(tuple, orders_pareto_share(spark, SF).collect())
                ),
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    for key in ("ntile", "coverage", "pareto"):
        assert results["1"][key] == results["5"][key] == results["32"][key], key
        assert results["1"][key], key  # non-empty


def test_doc_ngram_novelty_matches_python(spark):
    """Novelty shares against a set-arithmetic replay over the same
    shingle sets the MinHash family uses, plus the planted-duplicate
    property: exact copies have novelty 0 (every gram shared)."""
    from collections import Counter

    from duckdb_gsheets_spark.operators.dedup import (
        doc_ngram_novelty,
        minhash_signatures,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.n_grams, r.n_novel, r.novelty_rate)
        for r in doc_ngram_novelty(spark, SF).collect()
    }
    sets = {
        r.doc_id: set(r.shingles)
        for r in minhash_signatures(
            load_table(spark, SF, "documents")
        ).collect()
    }
    df = Counter(g for s in sets.values() for g in s)
    expected = {}
    for d, s in sets.items():
        novel = sum(1 for g in s if df[g] == 1)
        expected[d] = (len(s), novel, round(novel / len(s), 6))
    assert got == expected
    rates = [r for _, _, r in got.values()]
    assert min(rates) < 1.0 and max(rates) > 0.0  # both signals occur


def test_order_ship_delay_matches_python(spark):
    """Per-priority delay quantiles against a numpy replay."""
    from collections import defaultdict

    import numpy as np

    from duckdb_gsheets_spark.operators.tpch_extra import (
        SLA_DAYS,
        order_ship_delay_quantiles,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.o_orderpriority: (
            r.n_items,
            r.past_sla_share,
            r.p50_days,
            r.p90_days,
            r.p99_days,
        )
        for r in order_ship_delay_quantiles(spark, SF).collect()
    }
    orders = {
        r.o_orderkey: (r.o_orderpriority, r.o_orderdate)
        for r in load_table(spark, SF, "orders").collect()
    }
    delays = defaultdict(list)
    for r in load_table(spark, SF, "lineitem").collect():
        pri, odate = orders[r.l_orderkey]
        delays[pri].append((r.l_shipdate - odate).days)
    for pri, (n, share, p50, p90, p99) in got.items():
        d = np.array(sorted(delays[pri]), dtype=np.float64)
        assert n == len(d)
        assert share == round(sum(1 for x in d if x > SLA_DAYS) / len(d), 6)
        for p, val in ((0.5, p50), (0.9, p90), (0.99, p99)):
            exp = round(float(np.quantile(d, p, method="linear")), 6)
            assert abs(val - exp) < 2e-6
    assert set(got) == set(delays)


def test_pipeline_media_corpus_consistent_with_parts(spark):
    """The composed media pipeline must equal payload-dedup survivors
    re-packed: survivor budget math from multimodal_payload_dedup,
    shard boundaries from the same greedy rule, and the dropped-dup
    total equal to corpus minus survivors."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.multimodal import (
        SHARD_BUDGET_BYTES,
        media_table,
        multimodal_payload_dedup,
        pipeline_media_corpus,
    )

    got = {
        (r.format, r.shard_id): (
            r.n_items,
            r.shard_bytes,
            r.first_doc,
            r.last_doc,
            r.n_dupes_dropped,
        )
        for r in pipeline_media_corpus(spark, SF).collect()
    }
    dedup = [
        r
        for r in multimodal_payload_dedup(spark, SF).collect()
        if r.payload_md5 is not None
    ]
    by_fmt = defaultdict(list)
    for r in dedup:
        # byte_len of the group = reclaimable/(n-1) only when n>1, so
        # recompute from the media table for exactness.
        by_fmt[r.format].append((r.survivor_doc_id, r.n_copies))
    sizes = {
        r.doc_id: len(r.payload)
        for r in media_table(spark, SF).collect()
        if r.payload is not None
    }
    expected = {}
    for fmt, items in by_fmt.items():
        run = 0
        cells = defaultdict(lambda: [0, 0, None, None, 0])
        for doc_id, n_copies in sorted(items):
            nb = sizes[doc_id]
            shard = run // SHARD_BUDGET_BYTES
            run += nb
            c = cells[shard]
            c[0] += 1
            c[1] += nb
            c[2] = doc_id if c[2] is None else c[2]
            c[3] = doc_id
            c[4] += n_copies - 1
        for shard, c in cells.items():
            expected[(fmt, shard)] = tuple(c)
    assert got == expected
    total_dropped = sum(v[4] for v in got.values())
    assert total_dropped == len(sizes) - sum(v[0] for v in got.values())


def test_pipeline_media_corpus_drops_planted_dups(spark, tmp_path):
    """Planted byte-identical payloads: the composed pipeline must
    pack only survivors and report the dropped copies (the fixture
    corpus has near-dups but no byte-identical texts, so the dedup
    dimension needs a planted frame to be non-vacuous)."""
    import os

    from duckdb_gsheets_spark.operators.multimodal import (
        pipeline_media_corpus,
    )

    rows = [
        (0, "alpha payload bytes"),
        (3, "alpha payload bytes"),   # same format lane (0 % 3 == 3 % 3)
        (6, "alpha payload bytes"),   # third copy, same lane
        (1, "beta payload"),
        (2, "gamma payload"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "srcA", len(t)) for i, t in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))
    out = {
        (r.format, r.shard_id): (r.n_items, r.n_dupes_dropped, r.first_doc)
        for r in pipeline_media_corpus(spark, sf_dir).collect()
    }
    # doc 0/3/6 share format lane "png" and identical bytes: one
    # survivor (doc 0), two dropped; the other lanes keep their docs.
    assert out[("png", 0)] == (1, 2, 0)
    assert sum(v[0] for v in out.values()) == 3  # 3 survivors total
    assert sum(v[1] for v in out.values()) == 2


def test_text_char_entropy_matches_python(spark):
    """Char entropy against a Counter/math.log replay with the same
    1e-9 grid, plus the signal properties: repeated-char text scores
    0, and entropy never exceeds ln(alphabet size)."""
    import math
    from collections import Counter

    from duckdb_gsheets_spark.operators.text import text_char_entropy
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.n_chars_counted, r.n_distinct_chars, r.char_entropy)
        for r in text_char_entropy(spark, SF).collect()
    }
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, SF, "documents").collect()
        if r.text is not None
    }
    assert set(got) == set(docs)
    for d, text in docs.items():
        counts = Counter(text)
        n = sum(counts.values())
        s = sum(
            c * int(round(math.log(c / n) * 1e9)) for c in counts.values()
        )
        expected = round(-s / 1e9 / n, 6)
        assert got[d] == (n, len(counts), expected)
        assert got[d][2] <= round(math.log(len(counts)), 6) + 1e-6
    assert max(h for _, _, h in got.values()) > 1.0  # natural text


def test_customer_order_gap_matches_python(spark):
    """Per-segment order-gap quantiles against a numpy replay."""
    from collections import defaultdict

    import numpy as np

    from duckdb_gsheets_spark.operators.tpch_extra import (
        customer_order_gap_quantiles,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.c_mktsegment: (r.n_gaps, r.p50_days, r.p90_days, r.p99_days)
        for r in customer_order_gap_quantiles(spark, SF).collect()
    }
    seg = {
        r.c_custkey: r.c_mktsegment
        for r in load_table(spark, SF, "customer").collect()
    }
    orders = defaultdict(list)
    for r in load_table(spark, SF, "orders").collect():
        orders[r.o_custkey].append((r.o_orderdate, r.o_orderkey))
    gaps = defaultdict(list)
    for ck, os_ in orders.items():
        os_.sort()
        for (a, _), (b, _) in zip(os_, os_[1:]):
            gaps[seg[ck]].append((b - a).days)
    assert set(got) == {s for s, g in gaps.items() if g}
    for s, (n, p50, p90, p99) in got.items():
        g = np.array(sorted(gaps[s]), dtype=np.float64)
        assert n == len(g)
        for p, val in ((0.5, p50), (0.9, p90), (0.99, p99)):
            exp = round(float(np.quantile(g, p, method="linear")), 6)
            assert abs(val - exp) < 2e-6


def test_events_error_share_matches_python(spark):
    """Daily error-share timeline against a dict replay."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import events_error_share_daily
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.day: (r.n_events, r.n_errors, r.error_share, r.n_users_affected)
        for r in events_error_share_daily(spark, SF).collect()
    }
    cells = defaultdict(lambda: [0, 0, set()])
    for r in load_table(spark, SF, "events").collect():
        c = cells[str(r.ts.date())]
        c[0] += 1
        if r.event_type == "error":
            c[1] += 1
            c[2].add(r.user_id)
    expected = {
        d: (n, e, round(e / n, 6), len(u)) for d, (n, e, u) in cells.items()
    }
    assert got == expected
    assert any(e > 0 for _, e, _, _ in got.values())


def test_orders_open_backlog_matches_python(spark):
    """Interval-delta backlog against a per-day dict replay, plus the
    invariants the delta encoding must satisfy: the backlog is always
    >= 0 and the terminal backlog equals the orders that never close
    (no line items)."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.tpch_extra import orders_open_backlog
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = [
        (r.day, r.n_opened, r.n_closed, r.backlog)
        for r in orders_open_backlog(spark, SF).orderBy("day").collect()
    ]

    lastship = {}
    for r in load_table(spark, SF, "lineitem").collect():
        d = r.l_shipdate.date()
        k = r.l_orderkey
        if k not in lastship or d > lastship[k]:
            lastship[k] = d
    opened = defaultdict(int)
    closed = defaultdict(int)
    never_closed = 0
    for r in load_table(spark, SF, "orders").collect():
        start = r.o_orderdate.date()
        opened[start] += 1
        if r.o_orderkey in lastship:
            closed[max(start, lastship[r.o_orderkey])] += 1
        else:
            never_closed += 1
    days = sorted(set(opened) | set(closed))
    bl = 0
    expected = []
    for d in days:
        bl += opened[d] - closed[d]
        expected.append((str(d), opened[d], closed[d], bl))
    assert got == expected
    assert all(b >= 0 for _, _, _, b in got)
    assert got[-1][3] == never_closed


def test_events_wow_change_matches_python(spark):
    """Week-over-week deltas against a dict replay (Monday-start
    weeks), including the NULL first-week rule per event type."""
    from collections import defaultdict
    from datetime import timedelta

    from duckdb_gsheets_spark.operators.events import events_wow_change
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.week, r.event_type): (r.n_events, r.prev_events, r.wow_change)
        for r in events_wow_change(spark, SF).collect()
    }
    weekly = defaultdict(int)
    for r in load_table(spark, SF, "events").collect():
        d = r.ts.date()
        weekly[(d - timedelta(days=d.weekday()), r.event_type)] += 1
    expected = {}
    for (wk, et), n in weekly.items():
        prev = weekly.get((wk - timedelta(days=7), et))
        change = round((n - prev) / prev, 6) if prev else None
        expected[(str(wk), et)] = (n, prev, change)
    assert got == expected
    assert any(p is None for _, p, _ in got.values())
    assert any(p is not None for _, p, _ in got.values())


def test_text_type_token_ratio_matches_python(spark):
    """Per-doc TTR/hapax against a Counter replay."""
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.text import text_type_token_ratio
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.lang, r.n_tokens, r.n_types, r.ttr, r.n_hapax, r.hapax_share)
        for r in text_type_token_ratio(spark, SF).collect()
    }
    expected = {}
    for r in load_table(spark, SF, "documents").collect():
        if r.text is None:
            continue
        c = Counter(re.split(r"\s+", r.text.strip().lower()))
        total = sum(c.values())
        types = len(c)
        hapax = sum(1 for v in c.values() if v == 1)
        expected[r.doc_id] = (
            r.lang, total, types, round(types / total, 6),
            hapax, round(hapax / types, 6),
        )
    assert got == expected
    assert all(t[3] <= 1.0 for t in got.values())


def test_vocab_freq_spectrum_matches_python(spark):
    """Frequency-of-frequencies spectrum against a Counter replay;
    bucket boundaries are exact powers of two and the mass shares sum
    to 1."""
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.curation import vocab_freq_spectrum
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = vocab_freq_spectrum(spark, SF).collect()
    got = {
        r.bucket: (r.freq_lo, r.freq_hi, r.n_types, r.token_mass, r.mass_share)
        for r in rows
    }
    counts = Counter()
    for r in load_table(spark, SF, "documents").collect():
        if r.text is not None:
            counts.update(re.split(r"\s+", r.text.strip()))
    spec = Counter()
    mass = Counter()
    for cnt in counts.values():
        b = cnt.bit_length()
        spec[b] += 1
        mass[b] += cnt
    total = sum(mass.values())
    expected = {
        b: (1 << (b - 1), (1 << b) - 1, spec[b], mass[b],
            round(mass[b] / total, 6))
        for b in spec
    }
    assert got == expected
    assert abs(sum(r.mass_share for r in rows) - 1.0) < 1e-4


def test_vocab_growth_curve_matches_python(spark):
    """Heaps'-law curve against a set-union replay: per-batch new
    types must equal the delta of the cumulative distinct vocabulary,
    which the min-batch trick is supposed to reproduce without
    prefix re-scans."""
    import re

    from duckdb_gsheets_spark.operators.curation import (
        N_GROWTH_BATCHES,
        vocab_growth_curve,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = sorted(
        vocab_growth_curve(spark, SF).collect(), key=lambda r: r.batch
    )
    docs = [
        (r.doc_id, re.split(r"\s+", r.text.strip()))
        for r in load_table(spark, SF, "documents").collect()
        if r.text is not None
    ]
    max_id = max(d for d, _ in docs)
    batches = {}
    for d, toks in docs:
        batches.setdefault(
            (d * N_GROWTH_BATCHES) // (max_id + 1), []
        ).append(toks)
    seen = set()
    cum_toks = 0
    expected = []
    for b in sorted(batches):
        n_docs = len(batches[b])
        n_tokens = sum(len(t) for t in batches[b])
        cum_toks += n_tokens
        before = len(seen)
        for t in batches[b]:
            seen.update(t)
        expected.append(
            (b, n_docs, n_tokens, cum_toks, len(seen) - before, len(seen))
        )
    assert [
        (r.batch, r.n_docs, r.n_tokens, r.cum_tokens, r.n_new_types, r.cum_types)
        for r in rows
    ] == expected
    assert rows[-1].cum_types == len(seen)


def test_dedup_cluster_size_hist_matches_clusters(spark):
    """The histogram must be exactly the size distribution of
    dedup_clusters' components, and its doc mass must cover the
    corpus."""
    from collections import Counter

    from duckdb_gsheets_spark.operators.dedup import (
        dedup_cluster_size_hist,
        dedup_clusters,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.cluster_size: (r.n_clusters, r.n_docs, r.n_removed)
        for r in dedup_cluster_size_hist(spark, SF).collect()
    }
    sizes = Counter(
        r.cluster_size
        for r in dedup_clusters(spark, SF).collect()
        if r.is_survivor
    )
    expected = {
        s: (n, n * s, n * (s - 1)) for s, n in sizes.items()
    }
    assert got == expected
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(d for _, d, _ in got.values()) == n_docs


def test_knn_label_probe_matches_numpy(spark):
    """Majority-vote kNN against a numpy brute-force replay with the
    same rounded-cosine ranking and smallest-label tiebreaks."""
    from collections import Counter

    import numpy as np

    from duckdb_gsheets_spark.operators.similarity import (
        N_QUERY_VECTORS,
        TOPK_K,
        knn_label_probe,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.vec_a: (r.true_label, r.pred_label, r.votes, r.correct)
        for r in knn_label_probe(spark, SF).collect()
    }
    rows = load_table(spark, SF, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    labels = {r.vec_id: r.label for r in rows}
    expected = {}
    for qid in range(N_QUERY_VECTORS):
        q = vecs[qid]
        qn = np.sqrt(np.dot(q, q))
        scored = sorted(
            (
                (-round(float(np.dot(q, v) / (qn * np.sqrt(np.dot(v, v)))), 6), b)
                for b, v in vecs.items()
                if b != qid
            )
        )[:TOPK_K]
        votes = Counter(labels[b] for _, b in scored)
        best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
        expected[qid] = (
            labels[qid], best[0], best[1], best[0] == labels[qid]
        )
    assert got == expected
    assert len(got) == N_QUERY_VECTORS


def test_events_churn_weekly_matches_python(spark):
    """Lifecycle ledger against a per-user week-set replay, plus the
    conservation law: new + resurrected + continuing = active."""
    from collections import defaultdict
    from datetime import timedelta

    from duckdb_gsheets_spark.operators.events import events_churn_weekly
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.week: (r.n_active, r.n_churned, r.churn_rate, r.n_new, r.n_resurrected)
        for r in events_churn_weekly(spark, SF).collect()
    }
    user_weeks = defaultdict(set)
    for r in load_table(spark, SF, "events").collect():
        d = r.ts.date()
        user_weeks[r.user_id].add(d - timedelta(days=d.weekday()))
    cells = defaultdict(lambda: [0, 0, 0, 0])  # active, churned, new, res
    for weeks in user_weeks.values():
        ordered = sorted(weeks)
        for i, wk in enumerate(ordered):
            c = cells[str(wk)]
            c[0] += 1
            nxt = ordered[i + 1] if i + 1 < len(ordered) else None
            if nxt is None or (nxt - wk).days > 7:
                c[1] += 1
            if i == 0:
                c[2] += 1
            elif (wk - ordered[i - 1]).days > 7:
                c[3] += 1
    expected = {
        wk: (a, ch, round(ch / a, 6), nw, rs)
        for wk, (a, ch, nw, rs) in cells.items()
    }
    assert got == expected
    # Conservation: every active user is new, resurrected, or continuing
    # from exactly the previous week; check via the complement count.
    for wk, (a, ch, rate, nw, rs) in got.items():
        assert 0 <= nw + rs <= a


def test_text_blocklist_screen_matches_python(spark):
    """Blocklist screen against a Counter replay; absent terms must
    surface through the zero-hit LEFT-join path, and the flag rate is
    bounded by 1."""
    import re
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.text import (
        BLOCKLIST_TERMS,
        text_blocklist_screen,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.source: (r.n_docs, r.n_docs_flagged, r.flag_rate, r.n_hits,
                   r.top_term, r.top_term_hits)
        for r in text_blocklist_screen(spark, SF).collect()
    }
    n_docs = Counter()
    flagged = defaultdict(set)
    hits = Counter()
    term_hits = Counter()
    for r in load_table(spark, SF, "documents").collect():
        if r.text is None:
            continue
        n_docs[r.source] += 1
        for tok in re.split(r"\s+", r.text.strip().lower()):
            if tok in BLOCKLIST_TERMS:
                flagged[r.source].add(r.doc_id)
                hits[r.source] += 1
                term_hits[(r.source, tok)] += 1
    expected = {}
    for src, n in n_docs.items():
        fl = len(flagged[src])
        per_term = sorted(
            ((t, c) for (s, t), c in term_hits.items() if s == src),
            key=lambda tc: (-tc[1], tc[0]),
        )
        top, top_n = per_term[0] if per_term else (None, 0)
        expected[src] = (n, fl, round(fl / n, 6), hits[src], top, top_n)
    assert got == expected
    assert all(0.0 <= t[2] <= 1.0 for t in got.values())


def test_window_nth_value_matches_python(spark):
    """nth_value runner-up frame against a per-customer sort replay."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.windows import window_nth_value
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.o_orderkey: (r.second_best, r.third_best)
        for r in window_nth_value(spark, SF).collect()
    }
    by_cust = defaultdict(list)
    orders = load_table(spark, SF, "orders").collect()
    for r in orders:
        by_cust[r.o_custkey].append((-r.o_totalprice, r.o_orderkey))
    for r in orders:
        ranked = sorted(by_cust[r.o_custkey])
        second = -ranked[1][0] if len(ranked) > 1 else None
        third = -ranked[2][0] if len(ranked) > 2 else None
        assert got[r.o_orderkey] == (second, third)


def test_basket_pair_lift_matches_python(spark):
    """Lift/confidence against a set-based replay over the pair and
    item supports."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.tpch_extra import basket_pair_lift
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = basket_pair_lift(spark, SF).collect()
    assert rows, "top pair table must be non-empty at the fixture SF"
    baskets = defaultdict(set)
    for r in load_table(spark, SF, "lineitem").collect():
        baskets[r.l_orderkey].add(r.l_partkey)
    n = len(baskets)
    supp = defaultdict(int)
    pair_supp = defaultdict(int)
    for parts in baskets.values():
        for p in parts:
            supp[p] += 1
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1:]:
                pair_supp[(a, b)] += 1
    for r in rows:
        s = pair_supp[(r.part_a, r.part_b)]
        assert r.support == s
        assert r.supp_a == supp[r.part_a]
        assert r.supp_b == supp[r.part_b]
        assert r.lift == round(s * n / (supp[r.part_a] * supp[r.part_b]), 6)
        assert r.conf_a_to_b == round(s / supp[r.part_a], 6)
        assert r.conf_b_to_a == round(s / supp[r.part_b], 6)


def test_bootstrap_replicates_matches_python(spark):
    """Hash-Bernoulli bootstrap against a hashlib replay; every
    replicate must be non-empty and roughly half the corpus."""
    import hashlib
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.sampling import (
        BOOTSTRAP_R,
        BOOTSTRAP_THRESHOLD,
        bootstrap_replicates,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.replicate: (r.n_docs, r.total_chars, r.mean_chars)
        for r in bootstrap_replicates(spark, SF).collect()
    }
    cells = defaultdict(lambda: [0, 0])
    n_corpus = 0
    for r in load_table(spark, SF, "documents").collect():
        if r.text is None:
            continue
        n_corpus += 1
        for rep in range(BOOTSTRAP_R):
            h = hashlib.md5(f"{r.doc_id}:{rep}".encode()).hexdigest()
            if h[:2] < BOOTSTRAP_THRESHOLD:
                cells[rep][0] += 1
                cells[rep][1] += r.n_chars
    expected = {
        rep: (n, tc, round(tc / n, 6)) for rep, (n, tc) in cells.items()
    }
    assert got == expected
    assert len(got) == BOOTSTRAP_R
    assert all(0 < n < n_corpus for n, _, _ in got.values())


def test_skew_heavy_hitters_matches_python(spark):
    """Heavy-hitter report against a Counter replay with the
    count-desc, user-asc tiebreak."""
    from collections import Counter

    from duckdb_gsheets_spark.operators.skew import HH_K, skew_heavy_hitters
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = sorted(
        skew_heavy_hitters(spark, SF).collect(), key=lambda r: r.rank
    )
    counts = Counter()
    for r in load_table(spark, SF, "events").collect():
        counts[r.user_id] += 1
    total = sum(counts.values())
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:HH_K]
    assert [
        (r.rank, r.user_id, r.n_events, r.traffic_share) for r in rows
    ] == [
        (i + 1, u, n, round(n / total, 6))
        for i, (u, n) in enumerate(expected)
    ]


def test_supplier_hhi_matches_python(spark):
    """HHI report against an integer-cents replay, plus the bounds
    1/n <= HHI <= 1 and top_share <= 1."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.tpch_extra import (
        supplier_concentration_hhi,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.nation: (r.n_suppliers, r.revenue, r.hhi, r.top_share)
        for r in supplier_concentration_hhi(spark, SF).collect()
    }
    nation_of = {
        r.s_suppkey: r.s_nationkey
        for r in load_table(spark, SF, "supplier").collect()
    }
    names = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, SF, "nation").collect()
    }
    from duckdb_gsheets_spark.operators.determinism import round_half_away

    cents = defaultdict(int)
    for r in load_table(spark, SF, "lineitem").collect():
        # Engine ROUND is half-away (see determinism), not Python's
        # half-even builtin.
        c = round_half_away(
            (r.l_extendedprice * (1.0 - r.l_discount)) * 100.0, 0
        )
        cents[(nation_of[r.l_suppkey], r.l_suppkey)] += int(c)
    by_nation = defaultdict(list)
    for (nk, _), c in cents.items():
        by_nation[nk].append(c)
    expected = {}
    for nk, cs in by_nation.items():
        total = sum(cs)
        expected[names[nk]] = (
            len(cs),
            total / 100.0,
            round(sum(c * c for c in cs) / (float(total) * float(total)), 6),
            round(max(cs) / float(total), 6),
        )
    assert set(got) == set(expected)
    for nation, (n, rev, hhi, top) in expected.items():
        g = got[nation]
        assert g[0] == n
        assert abs(g[1] - rev) < 1e-6
        assert abs(g[2] - hhi) < 2e-6
        assert abs(g[3] - top) < 2e-6
        assert 1.0 / n - 1e-9 <= g[2] <= 1.0 and g[3] <= 1.0


def test_doc_length_gini_matches_python(spark):
    """Gini against the rank-formula replay plus bounds [0, 1)."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.curation import doc_length_gini
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.source: (r.n_docs, r.total_chars, r.gini)
        for r in doc_length_gini(spark, SF).collect()
    }
    by_src = defaultdict(list)
    for r in load_table(spark, SF, "documents").collect():
        if r.text is not None:
            by_src[r.source].append(r.n_chars)
    expected = {}
    for src, xs in by_src.items():
        xs.sort()
        n, sx = len(xs), sum(xs)
        six = sum((i + 1) * x for i, x in enumerate(xs))
        expected[src] = (
            n, sx, round((2 * six - (n + 1) * sx) / float(n * sx), 6)
        )
    assert got == expected
    assert all(0.0 <= g < 1.0 for _, _, g in got.values())


def test_events_conversion_lag_matches_python(spark):
    """Conversion-lag quantiles against a per-user first-event replay."""
    import numpy as np

    from duckdb_gsheets_spark.operators.events import (
        events_conversion_lag_quantiles,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    row = events_conversion_lag_quantiles(spark, SF).collect()[0]
    firsts = {}
    for r in load_table(spark, SF, "events").collect():
        if r.event_type not in ("view", "purchase"):
            continue
        v, p = firsts.get(r.user_id, (None, None))
        if r.event_type == "view" and (v is None or r.ts < v):
            v = r.ts
        if r.event_type == "purchase" and (p is None or r.ts < p):
            p = r.ts
        firsts[r.user_id] = (v, p)
    lags = [
        (p - v).total_seconds() * 1e6
        for v, p in firsts.values()
        if v is not None and p is not None and p >= v
    ]
    assert row.n_converted == len(lags) > 0
    for q, val in ((0.5, row.p50_s), (0.9, row.p90_s), (0.99, row.p99_s)):
        exp = round(float(np.quantile(lags, q, method="linear")) / 1e6, 6)
        assert abs(val - exp) < 2e-6


def test_orders_revenue_yoy_matches_python(spark):
    """YoY trend against a month-dict replay (lag within the same
    calendar month across years)."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.operators.tpch_extra import orders_revenue_yoy
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.month: (r.revenue, r.prev_year_revenue, r.yoy_change)
        for r in orders_revenue_yoy(spark, SF).collect()
    }
    cents = defaultdict(int)
    for r in load_table(spark, SF, "orders").collect():
        d = r.o_orderdate.date().replace(day=1)
        cents[d] += int(round_half_away(r.o_totalprice * 100.0, 0))
    expected = {}
    for d, c in cents.items():
        prev = cents.get(d.replace(year=d.year - 1))
        expected[str(d)] = (
            c / 100.0,
            prev / 100.0 if prev is not None else None,
            round((c - prev) / prev, 6) if prev is not None else None,
        )
    assert got == expected
    assert any(v[2] is not None for v in got.values())


def test_round4_session2_ops_invariant_to_partition_count(spark):
    """The session's bounded-window and min-batch operators
    (orders_open_backlog, vocab_growth_curve, doc_length_gini) must
    produce IDENTICAL results at any shuffle-partition count — same
    bar the prefix-sum tilings are held to."""
    from duckdb_gsheets_spark.operators.curation import (
        doc_length_gini,
        vocab_growth_curve,
    )
    from duckdb_gsheets_spark.operators.tpch_extra import orders_open_backlog

    original = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("1", "5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results[n] = {
                "backlog": sorted(
                    map(tuple, orders_open_backlog(spark, SF).collect())
                ),
                "growth": sorted(
                    map(tuple, vocab_growth_curve(spark, SF).collect())
                ),
                "gini": sorted(
                    map(tuple, doc_length_gini(spark, SF).collect())
                ),
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    for key in ("backlog", "growth", "gini"):
        assert results["1"][key] == results["5"][key] == results["32"][key], key
        assert results["1"][key], key


def test_fk_integrity_report_matches_python(spark):
    """FK audit against set-membership replays; the synthetic data's
    known orphan-free edges must report zero."""
    from duckdb_gsheets_spark.operators.tpch_extra import (
        FK_EDGES,
        fk_integrity_report,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.relationship: (r.n_rows, r.n_orphans, r.orphan_rate)
        for r in fk_integrity_report(spark, SF).collect()
    }
    rows = {
        t: load_table(spark, SF, t).collect()
        for t in ("lineitem", "orders", "part", "supplier",
                  "customer", "nation", "region")
    }
    expected = {}
    for label, child, ckey, parent, pkey in FK_EDGES:
        parents = {getattr(r, pkey) for r in rows[parent]}
        n = len(rows[child])
        orphans = sum(
            1 for r in rows[child]
            if getattr(r, ckey) not in parents or getattr(r, ckey) is None
        )
        expected[label] = (n, orphans, round(orphans / n, 6))
    assert got == expected
    assert len(got) == len(FK_EDGES)


def test_documents_completeness_matches_python(spark):
    """Completeness profile against a direct replay; doc_id must be a
    perfect primary key (0 nulls, distinct == rows)."""
    from duckdb_gsheets_spark.operators.curation import (
        PROFILE_COLUMNS,
        documents_completeness_profile,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.col_name: (r.n_rows, r.n_nulls, r.null_rate, r.n_distinct)
        for r in documents_completeness_profile(spark, SF).collect()
    }
    rows = load_table(spark, SF, "documents").collect()
    n = len(rows)
    expected = {}
    for c in PROFILE_COLUMNS:
        vals = [getattr(r, c) for r in rows]
        nulls = sum(1 for v in vals if v is None)
        expected[c] = (
            n, nulls, round(nulls / n, 6),
            len({v for v in vals if v is not None}),
        )
    assert got == expected
    assert got["doc_id"] == (n, 0, 0.0, n)


def test_events_wow_change_gap_week_resets(spark, tmp_path):
    """A zero-event gap week must reset the WoW comparison to NULL —
    'week over week' means the previous CALENDAR week, not the last
    week with data (the fixture is gap-free, so this path needs a
    synthetic frame)."""
    import os
    from datetime import datetime

    from duckdb_gsheets_spark.operators.events import events_wow_change

    def ev(i, day, n):
        return [
            (i * 100 + j, datetime(2024, 1, day, 10, 0, 0), 1, "click",
             1.0, "{}")
            for j in range(n)
        ]

    # Mondays: Jan 1, Jan 8, (Jan 15 silent), Jan 22.
    rows = ev(1, 1, 4) + ev(2, 8, 6) + ev(3, 22, 3)
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "events.parquet"))
    got = {
        r.week: (r.n_events, r.prev_events, r.wow_change)
        for r in events_wow_change(spark, sf_dir).collect()
    }
    assert got == {
        "2024-01-01": (4, None, None),
        "2024-01-08": (6, 4, 0.5),
        "2024-01-22": (3, None, None),  # gap week resets, not vs Jan 8
    }


def test_orders_revenue_yoy_gap_year_resets(spark, tmp_path):
    """A month missing one year back must yield NULL YoY — never a
    silent comparison against 2+ years ago."""
    import os
    from datetime import datetime

    from duckdb_gsheets_spark.operators.tpch_extra import orders_revenue_yoy

    rows = [
        (1, 1, "F", 100.0, datetime(2020, 3, 5), "1-URGENT"),
        (2, 1, "F", 150.0, datetime(2021, 3, 9), "1-URGENT"),
        # 2022-03 silent
        (3, 1, "F", 90.0, datetime(2023, 3, 2), "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string",
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "orders.parquet"))
    got = {
        r.month: (r.revenue, r.prev_year_revenue, r.yoy_change)
        for r in orders_revenue_yoy(spark, sf_dir).collect()
    }
    assert got == {
        "2020-03-01": (100.0, None, None),
        "2021-03-01": (150.0, 100.0, 0.5),
        "2023-03-01": (90.0, None, None),  # gap year resets
    }


def test_events_variant_extract_matches_python(spark):
    """VARIANT-path extraction against a json replay, and it must
    agree with the string-path twin events_json_extract on the shared
    columns."""
    import json
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import (
        events_json_extract,
        events_variant_extract,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.event_type: (r.n_events, r.n_distinct_k, r.sum_k, r.mean_k)
        for r in events_variant_extract(spark, SF).collect()
    }
    cells = defaultdict(lambda: [0, set(), 0])
    for r in load_table(spark, SF, "events").collect():
        k = json.loads(r.props)["k"]
        c = cells[r.event_type]
        c[0] += 1
        c[1].add(k)
        c[2] += k
    expected = {
        t: (n, len(ks), s, round(s / n, 6))
        for t, (n, ks, s) in cells.items()
    }
    assert got == expected
    twin = {
        r.event_type: (r.n_events, r.sum_k)
        for r in events_json_extract(spark, SF).collect()
    }
    assert {t: (v[0], v[2]) for t, v in got.items()} == twin


def test_part_name_fuzzy_pairs_matches_python(spark):
    """Blocked fuzzy matcher against a DP edit-distance replay; the
    planted near-pairs (same noun, different adjective) must appear."""
    from collections import Counter

    from duckdb_gsheets_spark.operators.tpch_extra import (
        FUZZY_LEV_MAX,
        part_name_fuzzy_pairs,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    got = {
        (r.name_a, r.name_b): (r.block, r.lev, r.n_parts_a, r.n_parts_b)
        for r in part_name_fuzzy_pairs(spark, SF).collect()
    }
    counts = Counter(
        r.p_name for r in load_table(spark, SF, "part").collect()
    )
    names = sorted(counts)
    expected = {}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            if a.split(" ")[-1] != b.split(" ")[-1]:
                continue
            d = lev(a, b)
            if d <= FUZZY_LEV_MAX:
                expected[(a, b)] = (
                    a.split(" ")[-1], d, counts[a], counts[b]
                )
    assert got == expected
    assert got, "fixture must contain same-noun near pairs"


def test_events_pattern_match_matches_python(spark):
    """Session-signature pattern matching against a full Python
    sessionize + regex replay."""
    import re
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import (
        CONVERSION_PATTERN,
        SESSION_GAP_US,
        events_pattern_match,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.day: (r.n_sessions, r.n_matched, r.n_clean, r.match_rate)
        for r in events_pattern_match(spark, SF).collect()
    }
    by_user = defaultdict(list)
    for r in load_table(spark, SF, "events").collect():
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    pat = re.compile(CONVERSION_PATTERN)
    cells = defaultdict(lambda: [0, 0, 0])
    for evs in by_user.values():
        evs.sort()
        sessions = []
        prev = None
        for ts, eid, et in evs:
            if prev is None or (ts - prev).total_seconds() * 1e6 > SESSION_GAP_US:
                sessions.append([])
            sessions[-1].append((ts, et))
            prev = ts
        for s in sessions:
            day = str(min(ts for ts, _ in s).date())
            sig = "".join(et[0] for _, et in s)
            c = cells[day]
            c[0] += 1
            if pat.search(sig):
                c[1] += 1
                if "e" not in sig:
                    c[2] += 1
    expected = {
        d: (n, m, cl, round(m / n, 6)) for d, (n, m, cl) in cells.items()
    }
    assert got == expected


def test_events_pattern_match_planted_sessions(spark, tmp_path):
    """Non-vacuity on a planted frame (the sf0.001 fixture happens to
    contain no ordered v→c→p session): one clean match, one match
    with an error, one wrong-order session, in two gap-split
    sessions for one user."""
    import os
    from datetime import datetime, timedelta

    from duckdb_gsheets_spark.operators.events import events_pattern_match

    t0 = datetime(2024, 5, 6, 9, 0, 0)

    def row(i, user, minutes, et):
        return (i, t0 + timedelta(minutes=minutes), user, et, 1.0, "{}")

    rows = [
        # user 1 session A: view, click, purchase — clean match.
        row(1, 1, 0, "view"), row(2, 1, 1, "click"), row(3, 1, 2, "purchase"),
        # user 1 session B (after 31-min gap): v, e, c, p — match, dirty.
        row(4, 1, 33, "view"), row(5, 1, 34, "error"),
        row(6, 1, 35, "click"), row(7, 1, 36, "purchase"),
        # user 2: purchase before view — no match.
        row(8, 2, 0, "purchase"), row(9, 2, 1, "view"), row(10, 2, 2, "click"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    sf_dir = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(sf_dir, "events.parquet"))
    out = {
        r.day: (r.n_sessions, r.n_matched, r.n_clean)
        for r in events_pattern_match(spark, sf_dir).collect()
    }
    assert out == {"2024-05-06": (3, 2, 1)}


def test_source_unigram_drift_matches_python(spark):
    """Chi-square drift against a Counter replay using the same
    1e-9-grid snapping, plus chisq >= 0 and the top term really being
    the argmax summand."""
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.curation import (
        VOCAB_TOP,
        source_unigram_drift,
    )
    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.source: (r.n_vocab_tokens, r.chisq, r.top_drift_term, r.top_drift_val)
        for r in source_unigram_drift(spark, SF).collect()
    }
    tok_stream = []
    for r in load_table(spark, SF, "documents").collect():
        if r.text is not None:
            for t in re.split(r"\s+", r.text.strip()):
                tok_stream.append((r.source, t))
    global_counts = Counter(t for _, t in tok_stream)
    vocab = sorted(
        global_counts, key=lambda t: (-global_counts[t], t)
    )[:VOCAB_TOP]
    vset = set(vocab)
    per_src = Counter()
    cells = Counter()
    for s, t in tok_stream:
        if t in vset:
            per_src[s] += 1
            cells[(s, t)] += 1
    c_g = {t: sum(cells[(s, t)] for s in per_src) for t in vocab}
    t_g = sum(c_g.values())
    expected = {}
    for s in per_src:
        svs = {}
        for t in vocab:
            ps = cells[(s, t)] / per_src[s] if per_src[s] else 0.0
            pg = c_g[t] / t_g
            svs[t] = int(round_half_away(((ps - pg) * (ps - pg) / pg) * 1e9, 0))
        top = min(svs, key=lambda t: (-svs[t], t))
        expected[s] = (
            per_src[s],
            round(sum(svs.values()) / 1e9, 6),
            top,
            round(svs[top] / 1e9, 6),
        )
    assert got == expected
    assert all(v[1] >= 0 for v in got.values())


def test_lexical_semantic_pairs_matches_numpy(spark):
    """Two-signal audit: pair set must equal the lexical operator's,
    and each cosine must match a numpy replay on those pairs."""
    import numpy as np

    from duckdb_gsheets_spark.operators.dedup import dedup_minhash_lsh
    from duckdb_gsheets_spark.operators.similarity import (
        SEMANTIC_CONFIRM_THRESHOLD,
        dedup_lexical_semantic_pairs,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.doc_a, r.doc_b): (r.jaccard, r.cos_sim, r.semantically_confirmed)
        for r in dedup_lexical_semantic_pairs(spark, SF).collect()
    }
    lex = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_lsh(spark, SF).collect()
    }
    assert set(got) == set(lex)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    for (a, b), (jac, cos, conf) in got.items():
        assert jac == lex[(a, b)]
        va, vb = vecs[a], vecs[b]
        exp = round(
            float(
                np.dot(va, vb)
                / (np.sqrt(np.dot(va, va)) * np.sqrt(np.dot(vb, vb)))
            ),
            6,
        )
        assert abs(cos - exp) < 2e-6
        assert conf == (cos >= SEMANTIC_CONFIRM_THRESHOLD)


def test_lexical_semantic_pairs_planted_confirmation(spark, tmp_path):
    """Non-vacuity of the confirmed path: identical texts with
    identical embeddings must confirm; identical texts with opposed
    embeddings must not (synthetic data has no naturally confirmed
    pair)."""
    import os

    import numpy as np

    from duckdb_gsheets_spark.operators.similarity import (
        dedup_lexical_semantic_pairs,
    )

    t1 = BASE
    t2 = UNRELATED
    docs = spark.createDataFrame(
        [(1, t1, "en", "s", len(t1)), (2, t1, "en", "s", len(t1)),
         (3, t2, "en", "s", len(t2)), (4, t2, "en", "s", len(t2))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    rng = np.random.RandomState(7)
    u = rng.randn(64).astype("float32")
    w = rng.randn(64).astype("float32")
    emb = spark.createDataFrame(
        [
            (1, u.tolist(), 0), (2, u.tolist(), 0),        # same vector
            (3, w.tolist(), 1), (4, (-w).tolist(), 1),     # opposed
        ],
        "vec_id long, embedding array<float>, label int",
    )
    sf_dir = str(tmp_path)
    docs.write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    emb.write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    got = {
        (r.doc_a, r.doc_b): r.semantically_confirmed
        for r in dedup_lexical_semantic_pairs(spark, sf_dir).collect()
    }
    assert got[(1, 2)] is True
    assert got[(3, 4)] is False


def test_multimodal_payload_entropy_matches_python(spark):
    """Byte entropy against a Counter replay with the same ln-grid
    snapping; must equal text_char_entropy's value for pure-ASCII
    payloads (bytes == chars there)."""
    from collections import Counter

    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.operators.multimodal import (
        multimodal_payload_entropy,
    )
    from duckdb_gsheets_spark.operators.text import text_char_entropy
    from duckdb_gsheets_spark.plans.catalog import load_table
    import math

    got = {
        r.doc_id: (r.format, r.n_bytes, r.n_distinct_bytes, r.byte_entropy)
        for r in multimodal_payload_entropy(spark, SF).collect()
    }
    fmts = ("png", "jpeg", "wav")
    expected = {}
    for r in load_table(spark, SF, "documents").collect():
        if r.text is None:
            continue
        data = r.text.encode()
        c = Counter(data)
        n = len(data)
        s = sum(
            v * int(round_half_away(math.log(v / n) * 1e9, 0))
            for v in c.values()
        )
        expected[r.doc_id] = (
            fmts[r.doc_id % 3], n, len(c), round(-s / 1e9 / n, 6)
        )
    assert got == expected
    char_side = {
        r.doc_id: r.char_entropy for r in text_char_entropy(spark, SF).collect()
    }
    # The synthetic corpus is pure ASCII: byte and char entropy agree.
    assert all(got[d][3] == char_side[d] for d in got)


def test_orders_reconciliation_matches_python(spark):
    """Reconciliation report against an integer-cents replay; the
    accounting identity n_orders = no_lines + reconciled + mismatched
    must hold."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.operators.tpch_extra import (
        orders_reconciliation_audit,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    r = orders_reconciliation_audit(spark, SF).collect()[0]
    lc = defaultdict(int)
    for li in load_table(spark, SF, "lineitem").collect():
        lc[li.l_orderkey] += int(
            round_half_away(
                ((li.l_extendedprice * (1.0 + li.l_tax))
                 * (1.0 - li.l_discount)) * 100.0,
                0,
            )
        )
    n = no_lines = reconciled = mismatched = 0
    max_gap = 0
    total_gap = 0
    for o in load_table(spark, SF, "orders").collect():
        n += 1
        oc = int(round_half_away(o.o_totalprice * 100.0, 0))
        if o.o_orderkey not in lc:
            no_lines += 1
            continue
        d = abs(oc - lc[o.o_orderkey])
        if d == 0:
            reconciled += 1
        else:
            mismatched += 1
        max_gap = max(max_gap, d)
        total_gap += d
    assert (r.n_orders, r.n_no_lines, r.n_reconciled, r.n_mismatched) == (
        n, no_lines, reconciled, mismatched
    )
    assert r.max_abs_gap == max_gap / 100.0
    assert r.total_abs_gap == total_gap / 100.0
    assert r.n_orders == r.n_no_lines + r.n_reconciled + r.n_mismatched


def test_ann_ivf_balance_matches_assignment(spark):
    """Balance report must be exactly the size distribution of the
    audited IVF assignment; shares sum to 1 and load factors average
    to 1 over non-empty lists."""
    from collections import Counter

    from duckdb_gsheets_spark.operators.similarity import (
        _collect_ivf_inputs,
        ann_ivf_balance_report,
        ivf_assignments,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = ann_ivf_balance_report(spark, SF).collect()
    got = {r.list_id: (r.n_vectors, r.corpus_share, r.load_factor) for r in rows}
    emb = load_table(spark, SF, "embeddings")
    centroid_rows, _ = _collect_ivf_inputs(spark, SF)
    _, assignment = ivf_assignments(emb, centroid_rows)
    sizes = Counter(r.list_id for r in assignment.collect())
    total = sum(sizes.values())
    n_lists = len(sizes)
    expected = {
        lid: (
            n,
            round(n / total, 6),
            round(n / (total / n_lists), 6),
        )
        for lid, n in sizes.items()
    }
    assert got == expected
    assert abs(sum(s for _, s, _ in got.values()) - 1.0) < 1e-4
    assert abs(sum(f for _, _, f in got.values()) / n_lists - 1.0) < 1e-4


def test_quality_lang_tertiles_matches_python_recompute(spark):
    """CCNet tertile buckets against a direct Python recompute of the
    add-one unigram LM xent (same 1e-9 ln grid), the same
    (xent, doc_id) rank order, and the same integer tercile rule —
    plus the structural invariants: every language splits into three
    buckets whose sizes differ by at most one, and the head bucket's
    xent band sits at or below the tail's."""
    import math
    import re
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.curation import (
        quality_lang_tertiles,
    )
    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.lang, r.bucket): (r.n_docs, r.tok_sum, r.min_xent, r.max_xent)
        for r in quality_lang_tertiles(spark, SF).collect()
    }

    docs = {}
    for r in load_table(spark, SF, "documents").select(
        "doc_id", "lang", "text"
    ).collect():
        if r.text is None:
            continue
        docs[r.doc_id] = (r.lang, re.split(r"\s+", r.text.strip()))
    vocab = Counter(t for _, toks in docs.values() for t in toks)
    total = sum(vocab.values())
    vsize = len(vocab)
    scored = []
    for doc_id, (lang, toks) in docs.items():
        s = sum(
            int(round_half_away(
                math.log((vocab[t] + 1.0) / float(total + vsize)) * 1e9, 0
            ))
            for t in toks
        )
        xent = round_half_away(-s / 1e9 / len(toks), 6)
        scored.append((lang, xent, doc_id, len(toks)))
    by_lang = defaultdict(list)
    for lang, xent, doc_id, nt in scored:
        by_lang[lang].append((xent, doc_id, nt))
    expected = defaultdict(lambda: [0, 0, math.inf, -math.inf])
    names = ("head", "middle", "tail")
    for lang, rows in by_lang.items():
        rows.sort()
        n = len(rows)
        for pos, (xent, _, nt) in enumerate(rows):
            b = (lang, names[pos * 3 // n])
            agg = expected[b]
            agg[0] += 1
            agg[1] += nt
            agg[2] = min(agg[2], xent)
            agg[3] = max(agg[3], xent)
    assert got == {k: tuple(v) for k, v in expected.items()}
    for lang, rows in by_lang.items():
        sizes = [got[(lang, b)][0] for b in names]
        assert max(sizes) - min(sizes) <= 1
        assert got[(lang, "head")][3] <= got[(lang, "tail")][2]


def test_ann_matryoshka_recall_matches_python_recompute(spark):
    """Per-width recall against a direct Python recompute of both the
    full-dim and prefix-dim top-k rankings (same left-to-right fold,
    same round-6 + vec_id tiebreak), plus the qualitative Matryoshka
    invariant on this fixture: mean recall is non-decreasing in the
    prefix width."""
    import math

    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.operators.similarity import (
        MATRYOSHKA_WIDTHS,
        N_QUERY_VECTORS,
        TOPK_K,
        ann_matryoshka_recall,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.width: (r.n_queries, r.mean_recall, r.min_recall, r.n_perfect)
        for r in ann_matryoshka_recall(spark, SF).collect()
    }

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF, "embeddings").collect()
    }

    def topk(width):
        out = {}
        for qa, va in vecs.items():
            if qa >= N_QUERY_VECTORS:
                continue
            a = va[:width]
            na = math.sqrt(sum(x * x for x in a))
            scored = []
            for qb, vb in vecs.items():
                if qb == qa:
                    continue
                b = vb[:width]
                dp = 0.0
                for x, y in zip(a, b):
                    dp += x * y
                nb = math.sqrt(sum(y * y for y in b))
                scored.append(
                    (-round_half_away(dp / (na * nb), 6), qb)
                )
            scored.sort()
            out[qa] = {qb for _, qb in scored[:TOPK_K]}
        return out

    full = topk(64)
    expected = {}
    for w in MATRYOSHKA_WIDTHS:
        t = topk(w)
        matches = [len(full[q] & t[q]) for q in full]
        n = len(matches)
        expected[w] = (
            n,
            round_half_away(sum(matches) / (n * float(TOPK_K)), 6),
            round_half_away(min(matches) / float(TOPK_K), 6),
            sum(1 for m in matches if m == TOPK_K),
        )
    assert got == expected
    recalls = [got[w][1] for w in sorted(got)]
    assert recalls == sorted(recalls), "recall not monotone in width"


def test_ann_prefix_ivf_recall_matches_numpy_recompute(spark):
    """Per-width prefix-IVF recall against a numpy recompute of the
    FULL pipeline at each width — strided centroid sample, prefix
    slice, unit-normalized coarse quantization with the (−sim, cid)
    tiebreak, nprobe probe selection, in-list round-6 cosine rerank —
    scored against the full-dim exact top-k."""
    import numpy as np

    from duckdb_gsheets_spark.operators.similarity import (
        IVF_CENTROIDS,
        IVF_ID_STRIDE,
        IVF_NPROBE,
        MATRYOSHKA_WIDTHS,
        N_QUERY_VECTORS,
        TOPK_K,
        ann_cosine_topk,
        ann_prefix_ivf_recall,
    )
    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.width: (r.n_queries, r.mean_recall, r.min_recall, r.n_perfect)
        for r in ann_prefix_ivf_recall(spark, SF).collect()
    }

    full = {}
    for r in ann_cosine_topk(spark, SF).collect():
        full.setdefault(r.vec_a, set()).add(r.vec_b)

    rows = sorted(
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([[float(x) for x in r.embedding] for r in rows])
    cids = [i for i in ids if i % IVF_ID_STRIDE == 0][:IVF_CENTROIDS]
    cid_arr = np.asarray(cids)

    expected = {}
    for w in MATRYOSHKA_WIDTHS:
        Xw = X[:, :w]
        C = Xw[np.isin(ids, cids)]
        unit = C / np.linalg.norm(C, axis=1, keepdims=True)
        norms = np.sqrt(np.einsum("ij,ij->i", Xw, Xw))
        s = np.round((Xw @ unit.T) / norms[:, None], 6)
        # first-occurrence argmax over ascending cids == (−s, cid) min
        assigned = cid_arr[s.argmax(axis=1)]
        matches = []
        for qi in np.flatnonzero(ids < N_QUERY_VECTORS):
            qid = ids[qi]
            order = sorted(
                range(len(cids)), key=lambda j: (-s[qi, j], cids[j])
            )[:IVF_NPROBE]
            probed = {cids[j] for j in order}
            cand = np.flatnonzero(
                np.isin(assigned, list(probed)) & (ids != qid)
            )
            cos = np.round(
                (Xw[cand] @ Xw[qi]) / (norms[cand] * norms[qi]), 6
            )
            ranked = sorted(zip(-cos, ids[cand]))[:TOPK_K]
            matches.append(
                len(full[qid] & {vb for _, vb in ranked})
            )
        n = len(matches)
        expected[w] = (
            n,
            round_half_away(sum(matches) / (n * float(TOPK_K)), 6),
            round_half_away(min(matches) / float(TOPK_K), 6),
            sum(1 for m in matches if m == TOPK_K),
        )
    assert got == expected
    # Structural invariant: the full-width prefix index can't beat
    # exhaustive search — recall stays in [0, 1] with n_perfect ≤ n.
    for w, (n, mean_r, min_r, n_perf) in got.items():
        assert 0.0 <= min_r <= mean_r <= 1.0
        assert 0 <= n_perf <= n


@pytest.mark.parametrize(
    "kernel, whole",
    [
        ("_prefix_ivf_topk", "ann_ivf_topk"),
        ("_prefix_cosine_topk", "ann_cosine_topk"),
    ],
)
def test_prefix_kernel_at_full_width_is_the_whole_vector_query(
    spark, kernel, whole
):
    """At width EMBEDDING_DIM a prefix kernel slices nothing, so it
    returns exactly the whole-vector query's rows: the prefix-IVF
    kernel those of ann_ivf_topk, the prefix-cosine kernel (a numpy
    GEMM) those of ann_cosine_topk (the JVM fold), equal after the
    6-decimal round."""
    from duckdb_gsheets_spark.operators import similarity

    dim = similarity.EMBEDDING_DIM
    got = getattr(similarity, kernel)(spark, SF, (dim,)).collect()
    assert {r.width for r in got} == {dim}

    def rows(rs):
        return sorted((r.vec_a, r.vec_b, r.cos_sim, r.rank) for r in rs)

    want = rows(getattr(similarity, whole)(spark, SF).collect())
    assert len(want) == similarity.N_QUERY_VECTORS * similarity.TOPK_K
    assert rows(got) == want


def test_pipeline_ccnet_corpus_matches_python_recompute(spark):
    """CCNet gate ledger against a direct Python recompute: the shared
    xent core + tercile rank (identical to the tertiles test) plus the
    md5 hash-Bernoulli tail downsample — and the policy invariants:
    head/middle keep everything, tail keeps a strict subset."""
    import hashlib
    import math
    import re
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.operators.pipeline import (
        CCNET_TAIL_KEEP_HEX,
        pipeline_ccnet_corpus,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.lang, r.bucket): (r.n_docs, r.n_docs_kept, r.tok_kept, r.keep_rate)
        for r in pipeline_ccnet_corpus(spark, SF).collect()
    }

    docs = {}
    for r in load_table(spark, SF, "documents").select(
        "doc_id", "lang", "text"
    ).collect():
        if r.text is None:
            continue
        docs[r.doc_id] = (r.lang, re.split(r"\s+", r.text.strip()))
    vocab = Counter(t for _, toks in docs.values() for t in toks)
    total = sum(vocab.values())
    vsize = len(vocab)
    by_lang = defaultdict(list)
    for doc_id, (lang, toks) in docs.items():
        s = sum(
            int(round_half_away(
                math.log((vocab[t] + 1.0) / float(total + vsize)) * 1e9, 0
            ))
            for t in toks
        )
        xent = round_half_away(-s / 1e9 / len(toks), 6)
        by_lang[lang].append((xent, doc_id, len(toks)))
    names = ("head", "middle", "tail")
    expected = defaultdict(lambda: [0, 0, 0])
    for lang, rows in by_lang.items():
        rows.sort()
        n = len(rows)
        for pos, (_, doc_id, nt) in enumerate(rows):
            bucket = names[pos * 3 // n]
            keep = bucket != "tail" or (
                hashlib.md5(str(doc_id).encode()).hexdigest()[:8].upper()
                < CCNET_TAIL_KEEP_HEX
            )
            agg = expected[(lang, bucket)]
            agg[0] += 1
            if keep:
                agg[1] += 1
                agg[2] += nt
    assert got == {
        k: (v[0], v[1], v[2], round_half_away(v[1] / v[0], 6))
        for k, v in expected.items()
    }
    for (lang, bucket), (n, kept, _, rate) in got.items():
        if bucket in ("head", "middle"):
            assert kept == n and rate == 1.0
        else:
            assert kept < n  # the tail must actually downsample


def test_dsir_importance_weights_matches_python_recompute(spark):
    """DSIR hashed-n-gram weights against a direct Python recompute:
    the same md5-60 bucket hash, the same add-one bucket LM on the
    1e-9 ln grid, the same per-document integer sum — plus the
    semantic invariant the estimator exists for: target-slice
    documents score higher on average than the raw remainder."""
    import hashlib
    import math
    import re
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_TARGET_SOURCES,
        dsir_importance_weights,
    )
    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.doc_id: (r.lang, r.source, r.n_feats, r.dsir_logratio, r.is_target)
        for r in dsir_importance_weights(spark, SF).collect()
    }

    def bucket(feat):
        return (
            int(hashlib.md5(feat.encode()).hexdigest()[:15], 16)
            % DSIR_BUCKETS
        )

    docs = {}
    for r in load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    ).collect():
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip())
        feats = toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        docs[r.doc_id] = (r.lang, r.source, [bucket(f) for f in feats])
    r_cnt, t_cnt = Counter(), Counter()
    for _, source, buckets in docs.values():
        r_cnt.update(buckets)
        if source in DSIR_TARGET_SOURCES:
            t_cnt.update(buckets)
    r_tot, t_tot = sum(r_cnt.values()), sum(t_cnt.values())

    def lnp(cnt, tot):
        return int(round_half_away(
            math.log((cnt + 1.0) / float(tot + DSIR_BUCKETS)) * 1e9, 0
        ))

    llr = {
        b: lnp(t_cnt[b], t_tot) - lnp(r_cnt[b], r_tot) for b in r_cnt
    }
    expected = {}
    for doc_id, (lang, source, buckets) in docs.items():
        w = sum(llr[b] for b in buckets)
        expected[doc_id] = (
            lang,
            source,
            len(buckets),
            round_half_away(w / 1e9, 6),
            int(source in DSIR_TARGET_SOURCES),
        )
    assert got == expected
    by_side = defaultdict(list)
    for _, (_, _, _, w, is_t) in got.items():
        by_side[is_t].append(w)
    assert (
        sum(by_side[1]) / len(by_side[1])
        > sum(by_side[0]) / len(by_side[0])
    )


def test_dsir_raw_excludes_target_mode_matches_oracle(spark):
    """The paper-faithful DSIR mode (``raw_excludes_target=True``:
    p_raw fit on the NON-target slice only, Xie et al.'s exact
    formulation) must replay exactly in DuckDB through the same flag
    on ``_dsir_core_sql`` — both modes stay oracle-checkable — and
    must move weights in the predicted direction: removing target
    mass from the raw fit pushes target documents' log-ratios UP
    relative to the default full-corpus estimator."""
    import duckdb

    from duckdb_gsheets_spark.operators.curation import (
        DSIR_TARGET_SOURCES,
        _dsir_core_sql,
        _dsir_weights,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    docs = load_table(spark, SF, "documents")
    got = {
        r.doc_id: (r.lang, r.source, r.n_tokens, r.n_feats, r.w_scaled)
        for r in _dsir_weights(docs, raw_excludes_target=True).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    sql = (
        f"WITH {_dsir_core_sql(raw_excludes_target=True)} "
        "SELECT doc_id, lang, source, n_tokens, n_feats, w_scaled FROM dw"
    )
    exp = {
        row[0]: (row[1], row[2], int(row[3]), int(row[4]), int(row[5]))
        for row in con.execute(sql).fetchall()
    }
    assert got == exp
    base = {r.doc_id: r.w_scaled for r in _dsir_weights(docs).collect()}
    assert got.keys() == base.keys()
    tgt_deltas = [
        got[d][4] - base[d]
        for d in got
        if got[d][1] in DSIR_TARGET_SOURCES
    ]
    assert tgt_deltas and sum(tgt_deltas) / len(tgt_deltas) > 0


def test_pipeline_dsir_corpus_matches_python_recompute(spark):
    """DSIR Gumbel-top-k gate ledger against a direct Python recompute
    of the weights (shared with the audit test), the deterministic
    Gumbel keys and the exact integer top-k cut — plus the policy
    invariants: exactly ⌊n/4⌋ docs selected overall, and the selected
    mean log-ratio beats the candidate-pool mean (importance sampling
    must actually steer toward the target)."""
    import hashlib
    import math
    import re
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_TARGET_SOURCES,
    )
    from duckdb_gsheets_spark.operators.determinism import round_half_away
    from duckdb_gsheets_spark.operators.pipeline import (
        DSIR_KEEP_DEN,
        DSIR_KEEP_NUM,
        pipeline_dsir_corpus,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.lang: (
            r.n_candidates,
            r.n_selected,
            r.tok_selected,
            r.sel_rate,
            r.mean_logratio_sel,
        )
        for r in pipeline_dsir_corpus(spark, SF).collect()
    }

    def bucket(feat):
        return (
            int(hashlib.md5(feat.encode()).hexdigest()[:15], 16)
            % DSIR_BUCKETS
        )

    docs = {}
    for r in load_table(spark, SF, "documents").select(
        "doc_id", "lang", "source", "text"
    ).collect():
        if r.text is None:
            continue
        toks = re.split(r"\s+", r.text.strip())
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        docs[r.doc_id] = (
            r.lang, r.source, len(toks), [bucket(f) for f in feats]
        )
    r_cnt, t_cnt = Counter(), Counter()
    for _, source, _, buckets in docs.values():
        r_cnt.update(buckets)
        if source in DSIR_TARGET_SOURCES:
            t_cnt.update(buckets)
    r_tot, t_tot = sum(r_cnt.values()), sum(t_cnt.values())

    def lnp(cnt, tot):
        return int(round_half_away(
            math.log((cnt + 1.0) / float(tot + DSIR_BUCKETS)) * 1e9, 0
        ))

    llr = {b: lnp(t_cnt[b], t_tot) - lnp(r_cnt[b], r_tot) for b in r_cnt}
    cand = []
    for doc_id, (lang, source, n_tokens, buckets) in docs.items():
        if source in DSIR_TARGET_SOURCES:
            continue
        w = sum(llr[b] for b in buckets)
        h = int(
            hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16
        )
        u = (h + 0.5) / float(1 << 60)
        l1 = min(int(round_half_away(math.log(u) * 1e9, 0)), -1)
        l2 = int(round_half_away(math.log(-l1 / 1e9) * 1e9, 0))
        cand.append((w - l2, doc_id, lang, n_tokens, w))
    cand.sort(key=lambda t: (-t[0], t[1]))
    n = len(cand)
    expected = defaultdict(lambda: [0, 0, 0, 0])
    for rank, (_, _, lang, n_tokens, w) in enumerate(cand, start=1):
        agg = expected[lang]
        agg[0] += 1
        if rank * DSIR_KEEP_DEN <= n * DSIR_KEEP_NUM:
            agg[1] += 1
            agg[2] += n_tokens
            agg[3] += w
    assert got == {
        lang: (
            v[0],
            v[1],
            v[2],
            round_half_away(v[1] / v[0], 6),
            round_half_away(v[3] / 1e9 / v[1], 6) if v[1] else None,
        )
        for lang, v in expected.items()
    }
    assert sum(v[1] for v in got.values()) == (
        n * DSIR_KEEP_NUM // DSIR_KEEP_DEN
    )
    pool_mean = sum(w for *_, w in cand) / n / 1e9
    sel_tot = sum(v[3] for v in expected.values())
    sel_n = sum(v[1] for v in expected.values())
    assert sel_tot / 1e9 / sel_n > pool_mean


def test_split_leakage_semantic_synthetic_pairs(spark):
    """Planted cross-split near-dups (the fixture corpus has no pair
    at the 0.95 bar — max pairwise cosine ≈ 0.51 — so the registered
    query's empty result is correct-but-vacuous; this pins the
    semantics the same way the SemDeDup frame test does):

    * a train/val pair at cos ≈ 0.998 → one (train, val) leak row;
    * a train/train pair at cos ≈ 0.998 → same-split, NOT a leak;
    * a train/test pair at cos ≈ 0.90 → below threshold, not counted;
    * a vector with no backing document (orphan) near a train doc →
      drops at the split join, never counted."""
    import hashlib
    import math

    from duckdb_gsheets_spark.operators.sampling import (
        SPLIT_TEST_LO,
        SPLIT_VAL_LO,
        split_leakage_semantic_frame,
    )
    from duckdb_gsheets_spark.operators.similarity import (
        EMBEDDING_DIM,
        neardup_pairs_blocked,
    )

    def split_of(doc_id: int) -> str:
        p = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        if p < SPLIT_VAL_LO:
            return "train"
        return "val" if p < SPLIT_TEST_LO else "test"

    by_split = {"train": [], "val": [], "test": []}
    for i in range(200):
        by_split[split_of(i)].append(i)
    tr1, tr2, tr3 = by_split["train"][:3]
    va1 = by_split["val"][0]
    te1 = by_split["test"][0]
    orphan_id = 10_000  # no documents row

    def vec(angle_deg: float) -> list[float]:
        a = math.radians(angle_deg)
        v = [0.0] * EMBEDDING_DIM
        v[0], v[1] = math.cos(a), math.sin(a)
        return v

    rows = [
        (tr1, vec(0.0)),    # ┐ cross-split dup with va1 (Δ3.5°)
        (va1, vec(3.5)),    # ┘ cos ≈ 0.998 → the ONE leak row
        (tr2, vec(90.0)),   # ┐ same-split dup (Δ3.5°) — not a leak
        (tr3, vec(93.5)),   # ┘
        (te1, vec(26.0)),   # Δ26° from tr1: cos ≈ 0.90 < 0.95
        (orphan_id, vec(3.0)),  # near tr1 but unbacked → dropped
    ]
    emb = spark.createDataFrame(
        rows, f"vec_id long, embedding array<double>"
    )
    docs = spark.createDataFrame(
        [(i, split_of(i)) for i in range(200)], "doc_id long, split string"
    )
    pairs = neardup_pairs_blocked(emb)
    got = {
        (r.split_a, r.split_b): (r.n_leaky_pairs, r.worst_cos)
        for r in split_leakage_semantic_frame(pairs, docs).collect()
    }
    expected_cos = round(math.cos(math.radians(3.5)), 6)
    assert got == {("train", "val"): (1, expected_cos)}


def test_pipeline_fineweb_funnel_composition(spark):
    """The FineWeb funnel must be monotone per source
    (docs ≥ quality ≥ quality∧c4 ≥ kept), its quality stage must equal
    the standalone Gopher gate on the same (non-NULL-text) slice, and
    its kept count must equal the number of DISTINCT fingerprints
    among gate survivors (exactly one canonical doc per duplicate
    group survives)."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.functions import text as T
    from duckdb_gsheets_spark.operators.pipeline import (
        pipeline_fineweb_corpus,
    )
    from duckdb_gsheets_spark.operators.text import gopher_rules
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = pipeline_fineweb_corpus(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_docs >= r.n_pass_quality >= r.n_pass_c4 >= r.n_kept >= 0
        assert r.keep_rate == round(r.n_kept / r.n_docs, 6)
    # A funnel that filters nothing pins nothing: each gate must bite
    # somewhere on the fixture.
    tot = {
        k: sum(getattr(r, k) for r in rows)
        for k in ("n_docs", "n_pass_quality", "n_pass_c4", "n_kept")
    }
    assert tot["n_docs"] > tot["n_pass_quality"] > 0
    assert tot["n_pass_quality"] >= tot["n_pass_c4"] > 0

    docs = load_table(spark, SF, "documents").where(
        F.col("text").isNotNull()
    )
    g = gopher_rules(docs, carry=("source",))
    per_source = {
        r.source: r.n
        for r in g.groupBy("source")
        .agg(F.sum("passes").alias("n"))
        .collect()
    }
    assert {r.source: r.n_pass_quality for r in rows} == per_source

    from duckdb_gsheets_spark.operators.pipeline import C4_MIN_TOKENS

    c = F.col("text")
    c4 = (
        (F.col("n_tokens") >= C4_MIN_TOKENS)
        & ~c.contains("{")
        & ~c.contains("}")
        & ~F.lower(c).contains("lorem ipsum")
    )
    surv = (
        gopher_rules(docs, carry=("text",))
        .where((F.col("passes") == 1) & c4)
        .select(T.fingerprint(c).alias("fp"))
    )
    assert tot["n_kept"] == surv.distinct().count()


def test_quality_score_calibration_invariants(spark):
    """Reliability-table invariants: the ten deciles partition the
    non-NULL-text corpus, mean_score strictly decreases with the
    decile index (deciles tile the score in descending order), the
    gap column is exactly mean − rate on the 1e-6 grid, and the
    monotone-agreement direction holds on the fixture: the top half
    of the score distribution passes the Gopher gate at ≥ the bottom
    half's rate."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.operators.curation import (
        quality_score_calibration,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = sorted(
        quality_score_calibration(spark, SF).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, len(rows) + 1))
    n_docs = (
        load_table(spark, SF, "documents")
        .where(F.col("text").isNotNull())
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_docs
    for a, b in zip(rows, rows[1:]):
        assert a.mean_score > b.mean_score
    for r in rows:
        assert r.calibration_gap == round(
            round(r.mean_score, 6) - round(r.gopher_pass_rate, 6), 6
        )
    half = len(rows) // 2
    top = sum(r.n_docs * r.gopher_pass_rate for r in rows[:half]) / sum(
        r.n_docs for r in rows[:half]
    )
    bottom = sum(
        r.n_docs * r.gopher_pass_rate for r in rows[half:]
    ) / sum(r.n_docs for r in rows[half:])
    assert top >= bottom


def test_events_ab_test_matches_python_recompute(spark):
    """Welch z readout against a direct Python recompute: same hash
    assignment, same cents grid, same co-moment combination, same
    operation order — value-identical after the round-6."""
    import hashlib
    import math

    from duckdb_gsheets_spark.operators.events import events_ab_test
    from duckdb_gsheets_spark.plans.catalog import load_table

    row = events_ab_test(spark, SF).collect()[0]
    pts = {"A": [], "B": []}
    for r in (
        load_table(spark, SF, "events")
        .where("event_type = 'purchase'")
        .select("user_id", "value")
        .collect()
    ):
        h = hashlib.md5(str(r.user_id).encode()).hexdigest()[31]
        arm = "A" if h in "02468ace" else "B"
        pts[arm].append(int(round(r.value * 100.0)))

    def stats(xs):
        n = len(xs)
        sx = sum(xs)
        sxx = sum(x * x for x in xs)
        mean = sx / n / 100.0
        var = (n * sxx - sx * sx) / (n * (n - 1.0))
        return n, mean, var

    n_a, m_a, v_a = stats(pts["A"])
    n_b, m_b, v_b = stats(pts["B"])
    z = (m_a - m_b) / math.sqrt(
        v_a / 10000.0 / n_a + v_b / 10000.0 / n_b
    )
    assert (row.n_a, row.n_b) == (n_a, n_b)
    assert row.mean_a == round(m_a, 6) and row.mean_b == round(m_b, 6)
    assert row.welch_z == round(z, 6)
    assert row.significant_95 == int(abs(z) > 1.96)
    assert n_a > 1 and n_b > 1


def test_text_kneser_ney_matches_python_recompute(spark):
    """KN bigram probabilities against a direct Python recompute
    (same counts, same 3/4-discount rational arithmetic, same
    operation order), plus the smoothing invariants: 0 < p_kn,
    p_kn < p_mle for every reported high-count bigram (the discount
    moves mass away from observed bigrams; the continuation share
    returns less than 3/(4c1) of it unless the right word continues
    nearly every context), and for fixed w1 the KN conditional mass
    over ALL observed continuations stays below 1 (the reserve
    belongs to unseen continuations)."""
    from collections import Counter, defaultdict

    from duckdb_gsheets_spark.operators.text import (
        text_kneser_ney_bigram,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.w1, r.w2): (r.c12, r.p_mle, r.p_kn)
        for r in text_kneser_ney_bigram(spark, SF).collect()
    }
    assert len(got) == 25

    c12 = Counter()
    for r in load_table(spark, SF, "documents").collect():
        if r.text is None:
            continue
        toks = r.text.strip().lower().split()
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] += 1
    c1 = Counter()
    n1p_fw = Counter()
    n1p_bw = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        n1p_fw[a] += 1
        n1p_bw[b] += 1
    nbig = len(c12)

    def kn(a, b):
        den = 4.0 * c1[a]
        return max(4 * c12[(a, b)] - 3, 0) / den + (
            3.0 * n1p_fw[a] / den
        ) * (n1p_bw[b] / float(nbig))

    for (a, b), (c, p_mle, p_kn) in got.items():
        assert c == c12[(a, b)]
        assert p_mle == round(c / c1[a], 6)
        assert p_kn == round(kn(a, b), 6)
        assert 0 < p_kn
    # Conditional mass check for the most frequent left context.
    top_w1 = got and max(got, key=lambda k: got[k][0])[0]
    mass = sum(kn(top_w1, b) for (a, b) in c12 if a == top_w1)
    assert mass < 1.0


def test_text_lang_confidence_margin_matches_python_recompute(spark):
    """Margin-band audit vs a direct Python recompute of the marker
    scores, argmax rule, and band edges. (On this synthetic corpus
    the agreement rate does NOT rise with margin — the declared langs
    don't track the markers — which is exactly what the audit exists
    to reveal, so the pin is exact-value, not monotonicity.)"""
    from collections import defaultdict

    from duckdb_gsheets_spark.functions.text import LANG_MARKERS
    from duckdb_gsheets_spark.operators.text import (
        text_lang_confidence_margin,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        (r.detected_lang, r.margin_band): (r.n_docs, r.n_agree, r.agree_rate)
        for r in text_lang_confidence_margin(spark, SF).collect()
    }

    expected = defaultdict(lambda: [0, 0])
    for r in load_table(spark, SF, "documents").collect():
        toks = set((r.text or "").strip().lower().split())
        s = {
            lang: len(toks & set(ws)) for lang, ws in LANG_MARKERS.items()
        }
        if s["en"] >= s["es"] and s["en"] >= s["de"] and s["en"] >= s["fr"] and s["en"] > 0:
            det = "en"
        elif s["es"] >= s["de"] and s["es"] >= s["fr"] and s["es"] > 0:
            det = "es"
        elif s["de"] >= s["fr"] and s["de"] > 0:
            det = "de"
        elif s["fr"] > 0:
            det = "fr"
        else:
            det = "unknown"
        top = sorted(s.values(), reverse=True)
        margin = top[0] - top[1]
        band = "2+" if margin >= 2 else ("1" if margin == 1 else "0")
        cell = expected[(det, band)]
        cell[0] += 1
        cell[1] += int(det == r.lang)
    exp = {
        k: (n, a, round(a / n, 6)) for k, (n, a) in expected.items()
    }
    assert got == exp
    assert sum(v[0] for v in got.values()) > 0


def test_bpe_merge_iterative_matches_python_trainer(spark):
    """The unrolled BPE rounds against a direct Python BPE trainer on
    the same vocabulary (frequency-weighted pair counts, argmax with
    the (count DESC, l, r) tiebreak, left-to-right non-overlapping
    merge application) — the merge table must match round for round,
    and the learned pairs must be pairwise distinct (a merge removes
    its own adjacency for good)."""
    import re
    from collections import Counter

    from duckdb_gsheets_spark.operators.text import (
        BPE_ITER_ROUNDS,
        bpe_merge_iterative,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = [
        (r.round, r.left_sym, r.right_sym, r.pair_count)
        for r in sorted(
            bpe_merge_iterative(spark, SF).collect(), key=lambda r: r.round
        )
    ]

    vocab = Counter()
    for r in load_table(spark, SF, "documents").collect():
        for w in (r.text or "").strip().lower().split():
            if re.fullmatch("[a-z]+", w) and len(w) >= 2:
                vocab[w] += 1
    words = {w: [list(w), f] for w, f in vocab.items()}

    expected = []
    for rnd in range(1, BPE_ITER_ROUNDS + 1):
        counts = Counter()
        for syms, f in words.values():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        (l, r_), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((rnd, l, r_, c))
        for entry in words.values():
            syms = entry[0]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r_:
                    out.append(l + r_)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            entry[0] = out
    assert got == expected
    # Applying a merge removes every (l, r) adjacency and can never
    # re-create one (fusing neighbors only produces NEW symbols), so
    # a learned pair must be unique across rounds.
    assert len({(l, r) for _, l, r, _ in got}) == BPE_ITER_ROUNDS
    assert all(c > 0 for _, _, _, c in got)


def test_events_power_analysis_matches_python_recompute(spark):
    """Power readout vs direct recompute: same hash arms, same
    variance combination, the standard normal constants, and the
    consistency tie to the Welch readout — an observed |welch_z| and
    the MDE must agree on which side of detectability the observed
    effect sits (|mean_a − mean_b| ≥ MDE ⟺ the z exceeds
    z_alpha + z_beta)."""
    import hashlib
    import math

    from duckdb_gsheets_spark.operators.events import (
        events_ab_test,
        events_power_analysis,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    row = events_power_analysis(spark, SF).collect()[0]
    pts = {"A": [], "B": []}
    for r in (
        load_table(spark, SF, "events")
        .where("event_type = 'purchase'")
        .select("user_id", "value")
        .collect()
    ):
        h = hashlib.md5(str(r.user_id).encode()).hexdigest()[31]
        pts["A" if h in "02468ace" else "B"].append(
            int(round(r.value * 100.0))
        )

    def stats(xs):
        n = len(xs)
        sx, sxx = sum(xs), sum(x * x for x in xs)
        var = (n * sxx - sx * sx) / (n * (n - 1.0)) / 10000.0
        return n, sx, var

    n_a, sx_a, v_a = stats(pts["A"])
    n_b, _, v_b = stats(pts["B"])
    z = 1.959964 + 0.841621
    mde = z * math.sqrt(v_a / n_a + v_b / n_b)
    delta = sx_a / n_a / 100.0 * 0.01
    n_req = math.ceil(z * z * (v_a + v_b) / (delta * delta))
    assert (row.n_a, row.n_b) == (n_a, n_b)
    assert row.sd_a == round(math.sqrt(v_a), 6)
    assert row.sd_b == round(math.sqrt(v_b), 6)
    assert row.mde_80pct == round(mde, 6)
    assert row.n_per_arm_for_1pct_lift == n_req
    # Consistency with the Welch readout on this fixture.
    ab = events_ab_test(spark, SF).collect()[0]
    observed = abs(ab.mean_a - ab.mean_b)
    assert (observed >= row.mde_80pct) == (abs(ab.welch_z) >= z - 1e-9)


def test_events_did_matches_python_recompute(spark):
    """DiD readout vs a direct Python recompute: same hash arms, the
    deterministic midpoint boundary, four-cell means on the cents
    grid, the independent-samples SE, and the algebraic identity
    DiD = (Δ_A) − (Δ_B)."""
    import hashlib
    import math

    from duckdb_gsheets_spark.operators.events import events_did
    from duckdb_gsheets_spark.plans.catalog import load_table

    row = events_did(spark, SF).collect()[0]
    rows = (
        load_table(spark, SF, "events")
        .where("event_type = 'purchase'")
        .selectExpr("user_id", "value", "to_date(ts) AS d")
        .collect()
    )
    d0 = min(r.d for r in rows)
    d1 = max(r.d for r in rows)
    cells = {}
    for r in rows:
        h = hashlib.md5(str(r.user_id).encode()).hexdigest()[31]
        a = "a" if h in "02468ace" else "b"
        p = 1 if 2 * (r.d - d0).days > (d1 - d0).days else 0
        cells.setdefault(f"{a}{p}", []).append(int(round(r.value * 100.0)))

    def stats(xs):
        n = len(xs)
        sx, sxx = sum(xs), sum(x * x for x in xs)
        mean = sx / n / 100.0
        vn = (n * sxx - sx * sx) / (n * (n - 1.0)) / 10000.0 / n
        return n, mean, vn

    s = {k: stats(v) for k, v in cells.items()}
    did = (s["a1"][1] - s["a0"][1]) - (s["b1"][1] - s["b0"][1])
    se = math.sqrt(s["a0"][2] + s["a1"][2] + s["b0"][2] + s["b1"][2])
    assert (row.n_a0, row.n_a1, row.n_b0, row.n_b1) == (
        s["a0"][0], s["a1"][0], s["b0"][0], s["b1"][0],
    )
    assert row.did_estimate == round(did, 6)
    assert row.did_z == round(did / se, 6)
    assert all(v[0] > 1 for v in s.values())


def test_events_ols_trend_matches_python_recompute(spark):
    """OLS trend vs direct recompute: same day index, cents grid,
    co-moment combination, and operation order for slope, intercept
    and R²; plus the regression identities 0 ≤ R² ≤ 1 and the line
    passing through the mean point."""
    from collections import defaultdict

    from duckdb_gsheets_spark.operators.events import events_ols_trend
    from duckdb_gsheets_spark.plans.catalog import load_table

    got = {
        r.event_type: (r.n, r.slope_per_day, r.intercept, r.r2)
        for r in events_ols_trend(spark, SF).collect()
    }
    rows = (
        load_table(spark, SF, "events")
        .selectExpr("event_type", "value", "to_date(ts) AS d")
        .collect()
    )
    d0 = min(r.d for r in rows)
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(
            ((r.d - d0).days, int(round(r.value * 100.0)))
        )
    expected = {}
    for et, pts in by_type.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx <= 0 or vy <= 0:
            continue
        num = float(n * sxy - sx * sy)
        slope = num / float(vx)
        intercept = (sy - slope * sx) / n / 100.0
        expected[et] = (
            n,
            round(slope / 100.0, 6),
            round(intercept, 6),
            round(num * num / (float(vx) * float(vy)), 6),
        )
    assert got == expected
    for n, slope, intercept, r2 in got.values():
        assert 0.0 <= r2 <= 1.0
        assert n > 2


def test_ivfpq_candidates_stay_in_probed_lists(spark):
    """IVF-PQ neighbors must come ONLY from the query's probed
    inverted lists (the pruning contract), and the recall floor of
    the raw-vector 4-bit codes must hold against the exact baseline
    (the docstring owns that raw-PQ-over-IVF lower-bounds a trained
    residual IVFADC)."""
    import numpy as np

    from duckdb_gsheets_spark.operators.similarity import (
        IVF_NPROBE,
        _collect_ivf_inputs,
        ann_ivfpq_topk,
        ivf_assignments,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    centroid_rows, query_rows = _collect_ivf_inputs(spark, SF)
    _, assignment = ivf_assignments(emb, centroid_rows)
    list_of = {
        r.vec_id: r.list_id
        for r in assignment.select("vec_id", "list_id").collect()
    }
    C = np.array([r.emb for r in centroid_rows])
    cids = [r.vec_id for r in centroid_rows]
    unit = C / np.linalg.norm(C, axis=1, keepdims=True)
    probed = {}
    for q in query_rows:
        x = np.array(q.emb)
        s = np.round((unit @ x) / np.linalg.norm(x), 6)
        order = sorted(range(len(cids)), key=lambda j: (-s[j], cids[j]))
        probed[q.vec_id] = {cids[j] for j in order[:IVF_NPROBE]}

    rows = ann_ivfpq_topk(spark, SF).collect()
    assert len(rows) == 50  # 10 queries × k
    for r in rows:
        assert list_of[r.vec_b] in probed[r.vec_a], (
            f"neighbor {r.vec_b} of query {r.vec_a} sits in list "
            f"{list_of[r.vec_b]}, outside probes {probed[r.vec_a]}"
        )

    exact = {(r.vec_a, r.vec_b) for r in ann_cosine_topk(spark, SF).collect()}
    got = {(r.vec_a, r.vec_b) for r in rows}
    assert len(got & exact) >= len(exact) * 0.1


def test_sq8_recall_report_bounds(spark):
    """SQ8 is a gentle quantizer: the enforced floor is mean recall
    ≥ 0.9 / min ≥ 0.6 with a small strictly-positive similarity
    shift (SQ8 is lossy even when ranks survive). On the current
    corpus the observed value is a perfect 1.0 — the floors leave
    headroom for dataset regeneration, not for a code regression
    (the hash-checked oracle pins exact values)."""
    from duckdb_gsheets_spark.operators.similarity import ann_sq8_recall

    rows = ann_sq8_recall(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_queries == 10
    assert r.mean_recall >= 0.9
    assert r.min_recall >= 0.6
    assert 0.0 < r.mean_matched_sim_shift < 0.01


def test_sq8_topk_matches_manual_dequant(spark):
    """ann_sq8_topk's ranking must equal a driver-side recompute that
    quantizes with the same absmax grid — pinning the asymmetric
    (float query × dequantized corpus) contract independently of the
    SQL oracle."""
    import numpy as np

    from duckdb_gsheets_spark.operators.similarity import (
        N_QUERY_VECTORS,
        SQ_LEVELS,
        TOPK_K,
        ann_sq8_topk,
    )
    from duckdb_gsheets_spark.functions.vectors import to_double
    from duckdb_gsheets_spark.plans.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    data = {
        r.vec_id: np.array(r.x)
        for r in emb.select(
            "vec_id", to_double(F.col("embedding")).alias("x")
        ).collect()
    }
    M = np.stack([data[i] for i in sorted(data)])
    a = np.abs(M).max(axis=0)
    safe = np.where(a == 0, 1.0, a)
    # round-half-away-from-even matches F.round(HALF_UP) for the
    # positive and negative grid alike on this data (no exact .5
    # ties — asserted below so a future dataset can't silently
    # diverge).
    scaled = M * SQ_LEVELS / safe
    assert not np.any(np.isclose(scaled % 1, 0.5)), "exact .5 tie"
    deq = np.round(scaled) * safe / SQ_LEVELS
    deq[:, a == 0] = 0.0
    ids = np.array(sorted(data))
    dn = np.sqrt((deq * deq).sum(axis=1))
    expected = {}
    for qid in range(N_QUERY_VECTORS):
        q = data[qid]
        sims = np.round(
            (deq @ q) / (dn * np.sqrt(q @ q)), 6
        )
        keep = ids != qid
        order = np.lexsort((ids[keep], -sims[keep]))[:TOPK_K]
        expected[qid] = list(zip(ids[keep][order], sims[keep][order]))
    got = {}
    for r in ann_sq8_topk(spark, SF).collect():
        got.setdefault(r.vec_a, []).append((r.vec_b, r.sq_sim))
    for qid, exp in expected.items():
        assert [v for v, _ in got[qid]] == [int(v) for v, _ in exp]
        for (_, s_got), (_, s_exp) in zip(got[qid], exp):
            assert abs(s_got - s_exp) <= 2e-6


def test_sq8_rerank_recovers_recall(spark):
    """Two-stage retrieval invariants: the reranked result's recall
    can never be WORSE than the flat SQ8 index's (the rerank re-scores
    a superset of what the flat index returns, with exact floats), the
    recovery delta is exactly their difference, and with R = 5k deep
    candidates on this corpus the rerank should be perfect or
    near-perfect."""
    from duckdb_gsheets_spark.operators.similarity import (
        ann_sq8_rerank_recall,
    )

    r = ann_sq8_rerank_recall(spark, SF).collect()[0]
    assert r.mean_recall >= r.mean_recall_sq8
    assert abs(
        r.recall_recovered - round(r.mean_recall - r.mean_recall_sq8, 6)
    ) < 1e-9
    assert r.mean_recall >= 0.9
    assert 0 <= r.n_perfect <= r.n_queries


def test_contamination_bloom_no_false_negatives_and_fp_band(spark):
    """The Bloom screen may over-flag but NEVER under-flag: per
    source, bloom-flagged minus false-positives must equal the exact
    containment count (exact ⊆ bloom — a Bloom filter has no false
    negatives), and the measured FP mass must sit in the band the
    32-bits-per-element sizing rule predicts (nonzero — the audit is
    not degenerate — but well under 20% of screened docs)."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.operators.chunking import contamination_bloom

    rows = contamination_bloom(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_bloom_flagged - r.n_false_positives == r.n_exact_flagged
        assert 0 <= r.n_bloom_flagged <= r.n_docs_screened
    screened = sum(r.n_docs_screened for r in rows)
    fp = sum(r.n_false_positives for r in rows)
    exact = sum(r.n_exact_flagged for r in rows)
    assert exact >= 1  # the held-out slice does overlap the corpus
    assert 0 < fp < 0.2 * screened


def test_contamination_bloom_sharded_no_false_negatives(spark):
    """The partitioned screen keeps the Bloom contract through shard
    routing: exact ⊆ bloom per source (a benchmark gram and its
    corpus twin route to the SAME shard by construction, so no
    containment can be lost to routing), and the report shape matches
    the unsharded audit's."""
    from duckdb_gsheets_spark.operators.chunking import (
        contamination_bloom_sharded,
    )

    rows = contamination_bloom_sharded(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_bloom_flagged - r.n_false_positives == r.n_exact_flagged
        assert 0 <= r.n_bloom_flagged <= r.n_docs_screened
    assert sum(r.n_exact_flagged for r in rows) >= 1


def test_bloom_word_packed_mask_past_2e24_bits(spark):
    """The word-packed mask works PAST the round-10 2^24-bit cap: a
    ``bits_per_item`` override forces m > 2^24 from a small planted
    gram set (so the test doesn't need a half-million-gram benchmark),
    the packed ``array<long>`` artifact stays ceil(m/63) words of
    non-negative longs, and the per-gram probe
    (``_bloom_bit`` / ``_bloom_word_hit``, the expression
    contamination_bloom runs) finds every planted member — a Bloom
    filter has no false negatives at ANY size, which only holds if
    word index / bit-in-word arithmetic is consistent between fit
    (python packing) and probe (JVM element_at + bitwise-AND)."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.operators.chunking import (
        BLOOM_K,
        BLOOM_WORD_BITS,
        CONTAM_N,
        _bloom_bit,
        _bloom_word_hit,
        bloom_artifact,
    )

    # 600 planted grams × 2^16 bits/item = 39.3M bits > 2^24.
    texts = [
        " ".join(f"w{i}_{j}" for j in range(CONTAM_N)) for i in range(600)
    ]
    bench_grams = (
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select(F.md5(F.col("text")).alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    m, words = bloom_artifact(
        spark, SF, bench_grams=bench_grams, bits_per_item=1 << 16
    )
    assert m == 600 * (1 << 16) > (1 << 24)
    assert len(words) == (m + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS
    assert all(w >= 0 for w in words)

    mask_df = spark.createDataFrame([(words,)], "bloom_words array<long>")
    # Every text is exactly one CONTAM_N-gram, so its gram is md5(text).
    grams = spark.createDataFrame(
        # members: the planted grams; non-members: unseen token runs
        [(t, True) for t in texts[:50]]
        + [
            (" ".join(f"x{i}_{j}" for j in range(CONTAM_N)), False)
            for i in range(200)
        ],
        "text string, planted boolean",
    ).select("planted", F.md5(F.col("text")).alias("gram"))
    hit = None
    for s in range(BLOOM_K):
        h = _bloom_word_hit(
            _bloom_bit(F.col("gram"), s, m), F.col("bloom_words")
        )
        hit = h if hit is None else (hit & h)
    flagged = (
        grams.crossJoin(F.broadcast(mask_df))
        .select("planted", hit.alias("hit"))
        .collect()
    )
    assert all(r.hit for r in flagged if r.planted)  # no false negatives
    # at 2^16 bits/item the fill ratio is ~0, so false positives on the
    # 200 unseen docs should be essentially absent
    assert sum(r.hit for r in flagged if not r.planted) <= 2


def test_source_flow_matrix_planted_and_invariants(spark, tmp_path):
    """dedup_source_flow_matrix on a PLANTED two-source corpus: a text
    duplicated within src_x and across into src_y must produce an
    intra-source diagonal row (cross_source=false) and a cross-source
    row (cross_source=true), with canonical (src_a <= src_b) ordering
    and mean similarity at 1.0 for verbatim copies."""
    import os

    from duckdb_gsheets_spark.operators.dedup import (
        dedup_source_flow_matrix,
    )

    sf = str(tmp_path / "flow_sf")
    os.makedirs(sf, exist_ok=True)
    boiler = "the quick brown fox jumps over the lazy dog again " * 5
    rows = [
        (1, boiler, "en", "src_x", len(boiler)),
        (2, boiler, "en", "src_x", len(boiler)),
        (3, boiler, "en", "src_y", len(boiler)),
        (4, "completely unrelated content about gardens and tea", "en",
         "src_y", 50),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    out = {
        ((r.src_a, r.src_b)): r
        for r in dedup_source_flow_matrix(spark, sf).collect()
    }
    intra = out[("src_x", "src_x")]
    cross = out[("src_x", "src_y")]
    assert intra.n_pairs == 1 and intra.cross_source is False
    assert cross.n_pairs == 2 and cross.cross_source is True
    assert intra.mean_jaccard == 1.0 and cross.mean_jaccard == 1.0
    assert all(r.src_a <= r.src_b for r in out.values())


def test_classifier_corpus_balance_and_labels(spark):
    """pipeline_classifier_corpus: both labels present, every curated
    positive kept (pos count == curated doc count), and the
    hash-downsampled negative class lands within binomial noise of
    the positive count — the class balance the classifier recipe
    exists to produce."""
    import math

    import pyspark.sql.functions as F

    from duckdb_gsheets_spark.operators.pipeline import (
        CLASSIFIER_CURATED_SOURCES,
        pipeline_classifier_corpus,
    )
    from duckdb_gsheets_spark.plans.catalog import load_table

    rows = pipeline_classifier_corpus(spark, SF).collect()
    pos = sum(r.n_docs for r in rows if r.label == "pos")
    neg = sum(r.n_docs for r in rows if r.label == "neg")
    assert pos > 0 and neg > 0
    curated = (
        load_table(spark, SF, "documents")
        .where(
            F.col("text").isNotNull()
            & F.col("source").isin(*CLASSIFIER_CURATED_SOURCES)
        )
        .count()
    )
    assert pos == curated
    assert abs(neg - pos) <= 4 * math.sqrt(pos) + 10
    assert all(r.mean_quality_micro > 0 for r in rows)


def test_quality_survivor_planted(spark, tmp_path):
    """dedup_quality_survivor on a PLANTED corpus: two copies that
    normalize to the same fingerprint (whitespace-noise variants —
    the real extraction-noise case) but score differently must elect
    exactly one survivor, and the ledger's kept mean must strictly
    exceed the dropped mean; a unique doc is its own survivor with a
    zero dropped mean."""
    import os

    from duckdb_gsheets_spark.operators.dedup import (
        dedup_quality_survivor,
    )

    # punctuation matters: the punct/chars component is what makes
    # the whitespace-noise copy score differently
    base = "the quick brown fox, jumps over the lazy dog. again, again."
    noisy = base.replace(" ", "   ")  # same fingerprint, other score
    sf = str(tmp_path / "qs_sf")
    os.makedirs(sf, exist_ok=True)
    rows = [
        (1, base, "en", "src_a", len(base)),
        (2, noisy, "en", "src_a", len(noisy)),
        (3, "a totally different unique document", "en", "src_b", 35),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    out = {r.source: r for r in dedup_quality_survivor(spark, sf).collect()}
    a = out["src_a"]
    assert (a.n_docs, a.n_survivors, a.n_dropped) == (2, 1, 1)
    assert a.kept_quality_micro > a.dropped_quality_micro
    b = out["src_b"]
    assert (b.n_survivors, b.n_dropped, b.dropped_quality_micro) == (1, 0, 0)


def test_doremi_trajectory_invariants(spark):
    """pipeline_doremi_trajectory: T×k rows, the weighted reference
    loss is NON-DECREASING over rounds (mass shifts toward hard
    domains, raising the mixture-weighted mean — the EG fixed-point
    direction), every round's smoothed weights sum to 1e6 within
    rounding, and the final round matches pipeline_doremi_iterative's
    ref/excess/weight columns."""
    from duckdb_gsheets_spark.operators.pipeline import (
        DOREMI_EG_ROUNDS,
        pipeline_doremi_iterative,
        pipeline_doremi_trajectory,
    )

    rows = pipeline_doremi_trajectory(spark, SF).collect()
    k = len({r.lang for r in rows})
    assert len(rows) == DOREMI_EG_ROUNDS * k
    refs = sorted({(r.round, r.ref_micro) for r in rows})
    assert all(
        refs[i][1] <= refs[i + 1][1] for i in range(len(refs) - 1)
    )
    for t in range(1, DOREMI_EG_ROUNDS + 1):
        sm = sum(r.weight_micro for r in rows if r.round == t)
        assert 1_000_000 - 2 * k <= sm <= 1_000_000
    fin = {
        r.lang: (r.ref_micro, r.excess_micro, r.weight_micro)
        for r in rows
        if r.round == DOREMI_EG_ROUNDS
    }
    it = {
        r.lang: (r.ref_micro, r.excess_micro, r.weight_micro)
        for r in pipeline_doremi_iterative(spark, SF).collect()
    }
    assert fin == it


def test_tokenizer_fertility_invariants(spark):
    """tokenizer_fertility: every word is at least 1 and at most
    len(word) BPE symbols, so per language n_words <= n_bpe_tokens <=
    n_chars, tokens-per-char <= 1.0, and — since only 3 merges are
    learned and every in-scope word is >= 2 chars — fertility stays
    above 1 token/word. The merges must COMPRESS somewhere: at least
    one language's n_bpe_tokens < n_chars strictly."""
    from duckdb_gsheets_spark.operators.text import tokenizer_fertility

    rows = tokenizer_fertility(spark, SF).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r.n_words <= r.n_bpe_tokens <= r.n_chars
        assert r.tokens_per_char_micro <= 1_000_000
        assert r.fertility_micro > 1_000_000
    assert any(r.n_bpe_tokens < r.n_chars for r in rows)


def test_phash_signatures_match_explode_reference(spark):
    """Formulation equivalence for the perceptual signature: the
    production builder (per-row HOF since round 14) must be
    bit-identical to the round-13 posexplode + window reference."""
    from duckdb_gsheets_spark.operators.multimodal import (
        _phash_sigs_explode_reference,
        media_table,
        phash_signatures,
    )

    b = {
        r.doc_id: (r.format, r.sig)
        for r in phash_signatures(spark, SF).collect()
    }
    ref = {
        r.doc_id: (r.format, r.sig)
        for r in _phash_sigs_explode_reference(
            media_table(spark, SF)
        ).collect()
    }
    assert b == ref
    assert b


def test_phash_neardup_planted_edit(spark, tmp_path):
    """Perceptual near-dup on a PLANTED corpus: a single-character
    edit (which shifts NO bytes but changes one content-defined
    chunk) must pair with its original at 0 < hamming <=
    PHASH_MAX_HAMMING and byte_identical=0 — the pair byte dedup
    misses — while an exact copy pairs at hamming 0 with
    byte_identical=1 and an unrelated same-format payload pairs with
    nothing. doc_ids are all ≡ 0 (mod 3) so every doc is the same
    'png' format."""
    import os
    import random

    from duckdb_gsheets_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        multimodal_phash_calibration,
        multimodal_phash_neardup,
    )

    rng = random.Random(7)
    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()
    base = " ".join(rng.choice(words) for _ in range(1200))
    edited = base[:900] + ("Q" if base[900] != "Q" else "Z") + base[901:]
    other = " ".join(rng.choice(words) for _ in range(1200))
    sf = str(tmp_path / "phash_sf")
    os.makedirs(sf, exist_ok=True)
    rows = [
        (3, base, "en", "s", len(base)),
        (6, edited, "en", "s", len(edited)),
        (9, base, "en", "s", len(base)),
        (12, other, "en", "s", len(other)),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    pairs = {
        (r.doc_a, r.doc_b): r
        for r in multimodal_phash_neardup(spark, sf).collect()
    }
    assert pairs[(3, 9)].hamming == 0
    assert pairs[(3, 9)].byte_identical == 1
    for pair in ((3, 6), (6, 9)):
        assert 0 < pairs[pair].hamming <= PHASH_MAX_HAMMING
        assert pairs[pair].byte_identical == 0
    assert pairs[(3, 6)].hamming == pairs[(6, 9)].hamming
    assert not any(12 in p for p in pairs)

    cal = {r.hamming: r for r in multimodal_phash_calibration(spark, sf).collect()}
    assert cal[0].n_byte_identical == 1
    assert sum(r.n_perceptual_only for r in cal.values()) == 2
    assert all(
        r.n_pairs == r.n_byte_identical + r.n_perceptual_only
        for r in cal.values()
    )


def test_phash_clusters_and_survivor_planted(spark, tmp_path):
    """Transitive clusters + best-copy election on a planted corpus:
    an original, its one-char edit, and its exact copy must collapse
    into ONE component (cluster_id = min doc_id, size 3) while an
    unrelated payload stays a singleton; the survivor election keeps
    one copy per component by (bytes desc, doc_id asc) — here all
    three copies tie on bytes, so the ledger must kept the lowest
    doc_id and charge the other two as dropped bytes."""
    import os
    import random

    from duckdb_gsheets_spark.operators.multimodal import (
        multimodal_phash_clusters,
        multimodal_phash_survivor,
    )

    rng = random.Random(7)
    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()
    base = " ".join(rng.choice(words) for _ in range(1200))
    edited = base[:900] + ("Q" if base[900] != "Q" else "Z") + base[901:]
    other = " ".join(rng.choice(words) for _ in range(1200))
    sf = str(tmp_path / "phash_cl_sf")
    os.makedirs(sf, exist_ok=True)
    rows = [
        (3, base, "en", "s", len(base)),
        (6, edited, "en", "s", len(edited)),
        (9, base, "en", "s", len(base)),
        (12, other, "en", "s", len(other)),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    got = {
        r.doc_id: (r.cluster_id, r.cluster_size, r.is_rep)
        for r in multimodal_phash_clusters(spark, sf).collect()
    }
    assert got == {
        3: (3, 3, True),
        6: (3, 3, False),
        9: (3, 3, False),
        12: (12, 1, True),
    }

    led = {
        r.format: r for r in multimodal_phash_survivor(spark, sf).collect()
    }
    assert set(led) == {"png"}  # doc_ids ≡ 0 (mod 3)
    r = led["png"]
    assert (r.n_docs, r.n_survivors, r.n_dropped) == (4, 2, 2)
    assert r.kept_bytes == len(base) + len(other)
    assert r.dropped_bytes == len(edited) + len(base)


def test_doremi_weights_invariants(spark):
    """pipeline_doremi_weights on the generated corpus: weights are a
    floor-divided probability vector (sum within k of 1e6, all > 0),
    excess is non-negative with at least one zero (the at-or-below-
    mean domains), the max-excess domain carries the max raw weight
    (exponentiated gradient is monotone), and every domain's epoch
    multiplier is positive."""
    from duckdb_gsheets_spark.operators.pipeline import (
        pipeline_doremi_weights,
    )

    rows = pipeline_doremi_weights(spark, "/root/testdata/sf0.001").collect()
    k = len(rows)
    assert k >= 2
    w_sum = sum(r.weight_micro for r in rows)
    assert 1_000_000 - k <= w_sum <= 1_000_000
    sm_sum = sum(r.weight_smoothed_micro for r in rows)
    assert 1_000_000 - 2 * k <= sm_sum <= 1_000_000
    assert all(r.excess_micro >= 0 for r in rows)
    assert any(r.excess_micro == 0 for r in rows)
    mx = max(rows, key=lambda r: r.excess_micro)
    assert mx.weight_micro == max(r.weight_micro for r in rows)
    assert all(r.epochs_micro > 0 for r in rows)
    # overflow saturation: excess is clamped to the documented cap,
    # and the cap provably keeps es·1e6 (the weight numerator) inside
    # int64 — without it Spark wraps where DuckDB raises
    import math

    from duckdb_gsheets_spark.operators.pipeline import (
        DOREMI_EXCESS_CAP_MICRO,
    )

    assert all(r.excess_micro <= DOREMI_EXCESS_CAP_MICRO for r in rows)
    assert math.exp(DOREMI_EXCESS_CAP_MICRO / 1e6) * 1e9 * 1e6 < 2**63


def test_bloom_fit_oversized_suite_refuses_before_collect(
    spark, monkeypatch
):
    """The Bloom fits' one-action collect is LIMIT-bounded: a suite
    past the mask budget raises the friendly sizing ValueError after
    holding at most max_items+1 rows on the driver (an unbounded
    collect of an oversized benchmark would OOM before the old
    post-collect guard ran). BLOOM_MAX_M bits per item admits exactly
    1 gram (4 sharded), so 8 grams must refuse."""
    import pytest

    from duckdb_gsheets_spark.operators import chunking
    from duckdb_gsheets_spark.operators.chunking import (
        BLOOM_MAX_M,
        bloom_artifact,
        bloom_artifact_sharded,
    )

    grams = spark.createDataFrame(
        [(f"guard-gram-{i}",) for i in range(8)], "gram string"
    )
    with pytest.raises(ValueError, match="one-row broadcast budget"):
        bloom_artifact(
            spark, SF, bench_grams=grams, bits_per_item=BLOOM_MAX_M
        )
    # The sharded fit sizes at the module's BLOOM_BITS_PER_ITEM.
    monkeypatch.setattr(chunking, "BLOOM_BITS_PER_ITEM", BLOOM_MAX_M)
    with pytest.raises(ValueError, match="raise BLOOM_SHARDS"):
        bloom_artifact_sharded(grams)


def test_classifier_gate_ledger_invariants(spark):
    """pipeline_classifier_gate on the generated corpus: per-source
    kept ≤ seen with kept_tokens 0 iff nothing kept; scores live on
    the micro grid; the curated sources' doc-weighted mean score
    exceeds the rest (the probe learns the label signal it was
    trained on); and the Pareto tail keeps a nonzero but minority
    slice overall."""
    from duckdb_gsheets_spark.operators.pipeline import (
        CLASSIFIER_CURATED_SOURCES,
        pipeline_classifier_gate,
    )

    rows = pipeline_classifier_gate(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_kept <= r.n_docs
        assert (r.n_kept == 0) == (r.kept_tokens == 0)
        assert 0 <= r.mean_score_micro <= 1_000_000
        assert (r.n_kept == 0) == (r.kept_score_micro == 0)
    pos = [r for r in rows if r.source in CLASSIFIER_CURATED_SOURCES]
    neg = [r for r in rows if r.source not in CLASSIFIER_CURATED_SOURCES]
    pos_mean = sum(r.mean_score_micro * r.n_docs for r in pos) / sum(
        r.n_docs for r in pos
    )
    neg_mean = sum(r.mean_score_micro * r.n_docs for r in neg) / sum(
        r.n_docs for r in neg
    )
    assert pos_mean > neg_mean
    n_kept = sum(r.n_kept for r in rows)
    n_docs = sum(r.n_docs for r in rows)
    assert 0 < n_kept < n_docs // 2


def test_classifier_fit_separates_planted_vocab(spark, tmp_path):
    """On a corpus where the curated tier uses a DISJOINT vocabulary,
    the NB-initialized probe must separate the classes decisively:
    every curated-source doc scores far above every crawl doc (the
    hashed-feature space keeps the signal; three GD steps must not
    destroy it)."""
    import os

    import pyspark.sql.functions as F

    from duckdb_gsheets_spark.operators.pipeline import (
        pipeline_classifier_gate,
    )

    sf = str(tmp_path / "cls_sf")
    os.makedirs(sf, exist_ok=True)
    good = "wiki prose citation paragraph reference footnote"
    junk = "click spam buy casino pills winner"
    rows = [
        (i, f"{good} {good} sentence {i % 7}", "en", "src0", 60)
        for i in range(0, 40)
    ] + [
        (i, f"{junk} {junk} offer {i % 7}", "en", "src1", 60)
        for i in range(40, 80)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    led = {r.source: r for r in pipeline_classifier_gate(spark, sf).collect()}
    assert set(led) == {"src0", "src1"}
    assert led["src0"].mean_score_micro > 900_000
    assert led["src1"].mean_score_micro < 100_000
    # decisive scores survive the Pareto tail asymmetrically
    assert led["src0"].n_kept > led["src1"].n_kept
