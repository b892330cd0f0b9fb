"""Similarity search and embedding audits over the ``embeddings``
table (``vec_id``, ``label``, ``embedding`` array<float>). 23 queries:

* the exact cosine top-k (``ann_cosine_topk``), the baseline every
  approximate method is graded against, and the k-NN label vote built
  on it (``knn_label_probe``);
* approximate top-k: random-hyperplane LSH (``ann_lsh_topk``),
  IVF-Flat (``ann_ivf_topk``), product-quantization ADC
  (``ann_pq_adc_topk``), IVF-PQ (``ann_ivfpq_topk``), SQ8
  (``ann_sq8_topk``) and SQ8 with an exact float rerank
  (``ann_sq8_rerank_topk``);
* audits of those methods against the baseline: recall@k
  (``ann_recall_report``, ``ann_nprobe_recall_curve``,
  ``ann_matryoshka_recall``, ``ann_prefix_ivf_recall``,
  ``ann_sq8_recall``, ``ann_sq8_rerank_recall``), nDCG@k
  (``ann_ndcg_report``) and IVF list balance
  (``ann_ivf_balance_report``);
* MMR diversification of the cosine pool (``ann_mmr_rerank``);
* embedding checks: ``embedding_stats``, ``embedding_quantize``,
  ``embedding_isotropy``, ``embedding_doc_coverage``, LSH-blocked
  near-duplicate pairs (``embedding_neardup_pairs``) and lexical
  near-dup pairs scored by cosine (``dedup_lexical_semantic_pairs``).

Every top-k query scores (query, candidate) pairs and keeps each
query's first ``TOPK_K`` by ``(sim DESC, vec_b)``: :func:`_rank_cut`
does that in Spark and :func:`_topk_sql` in the oracles;
:func:`_exact_topk_cte` is the oracle's exact baseline and
:func:`_recall_rollup` / :func:`_recall_rollup_sql` the recall audit.

Two scoring paths by design (see functions.vectors): queries whose
result is the exact scorer's use the JVM-side HOF fold, whose
summation order matches the DuckDB oracle; the approximate paths (LSH
buckets, IVF assignment, candidate scoring) use Arrow-batched numpy
GEMMs, about 10× faster per fold than interpreted HOFs, with < 1e-12
drift erased by the 6-decimal round. The LSH plane matrix, the IVF
centroids and the PQ codebook are small deterministic numpy arrays
shipped in the kernel closures.
"""

from __future__ import annotations

import math
import os
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from duckdb_gsheets_spark.functions.vectors import (
    centroid_assign_np,
    cosine_pre,
    dot_np,
    norm,
    to_double,
)
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import (
    fan_out,
    load_table,
    session_memo,
)

TOPK_K = 5
N_QUERY_VECTORS = 10  # vec_id < 10 are the query set
NEARDUP_COSINE_THRESHOLD = 0.95

#: Multi-table random-hyperplane LSH: each table hashes with its own
#: small set of planes (2^planes buckets per table); a candidate is
#: any vector sharing a bucket in ANY table. More tables → higher
#: recall at the cost of more candidates — tune per corpus density.
LSH_TABLES = 4
LSH_PLANES_PER_TABLE = 4
LSH_SEED = 42
EMBEDDING_DIM = 64

#: DuckDB fragment computing pairwise cosine via positional unnest.
_ORACLE_VECTOR_CTE = """
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), norms AS (
  SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM v GROUP BY vec_id
)
"""


def _rank_cut(
    df: DataFrame,
    sim: str,
    k: int = TOPK_K,
    keys: tuple[str, ...] = ("vec_a",),
    rank: str = "rank",
) -> DataFrame:
    """The cut every top-k query ends in: number each ``keys``
    partition's rows by ``(sim DESC, vec_b)``, a total order, and keep
    the first ``k`` as ``(*keys, vec_b, sim, rank)``."""
    w = Window.partitionBy(*keys).orderBy(F.desc(sim), F.col("vec_b"))
    return (
        df.withColumn(rank, F.row_number().over(w))
        .where(F.col(rank) <= k)
        .select(*keys, "vec_b", sim, rank)
    )


def _topk_sql(name: str, src: str, sim: str, k: int = TOPK_K) -> str:
    """The oracle twin of :func:`_rank_cut`: CTE ``name`` keeps each
    query's first ``k`` rows of ``src`` by ``(sim DESC, vec_b)`` as
    ``(vec_a, vec_b, sim, rank)``."""
    return f"""{name} AS (
  SELECT vec_a, vec_b, {sim},
         CAST(ROW_NUMBER() OVER (PARTITION BY vec_a
              ORDER BY {sim} DESC, vec_b) AS INTEGER) AS rank
  FROM {src}
  QUALIFY rank <= {k}
)"""


def _exact_topk_cte(
    prefix: str = "ex", vname: str = "v", nname: str = "norms"
) -> str:
    """CTE chain (no WITH header) from ``vname``/``nname`` (positional
    components and per-vector norms, default the full-width v/norms)
    to ``{prefix}_topk`` ``(vec_a, vec_b, cos_sim, rank)``: the exact
    brute-force top-k of every query vector. The width audits point
    it at the :func:`_width_cte` slices."""
    p = prefix
    return f"""{p}_dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.x * b.x) AS dp
  FROM {vname} a JOIN {vname} b ON a.i = b.i
  WHERE a.vec_id < {N_QUERY_VECTORS} AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
), {p}_scored AS (
  SELECT vec_a, vec_b, ROUND(dp / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM {p}_dots
  JOIN {nname} na ON na.vec_id = vec_a
  JOIN {nname} nb ON nb.vec_id = vec_b
), {_topk_sql(f"{p}_topk", f"{p}_scored", "cos_sim")}"""


def _rescored_topk_sql(prefix: str, vname: str = "v", nname: str = "norms") -> str:
    """CTE chain (no WITH header) from the candidate pairs
    ``{prefix}_cand`` to ``{prefix}_topk``: exact 6-decimal cosine of
    each candidate, then the top-k cut."""
    p = prefix
    return f"""{p}_scored AS (
  SELECT c.vec_a, c.vec_b,
         ROUND(SUM(qa.x * qb.x) / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM {p}_cand c
  JOIN {vname} qa ON qa.vec_id = c.vec_a
  JOIN {vname} qb ON qb.vec_id = c.vec_b AND qb.i = qa.i
  JOIN {nname} na ON na.vec_id = c.vec_a
  JOIN {nname} nb ON nb.vec_id = c.vec_b
  GROUP BY c.vec_a, c.vec_b, na.nrm, nb.nrm
), {_topk_sql(f"{p}_topk", f"{p}_scored", "cos_sim")}"""


def _sql_lit(value) -> str:
    return f"'{value}'" if isinstance(value, str) else str(value)


def _union_sql(key: str, arms: dict, cols: str = "vec_a, vec_b") -> str:
    """One ``SELECT <value> AS key, cols FROM <cte>`` per arm, unioned."""
    return "\n  UNION ALL\n  ".join(
        f"SELECT {_sql_lit(v)} AS {key}, {cols} FROM {cte}"
        for v, cte in arms.items()
    )


def _values_sql(values) -> str:
    return ", ".join(f"({_sql_lit(v)})" for v in values)


def _recall_rollup_sql(key: str, arms: dict) -> str:
    """The recall audit's tail, CTEs then the final SELECT: recall@k
    of each arm's top-k CTE (``arms`` maps a ``key`` value to it)
    against ``ex_topk``, per query, rolled up per ``key``. The twin of
    :func:`_recall_rollup`."""
    k = float(TOPK_K)
    return f"""rc_approx AS (
  {_union_sql(key, arms)}
), rc_matched AS (
  SELECT a.{key}, e.vec_a, COUNT(*) AS n_matched
  FROM ex_topk e JOIN rc_approx a
    ON a.vec_a = e.vec_a AND a.vec_b = e.vec_b
  GROUP BY a.{key}, e.vec_a
), rc_per_query AS (
  SELECT m.{key}, s.vec_a, COALESCE(x.n_matched, 0) AS n_matched
  FROM (SELECT DISTINCT vec_a FROM ex_topk) s
  CROSS JOIN (VALUES {_values_sql(arms)}) m({key})
  LEFT JOIN rc_matched x
    ON x.{key} = m.{key} AND x.vec_a = s.vec_a
)
SELECT {key}, COUNT(*) AS n_queries,
       ROUND(SUM(n_matched) / (COUNT(*) * {k}), 6) AS mean_recall,
       ROUND(MIN(n_matched) / {k}, 6) AS min_recall,
       CAST(SUM(CASE WHEN n_matched = {TOPK_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_perfect
FROM rc_per_query
GROUP BY {key}
"""


def _query_batch(spark: SparkSession, sf_dir: str, ids=None) -> DataFrame:
    """The bounded query batch ``(vec_a, emb_a, norm_a)`` (vec_id <
    N_QUERY_VECTORS, or ``ids``), read driver-side and shipped as a
    literal relation, so broadcasting it never re-scans the corpus
    (float64 values survive the round trip exactly). The norm is the
    JVM HOF fold, the oracle's summation order."""
    rows = _driver_vec_rows(
        sf_dir, list(range(N_QUERY_VECTORS)) if ids is None else ids
    )
    return spark.createDataFrame(
        [(int(r.vec_id), list(r.emb)) for r in rows],
        "vec_a long, emb_a array<double>",
    ).withColumn("norm_a", norm(F.col("emb_a")))


def _vectors(
    emb: DataFrame, id_as: str, side: str, vec: F.Column | None = None
) -> DataFrame:
    """``(id_as, emb_<side>, norm_<side>)``: each row's embedding as
    doubles, or the expression ``vec``, with its L2 norm."""
    v = to_double(F.col("embedding")) if vec is None else vec
    return emb.select(
        F.col("vec_id").alias(id_as), v.alias(f"emb_{side}")
    ).withColumn(f"norm_{side}", norm(F.col(f"emb_{side}")))


def _cos6(a: str, b: str) -> F.Column:
    """6-decimal cosine of ``emb_<a>`` and ``emb_<b>`` (one HOF fold)
    over their precomputed norms."""
    return F.round(
        cosine_pre(
            F.col(f"emb_{a}"), F.col(f"emb_{b}"),
            F.col(f"norm_{a}"), F.col(f"norm_{b}"),
        ),
        6,
    )


def _broadcast_scored(
    spark: SparkSession, sf_dir: str, sim: str, vec=None
) -> tuple[DataFrame, DataFrame]:
    """The broadcast query batch × corpus frame ``(vec_a, vec_b,
    <sim>)`` of every pair but a query with itself, plus the query
    batch. ``vec(emb)`` gives the corpus side's vector expression
    (default the float embedding). Shared by the exact baseline and
    the SQ8 index, so their scoring cannot drift."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = _vectors(emb, "vec_b", "b", None if vec is None else vec(emb))
    queries = _query_batch(spark, sf_dir)
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .where(F.col("vec_a") != F.col("vec_b"))
        .select("vec_a", "vec_b", _cos6("a", "b").alias(sim))
    )
    return scored, queries


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact ANN baseline.

    The query batch (vec_id < N) is broadcast against the corpus
    (:func:`_broadcast_scored`); each pair is scored by one JVM HOF
    fold (interpreted, not codegen — see functions.vectors — but
    shuffle-free, and its summation order is the oracle's), and
    :func:`_rank_cut` ranks each query's candidates by the rounded
    similarity with a vec_id tiebreak, so the order is engine-stable.
    """
    scored, _ = _broadcast_scored(spark, sf_dir, "cos_sim")
    return _rank_cut(scored, "cos_sim")


ANN_TOPK_ORACLE = f"""
{_ORACLE_VECTOR_CTE},
{_exact_topk_cte()}
SELECT vec_a, vec_b, cos_sim, rank FROM ex_topk
"""


def embedding_neardup_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT O(n²) scorer.

    Verification oracle only (pytest, small SF) — NOT registered: a
    corpus-by-corpus crossJoin grows with the square of the corpus.
    The registered query is :func:`embedding_neardup_pairs` (LSH-blocked).
    """
    return neardup_pairs_exact(load_table(spark, sf_dir, "embeddings"))


def neardup_pairs_exact(emb: DataFrame) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold over an embeddings-shaped
    DataFrame (vec_id, embedding). O(n²) — pytest-oracle use only."""
    return (
        _vectors(emb, "vec_a", "a")
        .crossJoin(_vectors(emb, "vec_b", "b"))
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _cos6("a", "b").alias("cos_sim"))
        .where(F.col("cos_sim") >= NEARDUP_COSINE_THRESHOLD)
    )


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.95),
    LSH-blocked: candidates are pairs sharing a random-hyperplane
    bucket in ANY of the LSH_TABLES hash tables, then an exact cosine
    verifies each candidate.

    Scale shape: candidate generation is a bucket self-equi-join —
    never all-pairs. At cos ≥ 0.95 (angle ≤ 18°) a pair collides in at
    least one 4-plane table with prob ≈ 0.99; pairs at the planted
    near-dup similarity (≥ 0.99) collide with prob ≈ 1 − 1e-5. Recall
    vs the exact scorer is pinned by pytest on planted near-dups
    (tests/test_ops.py); :func:`embedding_neardup_pairs_exact` remains
    the exact O(n²) oracle there.
    """
    return neardup_pairs_blocked(load_table(spark, sf_dir, "embeddings"))


def neardup_pairs_blocked(emb: DataFrame) -> DataFrame:
    """LSH-blocked near-dup pairs over an embeddings-shaped DataFrame.

    Buckets/norms come from the vectorized GEMM stage, and the verify
    cosine is the Arrow-batched numpy dot: the candidate set is the
    bucket-join output (~bucket_size× the corpus), so the verify stage
    is the hot loop here, unlike the hash-checked top-k queries. The
    numpy-vs-oracle summation-order drift is < 1e-12 and the output is
    rounded to 6 decimals, so the hash check is unaffected (the same
    argument already underwrites HOF-vs-DuckDB matching — neither
    engine guarantees bitwise-identical accumulation).
    """
    from duckdb_gsheets_spark.operators.dedup import _wide

    # The bucket self-join moves (vec_id, tbl, bkt) metadata only and
    # is explicitly widened. Carrying both 64-dim arrays on every
    # candidate row scored a pair up to LSH_TABLES times, and AQE
    # folded the exploding join onto 1-2 tasks (exec alone swung
    # 6.8-62 s at sf0.1). Candidates dedup to distinct id pairs BEFORE
    # the embeddings attach, so each pair is scored exactly once and
    # the arrays cross exactly one join. The GEMM/bucket frame is
    # checkpointed once for its three consumers.
    with_buckets = _with_lsh_buckets(emb).localCheckpoint(eager=True)
    bucket_rows = _lsh_bucket_rows(with_buckets, "vec_id")
    cand = (
        _wide(
            _wide(bucket_rows.select(F.col("vec_id").alias("vec_a"), "tbl", "bkt"), "tbl", "bkt")
            .join(
                _wide(
                    bucket_rows.select(
                        F.col("vec_id").alias("vec_b"), "tbl", "bkt"
                    ),
                    "tbl",
                    "bkt",
                ),
                ["tbl", "bkt"],
            )
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b"),
            "vec_a",
            "vec_b",
        )
        .distinct()
    )
    ea = with_buckets.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("norm_a"),
    )
    eb = with_buckets.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("norm_b"),
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_np(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEARDUP_COSINE_THRESHOLD)
    )


NEARDUP_ORACLE = f"""
{_ORACLE_VECTOR_CTE},
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.x * b.x) AS dp
  FROM v a JOIN v b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, ROUND(dp / (na.nrm * nb.nrm), 6) AS cos_sim
FROM dots
JOIN norms na ON na.vec_id = vec_a
JOIN norms nb ON nb.vec_id = vec_b
WHERE ROUND(dp / (na.nrm * nb.nrm), 6) >= {NEARDUP_COSINE_THRESHOLD}
"""


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics (norms, dims)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = to_double(F.col("embedding"))
    return (
        emb.select(
            "label",
            F.size("embedding").alias("dim"),
            F.round(norm(vec), 6).alias("l2_norm"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("dim").alias("min_dim"),
            F.max("dim").alias("max_dim"),
            F.round(F.min("l2_norm"), 6).alias("min_norm"),
            F.round(F.max("l2_norm"), 6).alias("max_norm"),
        )
    )


EMBEDDING_STATS_ORACLE = f"""
{_ORACLE_VECTOR_CTE},
per_vec AS (
  SELECT e.vec_id, e.label, len(e.embedding) AS dim, ROUND(n.nrm, 6) AS l2_norm
  FROM embeddings e JOIN norms n USING (vec_id)
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(MIN(dim) AS INTEGER) AS min_dim,
       CAST(MAX(dim) AS INTEGER) AS max_dim,
       ROUND(MIN(l2_norm), 6) AS min_norm,
       ROUND(MAX(l2_norm), 6) AS max_norm
FROM per_vec
GROUP BY label
"""


def _lsh_planes() -> np.ndarray:
    """Deterministic plane tensor (tables × planes_per_table × dim)."""
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal(
        (LSH_TABLES, LSH_PLANES_PER_TABLE, EMBEDDING_DIM)
    )


def _lsh_hash(M: np.ndarray, planes: np.ndarray) -> tuple:
    """``(buckets, norms)`` of the rows of ``M``: bucket ``[i, t]`` is
    row i's bucket id in table t (bit p set iff its dot with plane p
    is > 0), from ONE (rows × dim) @ (dim × 16) GEMM for all tables;
    the row L2 norms ride along. The corpus stage and the driver-side
    query hashing both call it, so their buckets cannot drift."""
    n_tables, n_planes, _ = planes.shape
    bits = (M @ planes.reshape(n_tables * n_planes, -1).T) > 0
    weights = 1 << np.arange(n_planes)
    buckets = np.stack(
        [
            (bits[:, t * n_planes : (t + 1) * n_planes] * weights).sum(axis=1)
            for t in range(n_tables)
        ],
        axis=1,
    )
    return buckets, np.sqrt(np.einsum("ij,ij->i", M, M))


def _lsh_bucket_udf(planes: np.ndarray):
    """pandas_udf: embedding → struct(bucket0..bucketN, nrm), one
    :func:`_lsh_hash` per Arrow batch. The closure carries the tiny
    plane tensor to executors; the norm rides along so the corpus
    pass is a single Python stage."""
    out_type = StructType(
        [StructField(f"bucket{t}", LongType()) for t in range(len(planes))]
        + [StructField("nrm", DoubleType())]
    )

    @pandas_udf(out_type)
    def assign(emb: pd.Series) -> pd.DataFrame:
        buckets, nrm = _lsh_hash(np.stack(emb.to_numpy()), planes)
        cols = {f"bucket{t}": buckets[:, t] for t in range(len(planes))}
        return pd.DataFrame({**cols, "nrm": nrm})

    return assign


def _lsh_bucket_rows(with_buckets: DataFrame, *cols: str) -> DataFrame:
    """``(*cols, tbl, bkt)``: one row per vector and LSH table, the
    shuffle key of the bucket equi-joins."""
    return with_buckets.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col(f"bucket{t}").alias("bkt")
                    )
                    for t in range(LSH_TABLES)
                ]
            )
        ).alias("tb"),
    ).select(*cols, "tb.tbl", "tb.bkt")


def _with_lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, emb, bucket0..bucketN, nrm) — one narrow Python stage."""
    assign = _lsh_bucket_udf(_lsh_planes())
    return (
        fan_out(emb)
        .select("vec_id", to_double(F.col("embedding")).alias("emb"))
        .withColumn("bn", assign("emb"))
        .select(
            "vec_id",
            "emb",
            *[F.col(f"bn.bucket{t}").alias(f"bucket{t}") for t in range(LSH_TABLES)],
            F.col("bn.nrm").alias("nrm"),
        )
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH approximate top-k: per-table bucket equi-joins
    generate candidates (union over tables), then an exact cosine
    rerank picks the top k.

    No cross join anywhere — candidate generation is LSH_TABLES
    equi-joins on bucket ids. Query-side hashing runs driver-side
    (same numpy GEMM, same bit convention, on the bounded query batch)
    and ships as a literal broadcast relation — deriving it from the
    distributed bucket stage made the broadcast build re-execute the
    whole corpus Python stage. Recall vs the exact baseline is
    pytest-measured; the deterministic plane tensor also makes the
    full path SQL-expressible — value-exact DuckDB oracle
    (_lsh_oracle) with the planes embedded as literals.
    """
    bucket_rows = _lsh_bucket_rows(
        _with_lsh_buckets(load_table(spark, sf_dir, "embeddings")),
        "vec_id",
        "emb",
        "nrm",
    )
    q_rows = _driver_vec_rows(sf_dir, list(range(N_QUERY_VECTORS)))
    buckets, qnorm = _lsh_hash(np.array([r.emb for r in q_rows]), _lsh_planes())
    queries = spark.createDataFrame(
        [
            (int(r.vec_id), list(r.emb), float(qnorm[i]), t, int(buckets[i, t]))
            for i, r in enumerate(q_rows)
            for t in range(LSH_TABLES)
        ],
        "vec_a long, emb_a array<double>, norm_a double, tbl int, bkt long",
    )
    cands = (
        F.broadcast(queries)
        .join(bucket_rows, ["tbl", "bkt"])
        .where(F.col("vec_a") != F.col("vec_id"))
        .select(
            "vec_a",
            "emb_a",
            "norm_a",
            F.col("vec_id").alias("vec_b"),
            F.col("emb"),
            F.col("nrm"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
        .select(
            "vec_a",
            "vec_b",
            # Arrow-batched numpy dot: the < 1e-12 summation-order
            # drift against the oracle is erased by the 6-decimal round.
            F.round(
                dot_np(F.col("emb_a"), F.col("emb"))
                / (F.col("norm_a") * F.col("nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    return _rank_cut(cands, "cos_sim")


#: IVF parameters: corpus is partitioned into NUM_CENTROIDS inverted
#: lists; each query probes its IVF_NPROBE nearest lists.
IVF_CENTROIDS = 16
IVF_NPROBE = 4


class _VecRow:
    """Minimal (vec_id, emb) record matching the Row shape the Spark
    collect path produces."""

    __slots__ = ("vec_id", "emb")

    def __init__(self, vec_id: int, emb: list[float]):
        self.vec_id = vec_id
        self.emb = emb


def _driver_vec_rows(sf_dir: str, wanted_ids: list[int]) -> list[_VecRow]:
    """Driver-side pyarrow read of a bounded id set from the
    embeddings parquet — no Spark job, row-group-pruned ``in`` filter.

    Used only for the two structures a vector query legitimately holds
    at the coordinator: the quantizer sample and the query batch. In
    production both arrive as artifacts/parameters, not as cluster
    scans; reading them through a Spark job only added per-job latency
    to every ANN query. float32 → float64 widening here is exact, the
    same cast ``to_double`` performs executor-side.
    """
    path = os.path.join(sf_dir, "embeddings.parquet")
    t = pq.read_table(
        path,
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "in", wanted_ids)],
    )
    ids = t.column("vec_id").to_pylist()
    embs = t.column("embedding").to_pylist()
    rows = [
        _VecRow(i, [float(x) for x in e]) for i, e in zip(ids, embs)
    ]
    rows.sort(key=lambda r: r.vec_id)
    return rows


#: Centroid-id stride for the deterministic IVF quantizer sample.
IVF_ID_STRIDE = 31

#: The bounded driver-side probe asks for 8× the sample count of
#: strided candidate ids before falling back to a distributed sample
#: (_collect_quantizer_inputs) — covers contiguous-ish id spaces,
#: which is what the synthetic tables and any sane vec_id assignment
#: produce.


def _collect_quantizer_inputs(
    spark: SparkSession, sf_dir: str, stride: int, n_samples: int
) -> tuple[list, list]:
    """The two tiny row sets a quantized-ANN query needs, read
    driver-side: a strided sample of ``n_samples`` vectors (the
    trained quantizer — IVF centroids or the PQ codebook) and the
    bounded query batch (vec_id < N_QUERY_VECTORS — a k-NN API takes
    a small query set by contract).

    The sample ids are generated ARITHMETICALLY (multiples of the
    stride) and pushed down as an ``in`` filter — never by scanning
    the id column into driver memory, which would grow with the
    corpus. If the id
    space is so sparse that the bounded grid finds fewer than
    ``n_samples`` multiples, fall back to a DISTRIBUTED strided
    sample (bounded Spark collect) — same semantics: first
    ``n_samples`` stride-multiples ascending.
    """
    grid = [stride * i for i in range(n_samples * 8)]
    rows = {
        r.vec_id: r
        for r in _driver_vec_rows(
            sf_dir, sorted(set(grid + list(range(N_QUERY_VECTORS))))
        )
    }
    sample_ids = [i for i in grid if i in rows][:n_samples]
    if len(sample_ids) < n_samples:
        emb = load_table(spark, sf_dir, "embeddings")
        sample_rows = (
            emb.where(F.col("vec_id") % stride == 0)
            .orderBy("vec_id")
            .limit(n_samples)
            .select("vec_id", to_double(F.col("embedding")).alias("emb"))
            .collect()
        )
    else:
        sample_rows = [rows[i] for i in sample_ids]
    query_ids = sorted(i for i in range(N_QUERY_VECTORS) if i in rows)
    return sample_rows, [rows[i] for i in query_ids]


def _collect_ivf_inputs(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """IVF centroid sample + query batch (see
    :func:`_collect_quantizer_inputs`)."""
    return _collect_quantizer_inputs(
        spark, sf_dir, IVF_ID_STRIDE, IVF_CENTROIDS
    )


def ivf_assignments(
    emb: DataFrame, centroid_rows: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignment): a deterministic single-pass IVF index.

    Centroids are the ``IVF_CENTROIDS`` vectors with an evenly-strided
    deterministic vec_id sample (stable across partitionings — no
    k-means iteration, no RNG), collected to the driver (16 × 64
    doubles) and shipped inside a pandas_udf closure — exactly how a
    trained quantizer ships to executors at scale. Assignment is then a
    NARROW map: one (batch × dim) @ (dim × 16) GEMM per Arrow batch
    with first-occurrence argmax — zero shuffle over the corpus, so it
    pipelines into the scan.
    """
    if centroid_rows is None:
        # DataFrame-only callers (tests over synthetic frames): take
        # the strided sample with a Spark collect.
        centroid_rows = (
            emb.where(F.col("vec_id") % IVF_ID_STRIDE == 0)
            .orderBy("vec_id")
            .limit(IVF_CENTROIDS)
            .select("vec_id", to_double(F.col("embedding")).alias("emb"))
            .collect()
        )
    centroids = emb.sparkSession.createDataFrame(
        [(r.vec_id, r.emb) for r in centroid_rows],
        "centroid_id long, centroid array<double>",
    )
    assign = centroid_assign_np(
        np.array([r.emb for r in centroid_rows]),
        np.array([r.vec_id for r in centroid_rows]),
    )
    assignment = (
        fan_out(emb)
        .select("vec_id", to_double(F.col("embedding")).alias("emb"))
        .withColumn("a", assign("emb"))
        .select(
            "vec_id",
            "emb",
            F.col("a.row_norm").alias("row_norm"),
            F.col("a.list_id").alias("list_id"),
        )
    )
    return centroids, assignment


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k: coarse-quantize the corpus into
    inverted lists, probe each query's nprobe nearest lists, exact
    cosine rerank inside the probed lists only.

    Execution is ONE fused Arrow stage over the corpus
    (:func:`_corpus_kernel` running :func:`_ivf_kernel`): each batch
    is coarse-quantized (batch × 16 GEMM, first-occurrence argmax) and
    immediately scored against the probes targeting its lists — the
    FAISS scan kernel. Query preprocessing (probe selection) happens
    driver-side: the quantizer and query batch are small by contract,
    so their 10×16 GEMM belongs at the coordinator. Semantically this
    equals the declarative probe ⋈ assignment equi-join on
    ``list_id`` (the oracle's shape), but fuses quantization, probe
    pruning and scoring into a single pass with no broadcast builds
    and no second Python stage.

    Value-exact DuckDB oracle (_ivf_oracle — the deterministic
    quantizer replays in SQL); recall vs exact is pytest-bounded.
    """
    return _ivf_topk_frame(spark, sf_dir, IVF_NPROBE)


def _corpus_kernel(
    spark: SparkSession, sf_dir: str, score, schema: str
) -> DataFrame:
    """One fused Arrow stage over the corpus (``mapInPandas``):
    ``score(M, vec_ids)`` turns each batch, given as its float64
    matrix and ids, into a list of pandas frames of ``schema``. The
    corpus is read and decoded once and never shuffled; only the
    kernel's output reaches the rank window."""

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = score(
                np.stack(pdf["emb"].to_numpy()), pdf["vec_id"].to_numpy()
            )
            if outs:
                yield pd.concat(outs)

    return (
        fan_out(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", to_double(F.col("embedding")).alias("emb"))
        .mapInPandas(score_batches, schema)
    )


def _batch_topk(sims: np.ndarray, qids, vec_ids, sim: str) -> list:
    """Per query (row of ``sims``, |queries| × batch rows) the batch's
    top ``TOPK_K`` other vectors by the global (sim DESC, vec_b) order:
    the map-side combine of top-k, sound because the global top-k is a
    subset of the union of batch top-ks, so the rank window sees
    ≤ |queries|·k rows per batch, never the corpus."""
    outs = []
    for qi, qid in enumerate(qids):
        keep = vec_ids != qid
        ids, s = vec_ids[keep], sims[qi][keep]
        order = np.lexsort((ids, -s))[:TOPK_K]
        outs.append(
            pd.DataFrame(
                {
                    "vec_a": np.full(len(order), qid, dtype="int64"),
                    "vec_b": ids[order],
                    sim: s[order],
                }
            )
        )
    return outs


def _cosine_kernel(query_rows: list, width: int = EMBEDDING_DIM):
    """Exact cosine kernel for :func:`_corpus_kernel` over the first
    ``width`` dims: one GEMM of the batch's prefix view against the
    query batch's, rounded to 6 decimals, cut to the batch-local
    top-k."""
    Q = np.array([r.emb for r in query_rows])[:, :width]
    qids = np.asarray([r.vec_id for r in query_rows], dtype="int64")
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))

    def score(M, vec_ids):
        M = M[:, :width]
        norms = np.sqrt(np.einsum("ij,ij->i", M, M))
        S = np.round((M @ Q.T) / (norms[:, None] * qn[None, :]), 6)
        return _batch_topk(S.T, qids, vec_ids, "cos_sim")

    return score


def _probe_selection(
    centroid_rows: list,
    query_rows: list,
    nprobe: int,
    width: int = EMBEDDING_DIM,
) -> tuple:
    """Driver-side coarse-quantizer probe selection over the first
    ``width`` dims, the ONE home of the rule the IVF oracles replay:
    each query probes the ``nprobe`` lists lowest in (−sim,
    centroid_id), sims rounded to 6 decimals. Returns ``(unit,
    id_arr, by_list, Q, qids, qnorm)``: the unit centroids and their
    ids, ``by_list`` inverting the probes to {list_id: query
    indices}, and the sliced query batch with its ids and norms."""
    C = np.array([r.emb for r in centroid_rows])[:, :width]
    id_arr = np.asarray([r.vec_id for r in centroid_rows])
    unit = C / np.linalg.norm(C, axis=1, keepdims=True)
    Q = np.array([r.emb for r in query_rows])[:, :width]
    qids = np.array([r.vec_id for r in query_rows])
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    sims = np.round((Q @ unit.T) / qnorm[:, None], 6)
    by_list: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        # lexsort: last key primary — sim desc, centroid id asc.
        for j in np.lexsort((id_arr, -sims[qi]))[:nprobe]:
            by_list.setdefault(int(id_arr[j]), []).append(qi)
    return unit, id_arr, by_list, Q, qids, qnorm


def _ivf_kernel(
    centroid_rows: list,
    query_rows: list,
    nprobe: int,
    width: int = EMBEDDING_DIM,
    adc=None,
):
    """The IVF probe-and-score kernel for :func:`_corpus_kernel`, at
    one probe depth over the first ``width`` dims. Each batch row is
    coarse-quantized (unit-centroid sims rounded to 6 decimals,
    first-occurrence argmax, i.e. the (−sim, centroid_id) rule); rows
    of lists no query
    probes are dropped, and every other row is scored against the
    queries probing its list: 6-decimal exact cosine (IVF-Flat,
    ``cos_sim``), or ``adc`` (IVF-PQ, :func:`_pq_adc`, ``adc_sim``)."""
    unit, id_arr, by_list, Q, qids, qnorm = _probe_selection(
        centroid_rows, query_rows, nprobe, width
    )
    sim = "cos_sim" if adc is None else "adc_sim"

    def score(M, vec_ids):
        M = M[:, :width]
        norms = np.sqrt(np.einsum("ij,ij->i", M, M))
        s = np.round((M @ unit.T) / norms[:, None], 6)
        lists = id_arr[s.argmax(axis=1)]
        outs = []
        for lid in np.unique(lists):
            if lid not in by_list:
                continue
            ix, mask = by_list[lid], lists == lid
            if adc is None:
                sims = np.round(
                    (M[mask] @ Q[ix].T)
                    / (norms[mask][:, None] * qnorm[ix][None, :]),
                    6,
                ).T
            else:
                sims = adc(M[mask], ix)
            outs.append(
                pd.DataFrame(
                    {
                        "vec_a": np.repeat(qids[ix], sims.shape[1]),
                        "vec_b": np.tile(vec_ids[mask], len(ix)),
                        sim: sims.ravel(),
                    }
                )
            )
        return outs

    return score


def _ivf_topk_frame(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    inputs: tuple[list, list] | None = None,
) -> DataFrame:
    """The IVF scan at an explicit probe depth — shared by the
    registered top-k query (``IVF_NPROBE``) and the nprobe recall
    curve (which sweeps it, passing the centroid/query collect ONCE
    via ``inputs`` so three depths don't re-run the driver jobs)."""
    centroid_rows, query_rows = (
        inputs if inputs is not None else _collect_ivf_inputs(spark, sf_dir)
    )
    cands = _corpus_kernel(
        spark,
        sf_dir,
        _ivf_kernel(centroid_rows, query_rows, nprobe),
        "vec_a long, vec_b long, cos_sim double",
    )
    return _rank_cut(cands.where(F.col("vec_a") != F.col("vec_b")), "cos_sim")


def _ivf_oracle() -> str:
    """DuckDB oracle for :func:`ann_ivf_topk` — the centroid sample,
    unit normalization, rounded assignment/probe selection and
    in-list scoring are all recomputed in SQL from the same table (the
    strided quantizer is deterministic, so no literals are needed).

    Cross-engine float note: first-stage dot products are unrounded in
    both engines; numpy GEMM and SQL SUM accumulate in different
    orders, but every comparison below happens AFTER a 6-decimal round
    (the same ≤1e-12-drift argument that underwrites the hash-checked
    neardup/cosine queries)."""
    return f"""
{_ORACLE_VECTOR_CTE},
{_ivf_cte()}
SELECT vec_a, vec_b, cos_sim, rank FROM ivf_topk
"""


def _ivf_cte(
    prefix: str = "ivf",
    vname: str = "v",
    nname: str = "norms",
    nprobe: int = IVF_NPROBE,
) -> str:
    """CTE chain (no WITH header) from ``vname``/``nname`` (positional
    components + per-vector norms, default the shared full-width
    v/norms) to ``{prefix}_topk`` at an explicit probe depth — the
    nprobe recall curve instantiates it once per swept depth under
    distinct prefixes; the prefix-IVF audit points it at width-sliced
    component CTEs."""
    p = prefix
    return _ivf_assign_cte(prefix, vname, nname, nprobe) + f""", {p}_cand AS (
  SELECT p.qid AS vec_a, a.vec_id AS vec_b
  FROM {p}_probes p JOIN {p}_assign a ON a.list_id = p.list_id
  WHERE p.qid <> a.vec_id
), {_rescored_topk_sql(p, vname, nname)}"""


def _ivf_assign_cte(
    prefix: str = "ivf",
    vname: str = "v",
    nname: str = "norms",
    nprobe: int = IVF_NPROBE,
) -> str:
    """The quantizer half of :func:`_ivf_cte` — CTE chain (no WITH
    header) to ``{prefix}_assign`` (corpus → nearest list) and
    ``{prefix}_probes`` (query → nprobe lists). Shared by the IVF-Flat
    chain above (which appends its exact in-list rerank) and the
    IVF-PQ oracle (which appends an ADC rerank instead)."""
    p = prefix
    return f"""
{p}_cids AS (
  SELECT vec_id AS cid FROM embeddings
  WHERE vec_id % {IVF_ID_STRIDE} = 0
  ORDER BY vec_id LIMIT {IVF_CENTROIDS}
), {p}_cunit AS (
  SELECT v.vec_id AS cid, v.i, v.x / n.nrm AS u
  FROM {vname} v JOIN {nname} n ON n.vec_id = v.vec_id
  WHERE v.vec_id IN (SELECT cid FROM {p}_cids)
), {p}_sims AS (
  SELECT v.vec_id, c.cid, ROUND(SUM(v.x * c.u) / n.nrm, 6) AS s
  FROM {vname} v JOIN {p}_cunit c ON c.i = v.i
  JOIN {nname} n ON n.vec_id = v.vec_id
  GROUP BY v.vec_id, c.cid, n.nrm
), {p}_assign AS (
  SELECT vec_id, cid AS list_id FROM {p}_sims
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1
), {p}_probes AS (
  SELECT vec_id AS qid, cid AS list_id FROM {p}_sims
  WHERE vec_id < {N_QUERY_VECTORS}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid)
          <= {nprobe}
)"""


def _lsh_oracle() -> str:
    """DuckDB oracle for :func:`ann_lsh_topk` — the deterministic
    plane tensor is emitted as 16 literal 64-double lists (repr()
    round-trips float64 exactly), then bucketing, the multi-table
    candidate union and the rerank replay in SQL.

    The sign test ``dot > 0`` is the one unrounded comparison; a
    boundary flip needs |dot| inside the engines' ~1e-12 accumulation
    drift, vanishingly unlikely for gaussian planes (and caught by the
    driver if it ever happens)."""
    return f"""
{_ORACLE_VECTOR_CTE},
{_lsh_cte()}
SELECT vec_a, vec_b, cos_sim, rank FROM lsh_topk
"""


def _lsh_cte() -> str:
    """CTE chain (no WITH header) from v/norms to ``lsh_topk``."""
    planes = _lsh_planes()
    rows = ", ".join(
        f"({t}, {p}, [{', '.join(repr(float(x)) for x in planes[t, p])}])"
        for t in range(LSH_TABLES)
        for p in range(LSH_PLANES_PER_TABLE)
    )
    return f"""
lsh_planes(tbl, pl, w) AS (VALUES {rows}),
lsh_pw AS (
  SELECT tbl, pl, generate_subscripts(w, 1) AS i,
         CAST(unnest(w) AS DOUBLE) AS pw
  FROM lsh_planes
), lsh_bits AS (
  SELECT v.vec_id, p.tbl, p.pl, SUM(v.x * p.pw) > 0 AS bit
  FROM v JOIN lsh_pw p ON p.i = v.i
  GROUP BY v.vec_id, p.tbl, p.pl
), lsh_buckets AS (
  SELECT vec_id, tbl,
         CAST(SUM(CASE WHEN bit THEN 1 << pl ELSE 0 END) AS BIGINT) AS bkt
  FROM lsh_bits GROUP BY vec_id, tbl
), lsh_cand AS (
  SELECT DISTINCT q.vec_id AS vec_a, c.vec_id AS vec_b
  FROM lsh_buckets q JOIN lsh_buckets c
    ON q.tbl = c.tbl AND q.bkt = c.bkt
  WHERE q.vec_id < {N_QUERY_VECTORS} AND q.vec_id <> c.vec_id
), {_rescored_topk_sql("lsh")}"""


#: Symmetric int8 quantization levels (SQ8 absmax convention).
SQ_LEVELS = 127

#: Fixed-point grids for exact cross-engine error aggregation.
_SQ_E2_SCALE = 1_000_000_000_000.0  # squared-error grid (1e-12)
_SQ_AB_SCALE = 1_000_000_000.0  # abs-error grid (1e-9)


def _absmax_literal(emb: DataFrame) -> F.Column:
    """Per-dimension absmax scales as a literal array column: one
    posexplode pass to the EMBEDDING_DIM-row stats table (map-side
    combined), collected and re-embedded — the trained-quantizer
    artifact the SQ8 paths ship to executors (same legitimate tiny
    collect as the IVF centroids). Shared by the quantization-error
    report and the SQ8 index/recall queries so the scales cannot
    drift between the audit and the audited index."""
    dims = (
        emb.select(
            F.posexplode(to_double(F.col("embedding"))).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.max(F.abs(F.col("x"))).alias("a"))
        .orderBy("i")
        .collect()
    )
    return F.array(*[F.lit(float(r.a)) for r in dims])


def _sq8_dequant(vec: F.Column, absmax: F.Column) -> F.Column:
    """Quantize-then-reconstruct ``vec`` on the per-dimension absmax
    int8 grid (``x̂_i = round(x_i·127/a_i)·a_i/127``) — the exact
    vector an SQ8 index scores with. All-zero dimensions reconstruct
    to 0. Same expression ORDER as the SQL oracle replays, per the
    determinism contract."""
    return F.zip_with(
        vec,
        absmax,
        lambda x, a: F.when(a == 0.0, F.lit(0.0)).otherwise(
            F.round(x * F.lit(float(SQ_LEVELS)) / a) * a
            / F.lit(float(SQ_LEVELS))
        ),
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label scalar-quantization (SQ8) error report: quantize every
    embedding to int8 with per-dimension symmetric absmax scales
    (``q_i = round(x_i·127 / a_i)``, ``x̂_i = q_i·a_i / 127``) and
    report the reconstruction error — the audit that decides whether a
    4×-smaller SQ8 index is acceptable before switching the ANN fleet
    to it.

    Plan: one posexplode pass to the 64-row per-dimension absmax table
    (map-side combined), collected to the driver and re-embedded as a
    LITERAL array (same legitimate tiny-collect as the IVF centroids);
    quantization + error then run as a NARROW higher-order map over
    each row — the corpus is never shuffled except the final |label|-
    row rollup. Error sums ride exact fixed-point grids (1e-12 for
    squared error, 1e-9 for abs error), so the rollup is integer
    arithmetic in both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    absmax = _absmax_literal(emb)
    vec = to_double(F.col("embedding"))
    # err_i on the fixed-point grids; absmax==0 dims quantize to 0
    # with zero error.
    err = F.zip_with(
        vec,
        absmax,
        lambda x, a: F.when(a == 0.0, F.lit(0.0)).otherwise(
            F.round(x * F.lit(float(SQ_LEVELS)) / a) * a
            / F.lit(float(SQ_LEVELS))
            - x
        ),
    )
    per_row = emb.select(
        "label",
        F.size("embedding").alias("n_elements"),
        F.aggregate(
            F.transform(
                err, lambda e: F.round(e * e * F.lit(_SQ_E2_SCALE)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("e2_sum"),
        F.array_max(
            F.transform(
                err, lambda e: F.round(F.abs(e) * F.lit(_SQ_AB_SCALE)).cast("long")
            )
        ).alias("ab_max"),
    )
    return per_row.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("n_elements").alias("n_elements"),
        F.round(
            F.sum("e2_sum") / (F.sum("n_elements") * F.lit(_SQ_E2_SCALE)), 6
        ).alias("mse"),
        F.round(F.max("ab_max") / F.lit(_SQ_AB_SCALE), 6).alias("max_abs_err"),
    )


EMBEDDING_QUANTIZE_ORACLE = f"""
WITH pos AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), stats AS (
  SELECT i, MAX(ABS(x)) AS a FROM pos GROUP BY i
), err AS (
  SELECT p.vec_id, p.label,
         CASE WHEN s.a = 0 THEN 0.0
              ELSE ROUND(p.x * {SQ_LEVELS}.0 / s.a) * s.a / {SQ_LEVELS}.0 - p.x
         END AS e
  FROM pos p JOIN stats s USING (i)
), grid AS (
  SELECT vec_id, label,
         CAST(ROUND(e * e * {_SQ_E2_SCALE}) AS BIGINT) AS e2,
         CAST(ROUND(ABS(e) * {_SQ_AB_SCALE}) AS BIGINT) AS ab
  FROM err
)
SELECT label,
       COUNT(DISTINCT vec_id) AS n_vectors,
       COUNT(*) AS n_elements,
       ROUND(SUM(e2) / (COUNT(*) * {_SQ_E2_SCALE}), 6) AS mse,
       ROUND(MAX(ab) / {_SQ_AB_SCALE}, 6) AS max_abs_err
FROM grid
GROUP BY label
"""


def knn_label_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-prediction probe: predict each query vector's label
    by majority vote of its exact top-k cosine neighbors — the
    embedding-quality check ("do neighborhoods agree with labels")
    run before trusting an embedding space for clustering-based
    curation, and the exact baseline an approximate-kNN classifier is
    audited against.

    Deterministic end to end: neighbor ranking reuses
    :func:`ann_cosine_topk`'s rounded-cosine + vec_id tiebreak, and
    the vote picks the smallest label on count ties. Shuffle ledger:
    the heavy work IS the audited top-k scan; after it, the
    k·|queries|-row neighbor table broadcasts into one corpus-scan
    label join, then two bounded rollups. Per-query output.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    topk = ann_cosine_topk(spark, sf_dir)
    neigh = F.broadcast(topk.select("vec_a", "vec_b")).join(
        emb.select(
            F.col("vec_id").alias("vec_b"), F.col("label").alias("nb_label")
        ),
        "vec_b",
    )
    votes = neigh.groupBy("vec_a", "nb_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("vec_a").orderBy(
        F.desc("votes"), F.col("nb_label")
    )
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_a", F.col("nb_label").alias("pred_label"), "votes")
    )
    truth = emb.where(F.col("vec_id") < N_QUERY_VECTORS).select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("true_label")
    )
    return pred.join(F.broadcast(truth), "vec_a").select(
        "vec_a",
        "true_label",
        "pred_label",
        "votes",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


KNN_LABEL_PROBE_ORACLE = f"""
{_ORACLE_VECTOR_CTE},
{_exact_topk_cte()},
votes AS (
  SELECT t.vec_a, e.label AS nb_label, COUNT(*) AS votes
  FROM ex_topk t JOIN embeddings e ON e.vec_id = t.vec_b
  GROUP BY 1, 2
), pred AS (
  SELECT vec_a, nb_label AS pred_label, CAST(votes AS BIGINT) AS votes
  FROM (
    SELECT vec_a, nb_label, votes,
           ROW_NUMBER() OVER (PARTITION BY vec_a
                              ORDER BY votes DESC, nb_label) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT p.vec_a, q.label AS true_label, p.pred_label, p.votes,
       p.pred_label = q.label AS correct
FROM pred p JOIN embeddings q ON q.vec_id = p.vec_a
"""


def ann_ivf_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit: vectors per inverted list, each list's
    corpus share, and its load factor vs the perfectly-balanced ideal
    (``n / num_lists``) — the metric that predicts probe latency (a
    hot list makes every query probing it scan a corpus-sized
    bucket; the fix is re-training or splitting the hot centroid).
    Audits the SAME assignment the registered IVF top-k serves from.

    Cost: the assignment's narrow GEMM pass, one |lists|-row rollup,
    a 1-row total broadcast. Empty lists (never assigned) don't
    appear — their absence from the |lists|-row output IS the signal.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    centroid_rows, _ = _collect_ivf_inputs(spark, sf_dir)
    _, assignment = ivf_assignments(emb, centroid_rows)
    sizes = assignment.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    total = assignment.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("list_id").alias("n_lists"),
    )
    return sizes.join(F.broadcast(total)).select(
        "list_id",
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double") / F.col("n_total").cast("double"),
            6,
        ).alias("corpus_share"),
        F.round(
            F.col("n_vectors").cast("double")
            / (
                F.col("n_total").cast("double")
                / F.col("n_lists").cast("double")
            ),
            6,
        ).alias("load_factor"),
    )


def _ivf_balance_oracle() -> str:
    return f"""
{_ORACLE_VECTOR_CTE},
{_ivf_cte()},
sizes AS (
  SELECT list_id, COUNT(*) AS n_vectors FROM ivf_assign GROUP BY list_id
), total AS (
  SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total,
         COUNT(*) AS n_lists
  FROM sizes
)
SELECT s.list_id, s.n_vectors,
       ROUND(CAST(s.n_vectors AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6)
         AS corpus_share,
       ROUND(CAST(s.n_vectors AS DOUBLE)
             / (CAST(t.n_total AS DOUBLE) / CAST(t.n_lists AS DOUBLE)), 6)
         AS load_factor
FROM sizes s CROSS JOIN total t
"""


#: Cosine bar for semantic corroboration of a lexical near-dup pair.
SEMANTIC_CONFIRM_THRESHOLD = 0.5


def dedup_lexical_semantic_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-signal dedup audit: every MinHash-verified lexical near-dup
    pair scored with the cosine of the documents' embeddings — the
    cheap-candidates/semantic-verify composition production dedup
    uses ("lexical twins that embeddings disagree on are templating,
    not duplication"). A pair is ``semantically_confirmed`` when its
    rounded cosine clears ``SEMANTIC_CONFIRM_THRESHOLD``.

    Cost on top of the audited LSH pass: the LSH-bounded pair table
    BROADCASTS into two embedding lookups and one HOF cosine per pair
    — the corpus's vectors never shuffle and never pair beyond the
    lexical candidates. Cites dedup_minhash_lsh for the candidate
    semantics; the DuckDB oracle replays both chains end to end.
    """
    from duckdb_gsheets_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cos = _cos6("a", "b")
    return (
        F.broadcast(pairs)
        .join(_vectors(emb, "doc_a", "a"), "doc_a")
        .join(_vectors(emb, "doc_b", "b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            cos.alias("cos_sim"),
            (cos >= F.lit(SEMANTIC_CONFIRM_THRESHOLD)).alias(
                "semantically_confirmed"
            ),
        )
    )


def _lexical_semantic_oracle() -> str:
    from duckdb_gsheets_spark.operators.dedup import (
        MINHASH_JACCARD_THRESHOLD,
        _minhash_core_sql,
    )

    return f"""
WITH {_minhash_core_sql()},
lex AS (
  SELECT doc_a, doc_b, jaccard FROM mh_pairs
  WHERE jaccard >= {MINHASH_JACCARD_THRESHOLD}
), v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), norms AS (
  SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM v GROUP BY vec_id
), dots AS (
  SELECT l.doc_a, l.doc_b, l.jaccard, SUM(a.x * b.x) AS dp
  FROM lex l
  JOIN v a ON a.vec_id = l.doc_a
  JOIN v b ON b.vec_id = l.doc_b AND b.i = a.i
  GROUP BY 1, 2, 3
)
SELECT d.doc_a, d.doc_b, d.jaccard,
       ROUND(d.dp / (na.nrm * nb.nrm), 6) AS cos_sim,
       ROUND(d.dp / (na.nrm * nb.nrm), 6)
         >= {SEMANTIC_CONFIRM_THRESHOLD} AS semantically_confirmed
FROM dots d
JOIN norms na ON na.vec_id = d.doc_a
JOIN norms nb ON nb.vec_id = d.doc_b
"""


#: Product quantization: PQ_M subspaces of EMBEDDING_DIM/PQ_M dims,
#: PQ_CODES codewords per subspace from a deterministic strided corpus
#: sample (stride coprime to the IVF stride, so beyond the shared
#: vector 0 the two quantizers draw disjoint samples below 29·31).
#: Stored a byte per 4-bit code, a 64-dim float32 vector (256 bytes)
#: becomes 8 bytes: 32× compression.
PQ_M = 8
PQ_CODES = 16
PQ_ID_STRIDE = 29


def _collect_pq_inputs(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """PQ codebook sample + query batch (see
    :func:`_collect_quantizer_inputs`)."""
    return _collect_quantizer_inputs(spark, sf_dir, PQ_ID_STRIDE, PQ_CODES)


def _pq_adc(code_rows: list, query_rows: list):
    """The PQ kernel of the plain ADC scan and the IVF-PQ scan. Builds
    the codebook's subspace split and the query-side lookup tables
    once (``lut[s, q, j]`` = dot of query q's and codeword j's
    subspace s), and returns ``adc(M, ix)``: the 6-decimal ADC cosine of
    the queries ``ix`` (default all) against each row of ``M``,
    |ix| × rows. Encoding picks per subspace the codeword maximizing
    round6(x·c − ‖c‖²/2), ties to the smallest index (argmax is
    first-occurrence); ADC sums the codes' table entries over the
    query norm and the reconstructed vector's norm."""
    Cb = np.array([r.emb for r in code_rows])
    sub = EMBEDDING_DIM // PQ_M
    Csub = np.stack([Cb[:, s * sub : (s + 1) * sub] for s in range(PQ_M)])
    cc = np.einsum("sjd,sjd->sj", Csub, Csub)
    Q = np.array([r.emb for r in query_rows])
    qnorm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    Qsub = np.stack([Q[:, s * sub : (s + 1) * sub] for s in range(PQ_M)])
    lut = np.einsum("sqd,sjd->sqj", Qsub, Csub)

    def adc(M, ix=slice(None)):
        codes = np.empty((len(M), PQ_M), dtype=np.int64)
        for s in range(PQ_M):
            codes[:, s] = np.round(
                M[:, s * sub : (s + 1) * sub] @ Csub[s].T - 0.5 * cc[s], 6
            ).argmax(axis=1)
        dots = np.zeros((len(qnorm[ix]), len(M)))
        rec2 = np.zeros(len(M))
        for s in range(PQ_M):
            dots += lut[s][ix][:, codes[:, s]]
            rec2 += cc[s][codes[:, s]]
        return np.round(
            dots / (qnorm[ix][:, None] * np.sqrt(rec2)[None, :]), 6
        )

    return adc


def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    The third ANN family next to LSH (pruning by bucket) and IVF
    (pruning by list): PQ prunes nothing — it COMPRESSES. Each corpus
    vector is encoded as ``PQ_M`` 4-bit codes (argmin-distance
    codeword per subspace), and queries score candidates through
    per-subspace lookup tables (asymmetric distance computation)
    without ever touching the original floats, so a scan reads 32×
    fewer bytes than the float32 vectors.

    One fused Arrow stage over the corpus (:func:`_corpus_kernel`):
    encode the batch (PQ_M small GEMMs), ADC-score it against the
    whole query batch via LUT gather (:func:`_pq_adc`), and emit only
    the PER-BATCH top-k per query (:func:`_batch_topk`). Zero corpus
    shuffle, zero broadcast build.

    Every comparison happens after a 6-decimal round (assignment
    scores and ADC cosine), which erases the ≤1e-12 summation-order
    drift between numpy GEMMs and the oracle's SQL SUMs — the same
    determinism contract the LSH/IVF paths are hash-checked under.
    """
    code_rows, query_rows = _collect_pq_inputs(spark, sf_dir)
    adc = _pq_adc(code_rows, query_rows)
    qids = np.array([r.vec_id for r in query_rows])
    cands = _corpus_kernel(
        spark,
        sf_dir,
        lambda M, vec_ids: _batch_topk(adc(M), qids, vec_ids, "adc_sim"),
        "vec_a long, vec_b long, adc_sim double",
    )
    return _rank_cut(cands, "adc_sim")


def _pq_oracle() -> str:
    """DuckDB oracle for :func:`ann_pq_adc_topk` — codebook sample,
    per-subspace assignment, LUT scoring and the cosine normalization
    all recomputed in SQL from the same table (the strided codebook is
    deterministic, so no literals are needed)."""
    return f"""
{_ORACLE_VECTOR_CTE},
{_pq_cte()}
SELECT vec_a, vec_b, adc_sim, rank FROM pq_topk
"""


def _adc_topk_sql(prefix: str) -> str:
    """CTE chain (no WITH header) from ``{prefix}_adc`` (summed LUT
    terms ``adc_dot`` and reconstructed squared norm ``rec2`` per
    pair) to ``{prefix}_topk`` on the 6-decimal ADC cosine."""
    p = prefix
    return f"""{p}_scored AS (
  SELECT a.vec_a, a.vec_b,
         ROUND(a.adc_dot / (n.nrm * SQRT(a.rec2)), 6) AS adc_sim
  FROM {p}_adc a JOIN norms n ON n.vec_id = a.vec_a
), {_topk_sql(f"{p}_topk", f"{p}_scored", "adc_sim")}"""


def _pq_cte() -> str:
    """CTE chain (no WITH header) from v/norms to ``pq_topk``.
    Subspace of component ``i`` (1-based) is ``(i-1) // sub``."""
    return _pq_codes_cte() + f""", pq_adc AS (
  SELECT q.vec_id AS vec_a, b.vec_id AS vec_b,
         SUM(q.xc) AS adc_dot, SUM(b.cc) AS rec2
  FROM pq_codes b
  JOIN pq_xc q ON q.s = b.s AND q.j = b.code
  WHERE q.vec_id < {N_QUERY_VECTORS} AND q.vec_id <> b.vec_id
  GROUP BY 1, 2
), {_adc_topk_sql("pq")}"""


def _pq_codes_cte() -> str:
    """The codebook half of :func:`_pq_cte` — CTE chain (no WITH
    header) to ``pq_codes`` (per-vector per-subspace codeword) and
    ``pq_xc`` (query-side LUT terms). Shared by the full-corpus ADC
    chain above and the IVF-PQ oracle (which restricts the ADC join
    to probed lists)."""
    sub = EMBEDDING_DIM // PQ_M
    return f"""
pq_cids AS (
  SELECT vec_id AS cid FROM embeddings
  WHERE vec_id % {PQ_ID_STRIDE} = 0
  ORDER BY vec_id LIMIT {PQ_CODES}
), pq_j AS (
  SELECT cid, CAST(ROW_NUMBER() OVER (ORDER BY cid) - 1 AS BIGINT) AS j
  FROM pq_cids
), pq_csub AS (
  SELECT pj.j, (v.i - 1) // {sub} AS s, v.i, v.x
  FROM v JOIN pq_j pj ON v.vec_id = pj.cid
), pq_cc AS (
  SELECT j, s, SUM(x * x) AS cc FROM pq_csub GROUP BY j, s
), pq_xc AS (
  SELECT v.vec_id, cs.j, cs.s, SUM(v.x * cs.x) AS xc
  FROM v JOIN pq_csub cs ON cs.i = v.i
  GROUP BY v.vec_id, cs.j, cs.s
), pq_codes AS (
  SELECT vec_id, s, j AS code, cc
  FROM (
    SELECT x.vec_id, x.s, x.j, c.cc,
           ROUND(x.xc - 0.5 * c.cc, 6) AS ascore
    FROM pq_xc x JOIN pq_cc c ON c.j = x.j AND c.s = x.s
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s
                             ORDER BY ascore DESC, j) = 1
)"""


#: The approximate methods the recall and nDCG reports grade.
ANN_METHODS = ("lsh", "ivf", "pq")


def _method_topks(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """``(method, vec_a, vec_b, *cols)``: the registered LSH, IVF and
    PQ top-k queries, as users run them, in one frame."""
    topk = {"lsh": ann_lsh_topk, "ivf": ann_ivf_topk, "pq": ann_pq_adc_topk}
    return reduce(
        DataFrame.unionByName,
        [
            topk[m](spark, sf_dir).select(
                F.lit(m).alias("method"), "vec_a", "vec_b", *cols
            )
            for m in ANN_METHODS
        ],
    )


def _per_query(
    spark: SparkSession,
    exact: DataFrame,
    per_arm: DataFrame,
    key: str,
    values: tuple,
    col: str,
) -> DataFrame:
    """``(key, vec_a, col)`` for every query of ``exact`` crossed with
    every value in ``values``: ``per_arm``'s ``col`` where it has a
    row, else 0, so a query an arm misses entirely still counts.

    Both sides are bounded (|values| rows; k·|queries| at most), so
    both broadcast: a cartesian of two |cores|-partition sides
    otherwise schedules |cores|² near-empty tasks (about 15 s at
    local[32])."""
    kind = "string" if isinstance(values[0], str) else "int"
    arms = spark.createDataFrame([(v,) for v in values], f"{key} {kind}")
    return (
        exact.select("vec_a")
        .distinct()
        .crossJoin(F.broadcast(arms))
        .join(F.broadcast(per_arm), [key, "vec_a"], "left")
        .select(key, "vec_a", F.coalesce(F.col(col), F.lit(0)).alias(col))
    )


def _recall_rollup(
    spark: SparkSession,
    exact: DataFrame,
    approx: DataFrame,
    key: str,
    values: tuple,
) -> DataFrame:
    """Recall@k of each arm of ``approx`` ``(key, vec_a, vec_b)``
    against the exact top-k ``exact`` ``(vec_a, vec_b)``:
    ``(key, n_queries, mean_recall, min_recall, n_perfect)``, one row
    per value in ``values``. ``exact`` is k·|queries| rows and
    broadcasts into the overlap join; passed as the checkpointed
    baseline (:func:`_exact_baseline_ckpt`), its two reads here hit
    the same block-manager blocks instead of re-running the scoring
    subtree. The twin of :func:`_recall_rollup_sql`."""
    matched = (
        F.broadcast(exact)
        .join(approx, ["vec_a", "vec_b"])
        .groupBy(key, "vec_a")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    per_query = _per_query(spark, exact, matched, key, values, "n_matched")
    k = float(TOPK_K)
    return per_query.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.sum("n_matched") / (F.count(F.lit(1)) * F.lit(k)), 6).alias(
            "mean_recall"
        ),
        F.round(F.min("n_matched") / F.lit(k), 6).alias("min_recall"),
        F.sum((F.col("n_matched") == TOPK_K).cast("int")).alias("n_perfect"),
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the approximate ANN paths against the exact
    brute-force baseline — the acceptance gate run before routing
    production similarity traffic through an index.

    For each method (LSH, IVF, PQ) and each query vector: |approx
    top-k ∩ exact top-k| / k, rolled up to mean/min recall and the
    count of perfect queries (:func:`_recall_rollup`). All rankings
    reuse the registered operators, so this audits exactly what users
    run; the overlap join keys on (query, neighbor) pairs —
    k·|queries| rows per side, a trivially small join at any corpus
    size (the heavy work is inside the audited queries themselves).

    Oracle-checked end to end: the exact, LSH, IVF and PQ chains
    replay in one generated DuckDB statement (_recall_oracle); recall
    floors are pytest-pinned.
    """
    exact = ann_cosine_topk(spark, sf_dir).select("vec_a", "vec_b")
    return _recall_rollup(
        spark, exact, _method_topks(spark, sf_dir), "method", ANN_METHODS
    )


def _methods_cte() -> str:
    """CTE chain (after the WITH of _ORACLE_VECTOR_CTE) of the exact
    baseline and the LSH, IVF and PQ top-k oracles, to ``ex_topk`` and
    ``<method>_topk``."""
    return f"""{_exact_topk_cte()},
{_lsh_cte()},
{_ivf_cte()},
{_pq_cte()}"""


def _recall_oracle() -> str:
    """DuckDB oracle for :func:`ann_recall_report`: the exact top-k,
    LSH, IVF and PQ top-k chains replay in one statement (sharing the
    v/norms CTEs), then the same overlap/rollup as the Spark query.
    Every branch is the already-verified per-method oracle, so this
    audits the audit."""
    return f"""
{_ORACLE_VECTOR_CTE},
{_methods_cte()},
{_recall_rollup_sql("method", {m: f"{m}_topk" for m in ANN_METHODS})}"""


def embedding_doc_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity report between the documents table and
    its embedding sidecar (``doc_id`` ↔ ``vec_id``): per language, how
    many docs exist, how many carry an embedding, and the orphan
    embeddings with no backing document — the join-coverage audit any
    multimodal/embedding pipeline runs before training (an unembedded
    doc silently drops from retrieval; an orphan vector poisons ANN
    results with unfetchable ids).

    Full-outer join on the id (both sides hash-partition on the key —
    co-located, one shuffle each), then a |langs|+1-row rollup.
    Status semantics: rows group by the document's language; orphan
    embeddings have none and report under the ``__orphan__`` label.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.lit(1).alias("is_doc")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), F.lit(1).alias("has_vec")
    )
    joined = docs.join(emb, "doc_id", "full_outer")
    is_doc = F.col("is_doc").isNotNull()
    has_vec = F.col("has_vec").isNotNull()
    return (
        joined.groupBy(
            F.when(is_doc, F.coalesce("lang", F.lit("__none__")))
            .otherwise(F.lit("__orphan__"))
            .alias("lang")
        )
        .agg(
            F.sum(is_doc.cast("long")).alias("n_docs"),
            F.sum((is_doc & has_vec).cast("long")).alias("n_with_embedding"),
            F.sum((~is_doc & has_vec).cast("long")).alias(
                "n_orphan_embeddings"
            ),
        )
        .select(
            "lang",
            "n_docs",
            "n_with_embedding",
            F.round(
                F.when(
                    F.col("n_docs") > 0,
                    F.col("n_with_embedding").cast("double")
                    / F.col("n_docs").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("coverage"),
            "n_orphan_embeddings",
        )
    )


EMBEDDING_COVERAGE_ORACLE = """
WITH joined AS (
  SELECT d.lang, d.doc_id AS did, e.vec_id AS vid
  FROM documents d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id
)
SELECT CASE WHEN did IS NOT NULL THEN COALESCE(lang, '__none__')
            ELSE '__orphan__' END AS lang,
       CAST(SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs,
       CAST(SUM(CASE WHEN did IS NOT NULL AND vid IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_embedding,
       ROUND(CASE WHEN SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END) > 0
                  THEN CAST(SUM(CASE WHEN did IS NOT NULL AND vid IS NOT NULL
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END)
                              AS DOUBLE)
                  ELSE 0.0 END, 6) AS coverage,
       CAST(SUM(CASE WHEN did IS NOT NULL THEN 0
                     WHEN vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphan_embeddings
FROM joined
GROUP BY 1
"""


#: Probe depths swept by the nprobe recall curve (the registered IVF
#: query runs at IVF_NPROBE = 4, the curve's deepest point).
NPROBE_SWEEP = (1, 2, 4)


def ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF TUNING CURVE: recall@k against the exact baseline at
    each probe depth in ``NPROBE_SWEEP`` — the accuracy-vs-cost
    trade-off table an index operator reads before fixing nprobe
    (each probe reads ~nprobe/nlists of the corpus, so this is
    literally recall per unit of scan cost).

    Each depth reuses the registered IVF scan at an explicit nprobe;
    the overlap join keys on (query, neighbor) pairs — k·|queries|
    rows per swept depth. The deepest point equals the recall
    report's IVF row by construction (pytest-pinned).
    """
    exact = ann_cosine_topk(spark, sf_dir).select("vec_a", "vec_b")
    inputs = _collect_ivf_inputs(spark, sf_dir)
    approx = reduce(
        DataFrame.unionByName,
        [
            _ivf_topk_frame(spark, sf_dir, n, inputs=inputs).select(
                F.lit(n).alias("nprobe"), "vec_a", "vec_b"
            )
            for n in NPROBE_SWEEP
        ],
    )
    return _recall_rollup(spark, exact, approx, "nprobe", NPROBE_SWEEP)


def _nprobe_curve_oracle() -> str:
    """One generated statement: the exact baseline + one IVF chain per
    swept depth (distinct CTE prefixes) + the same overlap/rollup as
    the Spark query."""
    chains = ",\n".join(_ivf_cte(f"np{n}", nprobe=n) for n in NPROBE_SWEEP)
    return f"""
{_ORACLE_VECTOR_CTE},
{_exact_topk_cte()},
{chains},
{_recall_rollup_sql("nprobe", {n: f"np{n}_topk" for n in NPROBE_SWEEP})}"""


def embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy audit (Ethayarajh 2019 anisotropy
    diagnostic): the mean pairwise dot product across ALL vector
    pairs, computed WITHOUT pairs via the algebraic identity
    ``Σ_{i≠j} v_i·v_j = ‖Σ_i v_i‖² − Σ_i ‖v_i‖²`` — one narrow pass
    over n·d components instead of an O(n²) join. A mean pairwise
    similarity far above zero means the space has collapsed toward a
    dominant direction (anisotropy), which silently inflates every
    cosine-based dedup/retrieval threshold calibrated on it.

    Exactness: components scale to 1e6-grid longs (exact — float32
    casts to double exactly), so the per-dimension sums and
    per-vector norms are exact integers; their squares accumulate in
    DECIMAL(38,0)/HUGEINT (a trillion-vector corpus overflows int64
    here), and the only doubles are the final divisions, performed in
    the same order in both engines. ``isotropy_ratio`` is the mean
    pairwise dot over the mean squared norm — equal to mean cosine
    when vectors share a norm, and exactly defined regardless.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.posexplode(to_double(F.col("embedding"))).alias("d", "x"),
    ).select(
        "vec_id",
        "d",
        F.round(F.col("x") * F.lit(1e6)).cast("long").alias("s"),
    )
    per_dim = comps.groupBy("d").agg(F.sum("s").alias("sd"))
    per_vec = comps.groupBy("vec_id").agg(
        F.sum(F.col("s") * F.col("s")).alias("nrm2")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot_dim = per_dim.agg(
        F.sum(dec("sd") * dec("sd")).alias("sum_sd2")
    )
    tot_vec = per_vec.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(dec("nrm2")).alias("sum_nrm2"),
    )
    pair_dot = (
        (F.col("sum_sd2") - F.col("sum_nrm2")).cast("double") / F.lit(1e12)
    ) / (F.col("n_vectors") * (F.col("n_vectors") - F.lit(1))).cast("double")
    mean_sq_norm = (
        F.col("sum_nrm2").cast("double") / F.lit(1e12)
    ) / F.col("n_vectors").cast("double")
    return tot_vec.crossJoin(F.broadcast(tot_dim)).select(
        "n_vectors",
        F.round(mean_sq_norm, 6).alias("mean_sq_norm"),
        F.round(pair_dot, 6).alias("mean_pairwise_dot"),
        F.round(pair_dot / mean_sq_norm, 6).alias("isotropy_ratio"),
    )


EMBEDDING_ISOTROPY_ORACLE = """
WITH iso_comps AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS s
  FROM embeddings
), iso_dim AS (
  SELECT d, CAST(SUM(s) AS BIGINT) AS sd FROM iso_comps GROUP BY d
), iso_vec AS (
  SELECT vec_id, CAST(SUM(s * s) AS BIGINT) AS nrm2
  FROM iso_comps GROUP BY vec_id
), iso_tot AS (
  SELECT (SELECT SUM(CAST(sd AS HUGEINT) * sd) FROM iso_dim) AS sum_sd2,
         (SELECT COUNT(*) FROM iso_vec) AS n_vectors,
         (SELECT SUM(CAST(nrm2 AS HUGEINT)) FROM iso_vec) AS sum_nrm2
)
SELECT n_vectors,
       ROUND((CAST(sum_nrm2 AS DOUBLE) / 1e12)
             / CAST(n_vectors AS DOUBLE), 6) AS mean_sq_norm,
       ROUND((CAST(sum_sd2 - sum_nrm2 AS DOUBLE) / 1e12)
             / CAST(n_vectors * (n_vectors - 1) AS DOUBLE), 6)
         AS mean_pairwise_dot,
       ROUND(((CAST(sum_sd2 - sum_nrm2 AS DOUBLE) / 1e12)
              / CAST(n_vectors * (n_vectors - 1) AS DOUBLE))
             / ((CAST(sum_nrm2 AS DOUBLE) / 1e12)
                / CAST(n_vectors AS DOUBLE)), 6) AS isotropy_ratio
FROM iso_tot
"""


#: Position discounts for nDCG@k, scaled to exact integers
#: (``round(1e9 / log2(i+1))``) so neither engine ever parses a float
#: literal — a 17-digit double literal round-trips differently through
#: DuckDB's DECIMAL parser than through Python (determinism.py note).
NDCG_DISCOUNTS: tuple[int, ...] = tuple(
    round(1e9 / math.log2(i + 1)) for i in range(1, TOPK_K + 1)
)
NDCG_IDCG = sum(NDCG_DISCOUNTS)


def ann_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@k audit of the ANN paths — recall@k's rank-aware sibling:
    recall says WHETHER the true neighbors were found, nDCG says
    whether they surfaced at the TOP, which is what a retrieval
    consumer actually sees. Binary relevance (membership in the exact
    top-k), position discounts as exact scaled integers, so per-query
    DCG is integer arithmetic and the single division per output row
    happens at the end.

    Same shape as ann_recall_report: the heavy work is inside the
    audited method queries; the audit itself joins k·|queries|-row
    rankings and rolls up per method.
    """
    exact = ann_cosine_topk(spark, sf_dir).select("vec_a", "vec_b")
    discount = F.element_at(
        F.array(*[F.lit(d) for d in NDCG_DISCOUNTS]), F.col("rank")
    )
    dcg = (
        _method_topks(spark, sf_dir, "rank")
        .join(exact, ["vec_a", "vec_b"])
        .groupBy("method", "vec_a")
        .agg(F.sum(discount.cast("long")).alias("dcg_s"))
    )
    per_query = _per_query(spark, exact, dcg, "method", ANN_METHODS, "dcg_s")
    return per_query.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(
            F.sum("dcg_s").cast("double")
            / (F.count(F.lit(1)) * F.lit(NDCG_IDCG)).cast("double"),
            6,
        ).alias("mean_ndcg"),
        F.round(
            F.min("dcg_s").cast("double") / F.lit(NDCG_IDCG).cast("double"),
            6,
        ).alias("min_ndcg"),
    )


def _ndcg_oracle() -> str:
    """DuckDB oracle for :func:`ann_ndcg_report`: the same method
    chains as the recall oracle, with the integer discount lookup."""
    disc_list = ", ".join(str(d) for d in NDCG_DISCOUNTS)
    arms = {m: f"{m}_topk" for m in ANN_METHODS}
    return f"""
{_ORACLE_VECTOR_CTE},
{_methods_cte()},
nd_approx AS (
  {_union_sql("method", arms, "vec_a, vec_b, rank")}
), nd_dcg AS (
  SELECT a.method, a.vec_a,
         CAST(SUM([{disc_list}][a.rank]) AS BIGINT) AS dcg_s
  FROM nd_approx a JOIN ex_topk e
    ON e.vec_a = a.vec_a AND e.vec_b = a.vec_b
  GROUP BY a.method, a.vec_a
), nd_per_query AS (
  SELECT m.method, s.vec_a, COALESCE(x.dcg_s, 0) AS dcg_s
  FROM (SELECT DISTINCT vec_a FROM ex_topk) s
  CROSS JOIN (VALUES {_values_sql(ANN_METHODS)}) m(method)
  LEFT JOIN nd_dcg x ON x.method = m.method AND x.vec_a = s.vec_a
)
SELECT method, COUNT(*) AS n_queries,
       ROUND(CAST(SUM(dcg_s) AS DOUBLE)
             / CAST(COUNT(*) * {NDCG_IDCG} AS DOUBLE), 6) AS mean_ndcg,
       ROUND(CAST(MIN(dcg_s) AS DOUBLE)
             / CAST({NDCG_IDCG} AS DOUBLE), 6) AS min_ndcg
FROM nd_per_query
GROUP BY method
"""


#: MMR reranking: query vector, candidate pool size, selections, and
#: the relevance/diversity trade-off weight (written as the same
#: literal in both engines so the doubles agree bitwise).
MMR_QUERY_ID = 0
MMR_POOL = 20
MMR_K = 5


def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR 1998): greedily select ``MMR_K`` results from the top-
    ``MMR_POOL`` cosine candidates, each step maximizing
    ``0.7·rel(q,d) − 0.3·max_{s∈S} sim(d,s)`` — the diversification
    pass retrieval stacks run after ANN so near-duplicate hits don't
    crowd out distinct results (directly useful on a deduplicated
    corpus where residual near-dups still cluster).

    Scale shape: the corpus-wide stage is the broadcast one-query
    cosine scan + a TakeOrdered top-POOL (identical to the ANN
    baseline's plan class). Everything after operates on the BOUNDED
    pool — pool×pool similarities and MMR_K greedy argmax steps, each
    a 1-row TakeOrdered checkpointed eagerly so the iteration's plan
    stays flat. No unbounded state anywhere; the oracle unrolls the
    same greedy selection into a generated CTE chain.
    """
    corpus = _vectors(load_table(spark, sf_dir, "embeddings"), "vec_id", "b")
    rel = (
        F.broadcast(_query_batch(spark, sf_dir, [MMR_QUERY_ID]))
        .crossJoin(corpus)
        .where(F.col("vec_id") != MMR_QUERY_ID)
        .select("vec_id", _cos6("a", "b").alias("rel"))
    )
    pool = (
        rel.orderBy(F.desc("rel"), "vec_id")
        .limit(MMR_POOL)
        .localCheckpoint(eager=True)
    )
    pe = pool.join(corpus, "vec_id")
    a = pe.select(
        F.col("vec_id").alias("d"),
        F.col("emb_b").alias("emb_d"),
        F.col("norm_b").alias("norm_d"),
    )
    b = pe.select(
        F.col("vec_id").alias("s"),
        F.col("emb_b").alias("emb_s"),
        F.col("norm_b").alias("norm_s"),
    )
    sims = (
        a.crossJoin(b)
        .where(F.col("d") != F.col("s"))
        .select("d", "s", _cos6("d", "s").alias("sim"))
        .localCheckpoint(eager=True)
    )
    lam, one_m = F.lit(0.7), F.lit(0.3)
    winners: list[DataFrame] = []
    sel_ids: DataFrame | None = None
    for t in range(1, MMR_K + 1):
        if sel_ids is None:
            cand = pool.select(
                "vec_id", "rel", F.lit(0.0).alias("pen")
            )
        else:
            pen = (
                sims.join(
                    F.broadcast(sel_ids.withColumnRenamed("vec_id", "s")),
                    "s",
                )
                .groupBy("d")
                .agg(F.max("sim").alias("pen"))
                .withColumnRenamed("d", "vec_id")
            )
            cand = (
                pool.join(sel_ids, "vec_id", "left_anti")
                .join(pen, "vec_id", "left")
                .select(
                    "vec_id",
                    "rel",
                    F.coalesce("pen", F.lit(0.0)).alias("pen"),
                )
            )
        scored = cand.select(
            "vec_id",
            "rel",
            "pen",
            (lam * F.col("rel") - one_m * F.col("pen")).alias("score"),
        )
        winner = (
            scored.orderBy(F.desc("score"), "vec_id")
            .limit(1)
            .select(
                F.lit(t).cast("int").alias("rank"),
                "vec_id",
                F.col("rel").alias("relevance"),
                F.col("pen").alias("diversity"),
                F.round("score", 6).alias("mmr_score"),
            )
            .localCheckpoint(eager=True)
        )
        winners.append(winner)
        ids_t = winner.select("vec_id")
        sel_ids = ids_t if sel_ids is None else sel_ids.unionAll(ids_t)
    out = winners[0]
    for w_df in winners[1:]:
        out = out.unionAll(w_df)
    return out


def _mmr_oracle() -> str:
    """DuckDB oracle for :func:`ann_mmr_rerank`: the greedy selection
    unrolled into MMR_K generated CTEs over the same pool/sims."""
    parts = [
        _ORACLE_VECTOR_CTE.strip().rstrip(),
        f""",
mmr_qv AS (SELECT i, x FROM v WHERE vec_id = {MMR_QUERY_ID}),
mmr_rel AS (
  -- query side pre-filtered to one vector so the dim-index join
  -- never builds the |v|×|v| intermediate
  SELECT b.vec_id AS vec_id,
         ROUND(SUM(a.x * b.x) / (na.nrm * nb.nrm), 6) AS rel
  FROM mmr_qv a JOIN v b ON a.i = b.i
  JOIN norms na ON na.vec_id = {MMR_QUERY_ID}
  JOIN norms nb ON nb.vec_id = b.vec_id
  WHERE b.vec_id <> {MMR_QUERY_ID}
  GROUP BY b.vec_id, na.nrm, nb.nrm
),
mmr_pool AS (
  SELECT vec_id, rel FROM mmr_rel ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}
),
mmr_pv AS (
  -- pool-filtered vector slice: ≤ MMR_POOL · dim rows, so the
  -- pairwise-similarity join is pool-sized, not corpus-sized
  SELECT v.vec_id, v.i, v.x FROM v
  WHERE v.vec_id IN (SELECT vec_id FROM mmr_pool)
),
mmr_sims AS (
  SELECT a.vec_id AS d, b.vec_id AS s,
         ROUND(SUM(a.x * b.x) / (na.nrm * nb.nrm), 6) AS sim
  FROM mmr_pv a JOIN mmr_pv b ON a.i = b.i AND a.vec_id <> b.vec_id
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = b.vec_id
  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
),
mmr_sel1 AS (
  SELECT CAST(1 AS INTEGER) AS rank, vec_id, rel AS relevance,
         CAST(0.0 AS DOUBLE) AS diversity,
         ROUND(0.7 * rel - 0.3 * CAST(0.0 AS DOUBLE), 6) AS mmr_score
  FROM mmr_pool ORDER BY 0.7 * rel - 0.3 * CAST(0.0 AS DOUBLE) DESC, vec_id LIMIT 1
),
mmr_ids1 AS (SELECT vec_id FROM mmr_sel1)""",
    ]
    for t in range(2, MMR_K + 1):
        parts.append(
            f""",
mmr_pen{t} AS (
  SELECT d AS vec_id, MAX(sim) AS pen FROM mmr_sims
  WHERE s IN (SELECT vec_id FROM mmr_ids{t - 1}) GROUP BY d
),
mmr_cand{t} AS (
  SELECT p.vec_id, p.rel, COALESCE(pe.pen, CAST(0.0 AS DOUBLE)) AS pen
  FROM mmr_pool p LEFT JOIN mmr_pen{t} pe USING (vec_id)
  WHERE p.vec_id NOT IN (SELECT vec_id FROM mmr_ids{t - 1})
),
mmr_sel{t} AS (
  SELECT CAST({t} AS INTEGER) AS rank, vec_id, rel AS relevance,
         pen AS diversity, ROUND(0.7 * rel - 0.3 * pen, 6) AS mmr_score
  FROM mmr_cand{t} ORDER BY 0.7 * rel - 0.3 * pen DESC, vec_id LIMIT 1
),
mmr_ids{t} AS (SELECT vec_id FROM mmr_ids{t - 1} UNION ALL SELECT vec_id FROM mmr_sel{t})""",
        )
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM mmr_sel{t}" for t in range(1, MMR_K + 1)
    )
    # Same rule as ml._materialize_ctes: the chained selection CTEs
    # reference each other multiply, and DuckDB's default inlining
    # re-evaluates each reference — exponential in MMR_K (28 s → <1 s
    # at sf0.01 with materialization pinned).
    return ("".join(parts) + "\n" + union).replace(
        " AS (", " AS MATERIALIZED ("
    )


#: Matryoshka truncation widths audited by ann_matryoshka_recall —
#: nested prefixes of the 64-dim embedding (Kusupati et al.,
#: "Matryoshka Representation Learning", NeurIPS 2022).
MATRYOSHKA_WIDTHS = (8, 16, 32)


def _prefix_topk(
    spark: SparkSession, sf_dir: str, kernels: dict
) -> DataFrame:
    """``(width, vec_a, vec_b, cos_sim, rank)`` for every width's
    kernel (``kernels`` maps width → :func:`_corpus_kernel` kernel) in
    ONE corpus pass: each batch is read and decoded once, and each
    width scores a prefix view of it (no copy), so adding a width
    costs one GEMM, not one more parquet scan — array slicing happens
    after the columnar read, so per-width scans would re-read the full
    vector bytes |widths| times. Then one rank window per (width,
    query)."""

    def score(M, vec_ids):
        outs = []
        for w, kernel in kernels.items():
            for f in kernel(M, vec_ids):
                f.insert(0, "width", np.full(len(f), w, dtype="int32"))
                outs.append(f)
        return outs

    cands = _corpus_kernel(
        spark, sf_dir, score, "width int, vec_a long, vec_b long, cos_sim double"
    )
    return _rank_cut(
        cands.where(F.col("vec_a") != F.col("vec_b")),
        "cos_sim",
        keys=("width", "vec_a"),
    )


def _prefix_cosine_topk(
    spark: SparkSession, sf_dir: str, widths: tuple[int, ...]
) -> DataFrame:
    """Exact prefix-cosine top-k at every width in ``widths``, one
    corpus pass (:func:`_prefix_topk` over :func:`_cosine_kernel`)
    against the same driver-side query batch as
    :func:`ann_cosine_topk`."""
    q_rows = _driver_vec_rows(sf_dir, list(range(N_QUERY_VECTORS)))
    return _prefix_topk(
        spark, sf_dir, {w: _cosine_kernel(q_rows, w) for w in widths}
    )


def _prefix_ivf_topk(
    spark: SparkSession, sf_dir: str, widths: tuple[int, ...]
) -> DataFrame:
    """IVF top-k re-quantized at every width in ``widths``, one corpus
    pass (:func:`_prefix_topk` over :func:`_ivf_kernel`): per width,
    the centroids and the query batch are sliced driver-side, and
    each batch is sliced, coarse-quantized against that width's unit
    centroids and probe-scored at ``IVF_NPROBE``."""
    centroid_rows, query_rows = _collect_ivf_inputs(spark, sf_dir)
    return _prefix_topk(
        spark,
        sf_dir,
        {
            w: _ivf_kernel(centroid_rows, query_rows, IVF_NPROBE, w)
            for w in widths
        },
    )


#: Session memo (plans.catalog.session_memo) for the exact full-dim
#: baseline the two prefix audits grade against; each entry is a
#: |queries|·k-row checkpoint.
_EXACT_BASELINE_CACHE: dict = {}


def _exact_baseline_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact full-dimension cosine top-k ``(vec_a, vec_b)``
    baseline as a SHARED, eagerly-checkpointed |queries|·k-row frame.

    The prefix audits (:func:`ann_matryoshka_recall`,
    :func:`ann_prefix_ivf_recall`) and the SQ8 rerank report grade
    against this same baseline. Materializing it once per (session,
    sf_dir) turns each later audit's baseline into a block-manager
    read, and a rollup's several reads of it (overlap-join build,
    query spine) read the same 50-row checkpoint instead of
    re-deriving the scoring subtree, each as its own chain of
    dependent sub-second jobs.
    """
    return session_memo(
        _EXACT_BASELINE_CACHE,
        spark,
        sf_dir,
        "embeddings",
        lambda: ann_cosine_topk(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True),
    )


def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: recall@k of PREFIX-DIMENSION
    cosine retrieval against the full-dimension exact baseline, one
    row per truncation width. This is the acceptance gate for serving
    a cheaper prefix of the embedding (Kusupati et al., MRL): if
    recall@k at width 16 is already ~1.0, the ANN index can store a
    4× smaller vector.

    ALL widths run in ONE fused Arrow kernel over ONE corpus scan
    (:func:`_prefix_cosine_topk`), as in :func:`ann_prefix_ivf_recall`.
    Width-w scores are GEMMs over prefix views of the once-decoded
    batch, each (width, query) pre-reduced to its batch-local top-k,
    then one rank window per (width, query) over the bounded
    candidates, with the baseline's rounded-similarity + vec_id
    tiebreak. The overlap join keys on (width, query, neighbor) —
    |widths|·k·|queries| rows (:func:`_recall_rollup`).

    The baseline checkpoint is built before the prefix side's driver
    reads, not alongside them: overlapping the two on a thread
    measured slower on 32 cores (2.29 → 5.41 s), as the concurrent
    baseline job contends with the prefix side's collects.

    Oracle-checked end to end: per-width truncated norms/dots replay
    over the shared positional-unnest CTE with ``i <= w`` (DuckDB
    subscripts are 1-based, matching the kernel's prefix view).
    """
    full = _exact_baseline_ckpt(spark, sf_dir)
    trunc = _prefix_cosine_topk(spark, sf_dir, MATRYOSHKA_WIDTHS).select(
        "width", "vec_a", "vec_b"
    )
    return _recall_rollup(spark, full, trunc, "width", MATRYOSHKA_WIDTHS)


def _width_cte(w: int) -> str:
    """``pv{w}``/``pn{w}``: each vector's components and norm over its
    first ``w`` dims (``i <= w``: DuckDB subscripts are 1-based, like
    the kernels' prefix slice)."""
    return f"""pv{w} AS (
  SELECT vec_id, i, x FROM v WHERE i <= {w}
), pn{w} AS (
  SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM pv{w} GROUP BY vec_id
)"""


def _width_recall_oracle(prefix: str, topk_cte) -> str:
    """DuckDB oracle of a prefix-width recall audit: the full-dim
    exact top-k, then per width ``w`` the :func:`_width_cte` slices
    and ``topk_cte(prefix + w, "pv{w}", "pn{w}")``, a chain ending in
    ``{prefix}{w}_topk``, then the recall rollup by width."""
    chains = ",\n".join(
        f"{_width_cte(w)}, {topk_cte(f'{prefix}{w}', f'pv{w}', f'pn{w}').strip()}"
        for w in MATRYOSHKA_WIDTHS
    )
    arms = {w: f"{prefix}{w}_topk" for w in MATRYOSHKA_WIDTHS}
    return f"""
{_ORACLE_VECTOR_CTE},
{_exact_topk_cte()},
{chains},
{_recall_rollup_sql("width", arms)}"""


def ann_prefix_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-prefix IVF serving audit: recall@k of the IVF index
    RE-QUANTIZED at each prefix width against the full-dimension exact
    baseline — the table that closes the loop
    :func:`ann_matryoshka_recall` opens. That audit grades prefix
    cosine in isolation; the serving decision needs the deployed index
    family at the narrow width, because truncation moves both the
    centroids and the list assignments, so prefix-IVF recall is NOT
    prefix-recall × IVF-recall (list-boundary errors compound).

    All widths run in ONE fused Arrow kernel over ONE corpus scan
    (:func:`_prefix_ivf_topk`): the embedding column is read from
    parquet exactly once for the whole audit. The standard
    ``IVF_NPROBE`` probe runs against each width's re-quantized lists.
    Overlap joins key on (width, query, neighbor) —
    |widths|·k·|queries| rows (:func:`_recall_rollup`). Shuffle
    ledger: nothing but the bounded candidate sets and the k-row rank
    windows (partitioned per (width, query)); the corpus itself never
    shuffles. As in :func:`ann_matryoshka_recall`, the baseline is
    built first: overlapping it with the IVF input reads on a thread
    measured slower on 32 cores (2.36 → 3.26 s).

    Oracle: per-width component/norm CTEs (``i <= w``, 1-based like
    the kernel's prefix slice) feed the shared :func:`_ivf_cte`
    chain — the same deterministic strided quantizer replayed in SQL
    at each width.
    """
    full = _exact_baseline_ckpt(spark, sf_dir)
    trunc = _prefix_ivf_topk(spark, sf_dir, MATRYOSHKA_WIDTHS).select(
        "width", "vec_a", "vec_b"
    )
    return _recall_rollup(spark, full, trunc, "width", MATRYOSHKA_WIDTHS)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (IVFADC — Jégou et al., TPAMI 2011 §V): the
    production FAISS configuration, composing the two registered
    quantizers that otherwise run separately. The IVF coarse
    quantizer PRUNES (each query scans only its nprobe nearest
    inverted lists) and PQ COMPRESSES (in-list candidates are scored
    through 4-bit codes via asymmetric-distance lookup tables, never
    touching the floats): a probe reads nprobe/nlists of the corpus
    AND reads it 32× smaller — IVF-Flat re-reads full vectors per
    candidate, plain PQ scans every code.

    Codes here quantize the RAW vector (not the list residual):
    both registered quantizers are deterministic strided-id samples,
    and a residual codebook has no such closed form — the docstring
    of each sampler owns that contract. Recall therefore lower-bounds
    a trained residual IVFADC, and the pytest floor pins it against
    the exact baseline.

    Execution is the same ONE fused Arrow stage as the parents: the
    IVF kernel (:func:`_ivf_kernel`) coarse-assigns each batch and
    keeps only rows whose list some query probes, and the PQ kernel
    (:func:`_pq_adc`) encodes exactly those rows and ADC-scores them
    against the probing queries only. Zero corpus shuffle, zero
    broadcast build; the final per-query top-k window sees only
    in-probed-list candidates.

    Value-exact DuckDB oracle: the IVF assignment fragment and the
    PQ codebook fragment replay verbatim (shared CTE builders with
    the parent oracles), joined by the probe⋈assignment candidate
    restriction — every comparison after a 6-decimal round, the
    contract the parents are hash-checked under.
    """
    centroid_rows, query_rows = _collect_ivf_inputs(spark, sf_dir)
    code_rows, _ = _collect_pq_inputs(spark, sf_dir)
    kernel = _ivf_kernel(
        centroid_rows,
        query_rows,
        IVF_NPROBE,
        adc=_pq_adc(code_rows, query_rows),
    )
    cands = _corpus_kernel(
        spark, sf_dir, kernel, "vec_a long, vec_b long, adc_sim double"
    )
    return _rank_cut(cands.where(F.col("vec_a") != F.col("vec_b")), "adc_sim")


def _ivfpq_oracle() -> str:
    """DuckDB oracle for :func:`ann_ivfpq_topk` — the shared IVF
    assignment fragment (prefix ``ipq``) supplies probes/assignment,
    the shared PQ codebook fragment supplies codes/LUT terms, and the
    ADC join is restricted to probed lists before the rank window."""
    return f"""
{_ORACLE_VECTOR_CTE},
{_ivf_assign_cte(prefix="ipq")},
{_pq_codes_cte()},
ipq_cand AS (
  SELECT p.qid AS vec_a, a.vec_id AS vec_b
  FROM ipq_probes p JOIN ipq_assign a ON a.list_id = p.list_id
  WHERE p.qid <> a.vec_id
), ipq_adc AS (
  SELECT c.vec_a, c.vec_b,
         SUM(q.xc) AS adc_dot, SUM(b.cc) AS rec2
  FROM ipq_cand c
  JOIN pq_codes b ON b.vec_id = c.vec_b
  JOIN pq_xc q ON q.vec_id = c.vec_a AND q.s = b.s AND q.j = b.code
  GROUP BY 1, 2
), {_adc_topk_sql("ipq")}
SELECT vec_a, vec_b, adc_sim, rank FROM ipq_topk
"""


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the SQ8-RECONSTRUCTED corpus —
    what an int8 scalar-quantized index actually returns. Asymmetric
    by design (queries stay float32-exact, the corpus rides the
    per-dimension absmax int8 grid from :func:`_absmax_literal`),
    matching how production SQ8 indexes score.

    embedding_quantize reports the GEOMETRIC error of this grid;
    this query and :func:`ann_sq8_recall` close the loop by measuring
    what that error does to RETRIEVAL — the number that actually
    gates switching the fleet to a 4×-smaller index.

    Plan shape is ann_cosine_topk's: dequantization is a NARROW JVM
    zip_with over each row (no shuffle, same expression order as the
    oracle), then the broadcast query batch × corpus scoring with a
    rounded-sim + vec_id engine-stable ranking.
    """
    scored, _ = _sq8_scored_frame(spark, sf_dir)
    return _rank_cut(scored, "sq_sim")


def _sq8_scored_frame(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The SQ8-scored pair frame ``(vec_a, vec_b, sq_sim)`` plus the
    broadcast-ready query batch — one home for the asymmetric scoring
    so the flat index (:func:`ann_sq8_topk`) and the two-stage rerank
    (:func:`ann_sq8_rerank_topk`) cannot drift."""
    return _broadcast_scored(
        spark,
        sf_dir,
        "sq_sim",
        lambda emb: _sq8_dequant(
            to_double(F.col("embedding")), _absmax_literal(emb)
        ),
    )


#: Candidate depth of the two-stage retrieval: the SQ8 index proposes
#: R candidates per query, the float rerank keeps k. R = 5k is the
#: classic production setting — deep enough that quantization-rank
#: inversions almost never push a true top-k neighbor past R.
SQ8_RERANK_R = 5 * TOPK_K


def ann_sq8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval, the production deployment of a quantized
    index (FAISS's refine/rerank idiom; Jégou et al. §VI re-rank):
    stage 1 proposes ``SQ8_RERANK_R`` candidates per query from the
    4×-smaller SQ8 index; stage 2 re-scores ONLY those candidates
    with exact float cosine and keeps the top k. Retrieval quality
    recovers toward exact (ann_sq8_rerank_recall measures exactly how
    much) while the corpus-sized scan still reads int8.

    Plan: stage 1 is the shared SQ8 scoring frame + rank ≤ R; the
    R·|queries| winner list — bounded regardless of corpus size — is
    BROADCAST back against the float corpus, so stage 2's exact
    scoring touches only candidate rows (a semi-join-shaped prune, no
    second corpus scan shuffle), then a final rank ≤ k. Both ranks
    use the house (−sim, vec_b) total order; stage-1 ties resolve on
    the 1e-6 sq_sim grid identically in both engines.
    """
    cut, queries = _sq8_rerank_cut(spark, sf_dir, materialize=False)
    return _sq8_rerank_from(spark, sf_dir, cut, queries)


def _sq8_rerank_cut(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Stage 1 once: the R-deep SQ8 candidate cut ``(vec_a, vec_b,
    r1)`` — an R·|queries|-row frame (bounded regardless of corpus
    size — the trained-candidate artifact), plus the query batch.
    ``materialize`` eagerly checkpoints the cut for MULTI-consumer
    callers: the recovery report reads it twice (the rerank side and
    — because the flat index's top-k is by construction the first k
    rows of the same (−sq_sim, vec_b) ranking — the flat-SQ8 side,
    so the corpus is scored once). The plain two-stage query consumes
    the cut exactly once (inside its stage-2 broadcast build), so it
    passes ``materialize=False`` and saves the checkpoint round-trip:
    the scoring subtree then runs inside the broadcast-exchange job
    of the one action, one Spark job fewer."""
    scored, queries = _sq8_scored_frame(spark, sf_dir)
    cut = _rank_cut(scored, "sq_sim", SQ8_RERANK_R, rank="r1").select(
        "vec_a", "vec_b", "r1"
    )
    if materialize:
        cut = cut.localCheckpoint(eager=True)
    return cut, queries


def _sq8_rerank_from(
    spark: SparkSession, sf_dir: str, cut: DataFrame, queries: DataFrame
) -> DataFrame:
    """Stage 2: exact float rerank of the bounded candidate cut —
    broadcast the winner list against the float corpus (semi-join-
    shaped prune, no second corpus-scan shuffle), 6-decimal cosine,
    rank ≤ k on the house (−sim, vec_b) order."""
    corpus_f = _vectors(load_table(spark, sf_dir, "embeddings"), "vec_b", "bf")
    rer = (
        F.broadcast(cut.select("vec_a", "vec_b"))
        .join(corpus_f, "vec_b")
        .join(F.broadcast(queries), "vec_a")
        .select("vec_a", "vec_b", _cos6("a", "bf").alias("cos_sim"))
    )
    return _rank_cut(rer, "cos_sim")


#: 1e-6 grid for the similarity-shift rollup: both sims are already
#: 6-decimal values, so the scaled difference is exact integer mass.
_SQ8_SHIFT_SCALE = 1_000_000.0

_SQ8_CTE = f"""
sq_stats AS (
  SELECT i, MAX(ABS(x)) AS a FROM v GROUP BY i
), vq AS (
  SELECT p.vec_id, p.i,
         CASE WHEN s.a = 0 THEN 0.0
              ELSE ROUND(p.x * {SQ_LEVELS}.0 / s.a) * s.a / {SQ_LEVELS}.0
         END AS x
  FROM v p JOIN sq_stats s USING (i)
), nq AS (
  SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM vq GROUP BY vec_id
), sq_dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.x * b.x) AS dp
  FROM v a JOIN vq b ON a.i = b.i
  WHERE a.vec_id < {N_QUERY_VECTORS} AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
), sq_scored AS (
  SELECT vec_a, vec_b, ROUND(dp / (na.nrm * nb.nrm), 6) AS sq_sim
  FROM sq_dots
  JOIN norms na ON na.vec_id = vec_a
  JOIN nq nb ON nb.vec_id = vec_b
), {_topk_sql("sq_topk", "sq_scored", "sq_sim")}"""

ANN_SQ8_TOPK_ORACLE = f"""
{_ORACLE_VECTOR_CTE},
{_SQ8_CTE}
SELECT vec_a, vec_b, sq_sim, rank FROM sq_topk
"""

#: Rerank CTE chain on top of _SQ8_CTE: the R-deep SQ8 candidate cut,
#: then exact float re-scoring of ONLY those pairs.
_SQ8_RERANK_CTE = f"""
{_topk_sql("rr_cand", "sq_scored", "sq_sim", SQ8_RERANK_R)}, {_rescored_topk_sql("rr")}"""

ANN_SQ8_RERANK_TOPK_ORACLE = f"""
{_ORACLE_VECTOR_CTE},
{_SQ8_CTE},
{_SQ8_RERANK_CTE}
SELECT vec_a, vec_b, cos_sim, rank FROM rr_topk
"""


def ann_sq8_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance report for the two-stage retrieval: recall@k of the
    SQ8→float rerank against the exact baseline, SIDE BY SIDE with
    the flat SQ8 index's recall and the recovery delta — the one-row
    answer to "does reranking R=5k candidates buy back what
    quantization lost?" (it should sit at or near 1.0: a true top-k
    neighbor is lost only if quantization pushed it past rank R).

    All three top-k frames are bounded (k·|queries| / R·|queries|);
    the overlap joins and the rollup never touch corpus-sized data.
    ONE corpus scoring pass feeds both quantized sides: the flat
    index's top-k is the first k rows of the R-cut's own ranking
    (same (−sq_sim, vec_b) total order), so it reads the checkpointed
    cut instead of re-scoring the corpus, and the exact side reads
    the shared checkpointed baseline. The recovery delta is computed
    in the same operation order in both engines (two integer-sum
    ratios subtracted, then one 6-decimal round), per the determinism
    contract.
    """
    exact = _exact_baseline_ckpt(spark, sf_dir)
    cut, queries = _sq8_rerank_cut(spark, sf_dir)
    rr = _sq8_rerank_from(spark, sf_dir, cut, queries).select(
        "vec_a", "vec_b"
    )
    sq = cut.where(F.col("r1") <= TOPK_K).select("vec_a", "vec_b")
    spine = exact.select("vec_a").distinct()
    m_rr = (
        exact.join(rr, ["vec_a", "vec_b"])
        .groupBy("vec_a")
        .agg(F.count(F.lit(1)).alias("m_rr"))
    )
    m_sq = (
        exact.join(sq, ["vec_a", "vec_b"])
        .groupBy("vec_a")
        .agg(F.count(F.lit(1)).alias("m_sq"))
    )
    per = (
        spine.join(m_rr, "vec_a", "left")
        .join(m_sq, "vec_a", "left")
        .select(
            F.coalesce(F.col("m_rr"), F.lit(0)).alias("m_rr"),
            F.coalesce(F.col("m_sq"), F.lit(0)).alias("m_sq"),
        )
    )
    k = float(TOPK_K)
    n = F.count(F.lit(1))
    return per.agg(
        n.alias("n_queries"),
        F.round(F.sum("m_rr") / (n * F.lit(k)), 6).alias("mean_recall"),
        F.round(F.min("m_rr") / F.lit(k), 6).alias("min_recall"),
        F.sum((F.col("m_rr") == TOPK_K).cast("int")).alias("n_perfect"),
        F.round(F.sum("m_sq") / (n * F.lit(k)), 6).alias("mean_recall_sq8"),
        F.round(
            F.sum("m_rr") / (n * F.lit(k)) - F.sum("m_sq") / (n * F.lit(k)),
            6,
        ).alias("recall_recovered"),
    )


ANN_SQ8_RERANK_RECALL_ORACLE = f"""
{_ORACLE_VECTOR_CTE},
{_exact_topk_cte()},
{_SQ8_CTE},
{_SQ8_RERANK_CTE},
rrm AS (
  SELECT e.vec_a, COUNT(*) AS m
  FROM ex_topk e JOIN rr_topk r
    ON r.vec_a = e.vec_a AND r.vec_b = e.vec_b
  GROUP BY 1
), sqm AS (
  SELECT e.vec_a, COUNT(*) AS m
  FROM ex_topk e JOIN sq_topk s
    ON s.vec_a = e.vec_a AND s.vec_b = e.vec_b
  GROUP BY 1
), rr_per AS (
  SELECT s.vec_a, COALESCE(r.m, 0) AS m_rr, COALESCE(q.m, 0) AS m_sq
  FROM (SELECT DISTINCT vec_a FROM ex_topk) s
  LEFT JOIN rrm r ON r.vec_a = s.vec_a
  LEFT JOIN sqm q ON q.vec_a = s.vec_a
)
SELECT COUNT(*) AS n_queries,
       ROUND(SUM(m_rr) / (COUNT(*) * {float(TOPK_K)}), 6) AS mean_recall,
       ROUND(MIN(m_rr) / {float(TOPK_K)}, 6) AS min_recall,
       CAST(SUM(CASE WHEN m_rr = {TOPK_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_perfect,
       ROUND(SUM(m_sq) / (COUNT(*) * {float(TOPK_K)}), 6)
         AS mean_recall_sq8,
       ROUND(SUM(m_rr) / (COUNT(*) * {float(TOPK_K)})
             - SUM(m_sq) / (COUNT(*) * {float(TOPK_K)}), 6)
         AS recall_recovered
FROM rr_per
"""


def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval impact of SQ8 quantization: recall@k of the SQ8
    index against the exact float baseline, plus the mean similarity
    shift on the pairs both agree on — the one-row acceptance report
    for an index-compression rollout (compression itself is audited
    geometrically by embedding_quantize).

    The overlap join keys on (query, neighbor) pairs — k·|queries|
    rows per side regardless of corpus size; the heavy work is inside
    the two audited top-k queries. The shift rides the 1e-6 integer
    grid (both sims are 6-decimal values), so the rollup is exact in
    both engines.
    """
    exact = ann_cosine_topk(spark, sf_dir)
    sq = ann_sq8_topk(spark, sf_dir).select("vec_a", "vec_b", "sq_sim")
    spine = exact.select("vec_a").distinct()
    matched = (
        exact.select("vec_a", "vec_b", "cos_sim")
        .join(sq, ["vec_a", "vec_b"])
        .groupBy("vec_a")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(
                F.round(
                    F.abs(F.col("cos_sim") - F.col("sq_sim"))
                    * F.lit(_SQ8_SHIFT_SCALE)
                ).cast("long")
            ).alias("shift_grid"),
        )
    )
    per_query = spine.join(matched, "vec_a", "left").select(
        "vec_a",
        F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_matched"),
        F.coalesce(F.col("shift_grid"), F.lit(0)).alias("shift_grid"),
    )
    k = float(TOPK_K)
    return per_query.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.sum("n_matched") / (F.count(F.lit(1)) * F.lit(k)), 6).alias(
            "mean_recall"
        ),
        F.round(F.min("n_matched") / F.lit(k), 6).alias("min_recall"),
        F.sum((F.col("n_matched") == TOPK_K).cast("int")).alias("n_perfect"),
        F.round(
            F.sum("shift_grid")
            / (
                F.greatest(F.sum("n_matched"), F.lit(1))
                * F.lit(_SQ8_SHIFT_SCALE)
            ),
            6,
        ).alias("mean_matched_sim_shift"),
    )


ANN_SQ8_RECALL_ORACLE = f"""
{_ORACLE_VECTOR_CTE},
{_exact_topk_cte()},
{_SQ8_CTE},
sr_matched AS (
  SELECT e.vec_a, COUNT(*) AS n_matched,
         SUM(CAST(ROUND(ABS(e.cos_sim - s.sq_sim) * {_SQ8_SHIFT_SCALE})
             AS BIGINT)) AS shift_grid
  FROM ex_topk e JOIN sq_topk s
    ON s.vec_a = e.vec_a AND s.vec_b = e.vec_b
  GROUP BY e.vec_a
), sr_per_query AS (
  SELECT q.vec_a, COALESCE(m.n_matched, 0) AS n_matched,
         COALESCE(m.shift_grid, 0) AS shift_grid
  FROM (SELECT DISTINCT vec_a FROM ex_topk) q
  LEFT JOIN sr_matched m ON m.vec_a = q.vec_a
)
SELECT COUNT(*) AS n_queries,
       ROUND(SUM(n_matched) / (COUNT(*) * {float(TOPK_K)}), 6)
         AS mean_recall,
       ROUND(MIN(n_matched) / {float(TOPK_K)}, 6) AS min_recall,
       CAST(SUM(CASE WHEN n_matched = {TOPK_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_perfect,
       ROUND(SUM(shift_grid) /
             (GREATEST(SUM(n_matched), 1) * {_SQ8_SHIFT_SCALE}), 6)
         AS mean_matched_sim_shift
FROM sr_per_query
"""


QUERIES: list[QueryDef] = [
    QueryDef("ann_cosine_topk", ann_cosine_topk, ANN_TOPK_ORACLE, "brute-force cosine top-k"),
    QueryDef("embedding_doc_coverage", embedding_doc_coverage, EMBEDDING_COVERAGE_ORACLE, "doc-embedding referential-integrity coverage report"),
    QueryDef("embedding_neardup_pairs", embedding_neardup_pairs, NEARDUP_ORACLE, "cosine near-dup pairs"),
    QueryDef("embedding_stats", embedding_stats, EMBEDDING_STATS_ORACLE, "norm/dim stats"),
    QueryDef("embedding_quantize", embedding_quantize, EMBEDDING_QUANTIZE_ORACLE, "SQ8 absmax quantization error report"),
    QueryDef("ann_lsh_topk", ann_lsh_topk, _lsh_oracle(), "LSH-bucketed ANN top-k"),
    QueryDef("ann_ivf_topk", ann_ivf_topk, _ivf_oracle(), "IVF-list ANN top-k"),
    QueryDef("ann_pq_adc_topk", ann_pq_adc_topk, _pq_oracle(), "product-quantization ADC top-k (32x-compressed scan)"),
    QueryDef("ann_ivfpq_topk", ann_ivfpq_topk, _ivfpq_oracle(), "IVF-PQ (IVFADC) top-k: probe-pruned lists scored through 4-bit codes"),
    QueryDef("ann_sq8_topk", ann_sq8_topk, ANN_SQ8_TOPK_ORACLE, "asymmetric SQ8-index cosine top-k (float queries vs int8-grid corpus)"),
    QueryDef("ann_sq8_recall", ann_sq8_recall, ANN_SQ8_RECALL_ORACLE, "recall@k + similarity-shift acceptance report for the SQ8 index"),
    QueryDef("ann_sq8_rerank_topk", ann_sq8_rerank_topk, ANN_SQ8_RERANK_TOPK_ORACLE, "two-stage retrieval: SQ8 candidate generation (R=5k) + exact float rerank"),
    QueryDef("ann_sq8_rerank_recall", ann_sq8_rerank_recall, ANN_SQ8_RERANK_RECALL_ORACLE, "recall recovery of the SQ8-then-rerank pipeline vs the flat SQ8 index"),
    QueryDef("ann_recall_report", ann_recall_report, _recall_oracle(), "recall@k audit of LSH/IVF vs exact baseline"),
    QueryDef("ann_nprobe_recall_curve", ann_nprobe_recall_curve, _nprobe_curve_oracle(), "IVF recall-vs-probe-depth tuning curve"),
    QueryDef("knn_label_probe", knn_label_probe, KNN_LABEL_PROBE_ORACLE, "k-NN majority-vote label prediction probe (embedding-quality gate)"),
    QueryDef("dedup_lexical_semantic_pairs", dedup_lexical_semantic_pairs, _lexical_semantic_oracle(), "lexical near-dup pairs scored by embedding cosine (two-signal dedup)"),
    QueryDef("ann_ivf_balance_report", ann_ivf_balance_report, _ivf_balance_oracle(), "IVF inverted-list load-balance audit (probe-latency predictor)"),
    QueryDef("ann_mmr_rerank", ann_mmr_rerank, _mmr_oracle(), "MMR diversification rerank of the cosine top-pool (unrolled greedy oracle)"),
    QueryDef("ann_ndcg_report", ann_ndcg_report, _ndcg_oracle(), "nDCG@k audit of the ANN paths (rank-aware recall sibling; integer-scaled discounts)"),
    QueryDef("embedding_isotropy", embedding_isotropy, EMBEDDING_ISOTROPY_ORACLE, "anisotropy audit: exact mean pairwise dot via the sum-vector identity (no pairs)"),
    QueryDef("ann_matryoshka_recall", ann_matryoshka_recall, _width_recall_oracle("mt", _exact_topk_cte), "Matryoshka prefix-dimension recall@k audit vs the full-dim exact baseline"),
    QueryDef("ann_prefix_ivf_recall", ann_prefix_ivf_recall, _width_recall_oracle("pw", _ivf_cte), "recall@k of the IVF index re-quantized at each Matryoshka prefix width"),
]
