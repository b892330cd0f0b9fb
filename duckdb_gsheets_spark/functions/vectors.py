"""Vector (embedding) column builders.

Two scoring paths, used deliberately:

* **Catalyst higher-order functions** (``zip_with`` + ``aggregate``) —
  JVM-side, zero Python, with a left-fold whose operation order matches
  the DuckDB oracle's sequential SUM, so the HASH-CHECKED queries
  (brute-force top-k, near-dup pairs) stay cross-engine deterministic.
  Note: Spark HOFs are INTERPRETED expressions — they sit inside a
  WholeStageCodegen stage but each fold evaluates via the expression
  interpreter, so a 64-element fold costs far more than codegen'd
  scalar math. Cheap enough for one fold per pair; the wrong tool for
  many folds per row.
* **Arrow-batched numpy** (``pandas_udf``) — one GEMM/einsum per ~10k-row
  batch, ~an order of magnitude faster per fold than interpreted HOFs.
  Used on the rows-only-checked ANN paths (IVF assignment = 16 folds
  per corpus row, LSH/IVF candidate scoring) where a < 1e-12 summation-
  order drift cannot flip a rounded 6-decimal hash.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def to_double(vec: Column) -> Column:
    """array<float> → array<double> (one widening cast per element)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + left-fold aggregate.

    DuckDB oracle equivalent: positional unnest + SUM of products
    (64-element fold: cross-engine drift < 1e-12, rounded downstream).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(dot(a, a))


def cosine_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine similarity in double precision from precomputed norms:
    ``dot(a, b) / (norm_a · norm_b)``, the DuckDB oracle's operation
    order. Each vector's norm is folded once per row, not once per
    pair: in a k-candidate scorer that saves 2k norm folds per row."""
    return dot(a, b) / (norm_a * norm_b)


# NOTE: return types are DataType instances, not DDL strings — string
# types are parsed eagerly at decoration time and would make importing
# this module require an active SparkSession.
@pandas_udf(DoubleType())
def dot_np(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise dot product, one einsum per Arrow batch.

    Summation order differs from the HOF left fold (numpy pairwise /
    SIMD) by < 1e-12 on unit-scale 64-dim vectors — callers round to 6
    decimals downstream, so use only on rows-only-checked paths.
    """
    A = np.stack(a.to_numpy())
    B = np.stack(b.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", A, B))


@pandas_udf(DoubleType())
def norm_np(a: pd.Series) -> pd.Series:
    """Row-wise L2 norm via one einsum per Arrow batch."""
    A = np.stack(a.to_numpy())
    return pd.Series(np.sqrt(np.einsum("ij,ij->i", A, A)))


def centroid_assign_np(centroids: np.ndarray, ids: np.ndarray):
    """Build a pandas_udf: embedding → struct(list_id, row_norm).

    The whole coarse quantization is ONE (batch × dim) @ (dim × k) GEMM
    per Arrow batch instead of k interpreted HOF folds per row. Ties
    resolve to the first (lowest-index) centroid, matching the HOF
    formulation's ``array_position`` first-occurrence semantics; sims
    are rounded to 6 decimals before the argmax for the same reason.
    """
    unit = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    id_arr = np.asarray(ids)

    @pandas_udf(
        StructType(
            [
                StructField("list_id", LongType()),
                StructField("row_norm", DoubleType()),
            ]
        )
    )
    def assign(emb: pd.Series) -> pd.DataFrame:
        M = np.stack(emb.to_numpy())
        norms = np.sqrt(np.einsum("ij,ij->i", M, M))
        sims = np.round((M @ unit.T) / norms[:, None], 6)
        return pd.DataFrame(
            {"list_id": id_arr[sims.argmax(axis=1)], "row_norm": norms}
        )

    return assign
