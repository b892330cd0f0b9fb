"""Persisted quality-classifier probe (write-once/read-many).

The quality gate (``pipeline_classifier_gate``) scores documents
against a hashed-feature logistic probe whose fit costs a tokenize
pass plus
``CLS_GATE_ITERS`` full-batch GD rounds over the corpus. Within one
session the fit runs once per consumer; every NEW session pays it
again while the corpus is unchanged — and at 100 TB the fit is the
expensive half of the gate.

Same layout-layer trade as the LRS spine, the sharded Bloom, and the
phash signature index: pay one WRITE after ingest, then every later
session LOADS the ≤1025-row ``(bucket, ws)`` weight table — the
frozen probe — instead of refitting. The artifact is self-describing
and refuses staleness loudly:

* a CONFIG fingerprint over every constant that parameterizes the
  probe (iteration count, learning rate, Pareto shape, bucket count,
  curated-source list) — scoring with weights fit under different
  hyperparameters would silently gate the wrong documents;
* the CORPUS (path, mtime) stamp — serving a probe fit on a
  rewritten corpus would silently apply stale class boundaries.

Usage::

    write_classifier_probe(spark, sf_dir, art_dir)      # once
    w = load_classifier_probe(spark, sf_dir, art_dir)   # per session
    pipeline_classifier_gate(spark, sf_dir, weights=w)
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession

_WEIGHTS_SUBDIR = "classifier_weights"
_META_SUBDIR = "classifier_meta"


def _probe_fingerprint() -> str:
    """Fingerprint of the probe CONFIGURATION (every constant a
    scoring consumer must share)."""
    from duckdb_gsheets_spark.operators.curation import DSIR_BUCKETS
    from duckdb_gsheets_spark.operators.pipeline import (
        CLASSIFIER_CURATED_SOURCES,
        CLS_GATE_ITERS,
        CLS_GATE_LR,
        CLS_PARETO_ALPHA,
    )

    tag = (
        f"cls-probe-v1|iters={CLS_GATE_ITERS}|lr={CLS_GATE_LR!r}"
        f"|alpha={CLS_PARETO_ALPHA}|buckets={DSIR_BUCKETS}"
        f"|pos={','.join(CLASSIFIER_CURATED_SOURCES)}"
    )
    return hashlib.md5(tag.encode()).hexdigest()


def _corpus_stamp(sf_dir: str) -> tuple[str, float]:
    # An unreadable corpus must fail HERE, not round-trip to a
    # matching sentinel (the phash-index lesson).
    try:
        mtime = os.path.getmtime(f"{sf_dir}/documents.parquet")
    except OSError as exc:
        raise ValueError(
            f"cannot stamp corpus at {sf_dir!r}: documents.parquet is "
            f"missing or unreadable ({exc}) — the classifier probe must "
            "be written and loaded against a readable corpus"
        ) from exc
    return sf_dir, float(mtime)


def write_classifier_probe(
    spark: SparkSession, sf_dir: str, artifact_dir: str
) -> str:
    """Fit the probe through the family's own trainer (one
    implementation — the artifact cannot drift from the in-session
    fit) and persist the weight table plus the self-describing meta
    row. Returns the weights path."""
    from pyspark.sql import functions as F

    from duckdb_gsheets_spark.operators.pipeline import _classifier_fit
    from duckdb_gsheets_spark.plans.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    w, n_train = _classifier_fit(spark, docs)
    weights_path = os.path.join(artifact_dir, _WEIGHTS_SUBDIR)
    spark.createDataFrame(
        sorted((int(b), int(ws)) for b, ws in w.items()),
        "bucket long, ws long",
    ).coalesce(1).write.mode("overwrite").parquet(weights_path)
    path, mtime = _corpus_stamp(sf_dir)
    spark.createDataFrame(
        [(_probe_fingerprint(), path, mtime, int(n_train))],
        "fingerprint string, corpus_path string, corpus_mtime double, "
        "n_train long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(artifact_dir, _META_SUBDIR)
    )
    return weights_path


def load_classifier_probe(
    spark: SparkSession, sf_dir: str, artifact_dir: str
) -> dict[int, int]:
    """Load a persisted probe as the ``{bucket: ws}`` weight dict the
    gate consumes, refusing an artifact whose
    config fingerprint OR corpus stamp disagrees with this session's
    constants and live corpus."""
    try:
        meta = spark.read.parquet(
            os.path.join(artifact_dir, _META_SUBDIR)
        ).collect()
    except Exception as exc:
        raise ValueError(
            f"classifier probe at {artifact_dir!r} has no readable "
            f"metadata ({type(exc).__name__}) — incomplete artifact; "
            "rebuild with write_classifier_probe"
        ) from exc
    fp = _probe_fingerprint()
    live = _corpus_stamp(sf_dir)
    stamped = {
        (r.fingerprint, r.corpus_path, float(r.corpus_mtime)) for r in meta
    }
    if stamped != {(fp, live[0], live[1])}:
        raise ValueError(
            f"classifier probe at {artifact_dir!r} does not match this "
            f"session (stamped {sorted(stamped)!r}, expected "
            f"{(fp, live[0], live[1])!r}) — the probe constants or the "
            "corpus changed since the fit; rebuild with "
            "write_classifier_probe"
        )
    rows = spark.read.parquet(
        os.path.join(artifact_dir, _WEIGHTS_SUBDIR)
    ).collect()
    return {int(r.bucket): int(r.ws) for r in rows}
