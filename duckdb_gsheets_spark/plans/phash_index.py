"""Persisted perceptual-signature index (write-once/read-many).

The perceptual media near-dup family (``multimodal_phash_neardup``,
``multimodal_phash_clusters``, ``multimodal_phash_survivor``) probes
the corpus's 60-bit CDC-chunk SimHash signatures. Within one session
the signature frame is built once and checkpointed, but every NEW
session pays the full
per-byte hex explode + chunk hash + vote aggregation again — pure
recomputation while the corpus is unchanged, and at 100 TB the
signature build touches every payload byte.

Same layout-layer trade as ``plans.exactsubstr_spine`` and the
sharded-Bloom artifact: pay one WRITE after ingest, then every later
session LOADS the (doc_id, format, sig, pmd5) table — 24 bytes of
signature per payload — instead of rebuilding. The artifact is
self-describing and refuses two kinds of staleness loudly:

* a CONFIG fingerprint of every constant that parameterizes the
  signature (bit width, band split, anchor modulus, minimum payload
  gate) — probing signatures built under different constants would
  silently band-match wrong bits (the Bloom loader's contract);
* the CORPUS (path, mtime) stamp — serving signatures of a rewritten
  corpus would silently miss every new payload (the spine loader's
  contract).

Usage::

    write_phash_index(spark, sf_dir, art_dir)   # once, after ingest
    sigs = load_phash_index(spark, sf_dir, art_dir)  # per session
    multimodal_phash_clusters(spark, sf_dir, sigs=sigs)
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

_SIGS_SUBDIR = "phash_sigs"
_META_SUBDIR = "phash_meta"


def _phash_fingerprint() -> str:
    """Fingerprint of the signature CONFIGURATION (every constant a
    probe-side consumer must share)."""
    from duckdb_gsheets_spark.operators.multimodal import (
        PHASH_ANCHOR_MOD,
        PHASH_BANDS,
        PHASH_BITS,
        PHASH_MIN_BYTES,
    )

    # v2: the signature frame gained the n_bytes fidelity column the
    # survivor election reads — a v1 artifact must refuse, not serve a
    # frame the cluster/survivor consumers would fail on mid-query.
    tag = (
        f"phash-v2|bits={PHASH_BITS}|bands={PHASH_BANDS}"
        f"|anchor={PHASH_ANCHOR_MOD}|min_bytes={PHASH_MIN_BYTES}"
    )
    return hashlib.md5(tag.encode()).hexdigest()


def _corpus_stamp(sf_dir: str) -> tuple[str, float]:
    # An unreadable corpus must fail HERE, not round-trip: mapping
    # OSError to a sentinel would stamp the same sentinel at write and
    # load time, so two unreadable states would compare equal and the
    # staleness guard would silently pass.
    try:
        mtime = os.path.getmtime(f"{sf_dir}/documents.parquet")
    except OSError as exc:
        raise ValueError(
            f"cannot stamp corpus at {sf_dir!r}: documents.parquet is "
            f"missing or unreadable ({exc}) — the phash index must be "
            "written and loaded against a readable corpus"
        ) from exc
    return sf_dir, float(mtime)


def write_phash_index(
    spark: SparkSession, sf_dir: str, artifact_dir: str
) -> str:
    """Build the corpus perceptual-signature table through the
    family's own builder (one implementation — the artifact cannot
    drift from the in-session frame) and persist it plus the
    self-describing meta row. Returns the signatures path."""
    from duckdb_gsheets_spark.operators.multimodal import phash_signatures

    sigs_path = os.path.join(artifact_dir, _SIGS_SUBDIR)
    phash_signatures(spark, sf_dir).write.mode("overwrite").parquet(
        sigs_path
    )
    path, mtime = _corpus_stamp(sf_dir)
    spark.createDataFrame(
        [(_phash_fingerprint(), path, mtime)],
        "fingerprint string, corpus_path string, corpus_mtime double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(artifact_dir, _META_SUBDIR)
    )
    return sigs_path


def load_phash_index(
    spark: SparkSession, sf_dir: str, artifact_dir: str
) -> DataFrame:
    """Load a persisted signature table, refusing an artifact whose
    config fingerprint OR corpus stamp disagrees with this session's
    constants and live corpus."""
    meta = spark.read.parquet(
        os.path.join(artifact_dir, _META_SUBDIR)
    ).collect()
    fp = _phash_fingerprint()
    live = _corpus_stamp(sf_dir)
    stamped = {
        (r.fingerprint, r.corpus_path, float(r.corpus_mtime)) for r in meta
    }
    if stamped != {(fp, live[0], live[1])}:
        raise ValueError(
            f"phash index at {artifact_dir!r} does not match this "
            f"session (stamped {sorted(stamped)!r}, expected "
            f"{(fp, live[0], live[1])!r}) — the signature constants or "
            "the corpus changed since the index was written; rebuild "
            "with write_phash_index"
        )
    return spark.read.parquet(os.path.join(artifact_dir, _SIGS_SUBDIR))
