"""Persisted ExactSubstr suffix-spine artifact (write-once/read-many).

The ExactSubstr family (``dedup_longest_substring``,
``dedup_substring_scrub``, ``pipeline_exactsubstr_corpus``/``_apply``)
shares two index artifacts — the range-partitioned capped suffix
table and the tied-rows extension table (``operators.dedup
._lrs_tables``). Within one session they are built once and memoized,
but every NEW session pays the full distributed suffix sort again —
at 100 TB that build is the dominant cost of the family, and it is
pure recomputation whenever the corpus is unchanged.

This module pays one artifact WRITE, then every later session LOADS
the spine instead of rebuilding it. The artifact is plain
parquet — the spine's global suffix order is carried entirely by the
``pid`` column plus the within-partition ``(ks, doc_id, pos)`` sort
key, both data columns, so a parquet round-trip preserves the
contract regardless of physical file layout (nothing downstream
recomputes ``spark_partition_id()``; the candidate tiling windows on
the ``pid`` COLUMN).

Usage::

    write_lrs_spine(spark, sf_dir, art_dir)     # once, after ingest
    register_lrs_spine(spark, sf_dir, art_dir)  # per session
    # ... every ExactSubstr query now consumes the prebuilt spine

``register_lrs_spine`` seeds the family's session memo under exactly
the key the builders use, so the registered queries need no code
changes and the driver's standalone contract (no artifact dir → build
in-session) is untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_SPINE_SUBDIR = "lrs_spine"
_EXT_SUBDIR = "lrs_ext"
_META_SUBDIR = "lrs_meta"


def _paths(artifact_dir: str) -> tuple[str, str]:
    return (
        os.path.join(artifact_dir, _SPINE_SUBDIR),
        os.path.join(artifact_dir, _EXT_SUBDIR),
    )


def _corpus_stamp(spark: SparkSession, sf_dir: str) -> tuple[str, float]:
    """The corpus identity the artifact is stamped with — the same
    ``(path, mtime)`` pair the family's session memo keys on
    (``operators.dedup._lrs_cache_key``), so stamp equality IS memo-key
    equality minus the session id."""
    from duckdb_gsheets_spark.operators import dedup as D

    _app, path, mtime = D._lrs_cache_key(spark, sf_dir)
    return path, float(mtime)


def write_lrs_spine(
    spark: SparkSession, sf_dir: str, artifact_dir: str
) -> tuple[str, str]:
    """Build the suffix spine + extension table for ``sf_dir``'s
    corpus and persist both as parquet under ``artifact_dir``;
    returns the two written paths. The build goes through the
    family's own builders (one implementation — the artifact cannot
    drift from the in-session spine), and the just-built frames are
    installed in the session memo so the writing session itself also
    skips a rebuild."""
    from duckdb_gsheets_spark.operators import dedup as D

    ranged, ext = D._lrs_tables(spark, sf_dir)
    spine_path, ext_path = _paths(artifact_dir)
    ranged.write.mode("overwrite").parquet(spine_path)
    ext.write.mode("overwrite").parquet(ext_path)
    # Stamp the corpus identity the spine was built FROM (path +
    # mtime, the memo key's corpus half) so register_lrs_spine can
    # refuse a stale artifact loudly — the sharded-Bloom loader's
    # fingerprint pattern. One tiny parquet row keeps the artifact
    # self-describing on any filesystem the spine itself lives on.
    path, mtime = _corpus_stamp(spark, sf_dir)
    spark.createDataFrame(
        [("lrs-spine-v1", path, mtime)],
        "version string, corpus_path string, corpus_mtime double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(artifact_dir, _META_SUBDIR)
    )
    return spine_path, ext_path


def load_lrs_spine(
    spark: SparkSession, artifact_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Read back a persisted spine as the ``(ranged, ext)`` pair the
    family consumes. Plain parquet reads — the artifact IS the
    materialization, so no further checkpoint is needed; repeated
    consumers re-scan bounded columnar files exactly like every other
    trained-index artifact (the ANN family's pattern)."""
    spine_path, ext_path = _paths(artifact_dir)
    return spark.read.parquet(spine_path), spark.read.parquet(ext_path)


def register_lrs_spine(
    spark: SparkSession, sf_dir: str, artifact_dir: str
) -> None:
    """Point this session's ExactSubstr family at the persisted spine
    for ``sf_dir``: every subsequent family query loads the artifact
    instead of running the distributed suffix sort. The memo key
    includes the corpus mtime, so a corpus rewritten AFTER
    registration naturally stops matching and rebuilds fresh; a spine
    written BEFORE a corpus rewrite is refused here by the stamped
    corpus fingerprint (registering it under the current mtime key
    would silently serve stale suffix tables — the same loud-refusal
    contract as ``chunking.load_bloom_artifact_sharded``)."""
    from duckdb_gsheets_spark.operators import dedup as D

    live_path, live_mtime = _corpus_stamp(spark, sf_dir)
    try:
        meta = spark.read.parquet(
            os.path.join(artifact_dir, _META_SUBDIR)
        ).collect()
    except Exception as exc:  # pre-meta artifact: missing subdir reads
        # as a raw AnalysisException — surface the same friendly
        # rebuild contract as a stale stamp instead.
        raise ValueError(
            f"LRS spine artifact at {artifact_dir!r} has no readable "
            f"corpus-stamp metadata ({type(exc).__name__}) — it predates "
            "the stamped-artifact format or is incomplete; rebuild with "
            "write_lrs_spine"
        ) from exc
    stamped = {(r.version, r.corpus_path, float(r.corpus_mtime)) for r in meta}
    if stamped != {("lrs-spine-v1", live_path, live_mtime)}:
        raise ValueError(
            f"LRS spine artifact at {artifact_dir!r} was built from a "
            f"different corpus state (stamped {sorted(stamped)!r}, live "
            f"{('lrs-spine-v1', live_path, live_mtime)!r}) — the corpus "
            "changed since the spine was written; rebuild with "
            "write_lrs_spine"
        )
    key = D._lrs_cache_key(spark, sf_dir)
    D._lrs_cache_put(key, load_lrs_spine(spark, artifact_dir))
