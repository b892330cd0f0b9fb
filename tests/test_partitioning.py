"""Hive-partitioned parquet over a catalog table: the scan-pruning claim.

The layout is one ``write.partitionBy`` of ``load_table``'s frame; the
partition keys come back as columns rebuilt from the directory names.
Central assertions: a literal predicate on the partition key becomes a
planning-time ``PartitionFilters`` entry (static pruning); a runtime
join filter becomes a ``dynamicpruningexpression`` (DPP); and pruning
is real — a deliberately corrupted file inside a pruned-away partition
is never opened, while the unpruned scan trips over it.
"""

import os

import pytest
from pyspark.sql import functions as F

from duckdb_gsheets_spark.plans.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_by_lang(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout") / "documents_by_lang")
    load_table(spark, SF, "documents").write.partitionBy("lang").parquet(out)
    return out


def _physical(df):
    return (
        df._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    )


def test_partition_key_filter_prunes_at_plan_time(spark, docs_by_lang):
    """lang = 'en' must land in PartitionFilters (directory pruning),
    not in per-row DataFilters."""
    docs = spark.read.parquet(docs_by_lang)
    plan = _physical(docs.where(F.col("lang") == "en"))
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    pf = scan.split("PartitionFilters: ")[-1]
    assert "lang" in pf and "= en" in pf, scan
    assert "DataFilters: []" in scan, scan


def test_join_filter_prunes_dynamically(spark, docs_by_lang):
    """A filter that reaches the partition key THROUGH a join (the
    star-schema case) must inject dynamic partition pruning on the
    fact scan."""
    docs = spark.read.parquet(docs_by_lang)
    dim = spark.createDataFrame(
        [("en", 1), ("fr", 0), ("de", 0), ("es", 0), ("zh", 0)],
        "lang string, keep int",
    )
    q = docs.join(dim.where(F.col("keep") == 1), "lang").select(
        "doc_id", "lang"
    )
    plan = _physical(q)
    assert "dynamicpruningexpression" in plan, plan


def test_pruned_partition_is_never_read(spark, docs_by_lang):
    """Behavioral proof: a corrupt parquet file planted inside a
    partition the predicate excludes must not break the query — the
    pruned scan never opens it. The unfiltered scan must trip on it."""
    fr_dir = os.path.join(docs_by_lang, "lang=fr")
    assert os.path.isdir(fr_dir)  # layout wrote real hive directories
    bomb = os.path.join(fr_dir, "part-corrupt.parquet")
    with open(bomb, "wb") as f:
        f.write(b"this is not a parquet file")
    try:
        docs = spark.read.parquet(docs_by_lang)
        n_en = docs.where(F.col("lang") == "en").count()
        assert n_en > 0
        with pytest.raises(Exception):
            docs.count()
    finally:
        os.remove(bomb)


def test_partitioned_read_matches_plain(spark, docs_by_lang):
    """Layout is storage strategy only — the partitioned read filtered
    to one language returns exactly the plain table's rows (partition
    keys round-trip through directory names)."""
    got = sorted(
        (r.doc_id, r.lang, r.n_chars)
        for r in spark.read.parquet(docs_by_lang)
        .where(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    want = sorted(
        (r.doc_id, r.lang, r.n_chars)
        for r in load_table(spark, SF, "documents")
        .where(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    assert got == want and got
