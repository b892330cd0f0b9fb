"""Composed training-data pipeline: the flagship end-to-end shape a
100 TB corpus build actually runs — language filter → quality gate →
exact dedup → per-source corpus stats — as ONE declarative plan, so
Catalyst fuses the scalar stages into the scan and the whole thing
costs two shuffles (dedup fingerprint, final rollup).

Every stage reuses the oracle-locked builders from functions.text and
operators.determinism, so the full composition stays hash-checkable
against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.functions import text as T
from duckdb_gsheets_spark.operators.determinism import davg, oracle_davg
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import load_table

QUALITY_THRESHOLD = 0.5


def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English, above-threshold-quality, deduplicated corpus rolled up
    per source: docs kept, BPE tokens kept, mean quality.

    Dedup keeps the lowest doc_id per fingerprint (deterministic
    survivor rule) — expressed as ``min_by`` aggregation rather than a
    row_number window: the hash aggregate combines map-side, so the
    fingerprint shuffle carries one partial row per (fingerprint,
    mapper) instead of the window's full sorted row stream.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    enriched = docs.select(
        "doc_id",
        "source",
        T.language_id(c).alias("detected_lang"),
        T.quality_score(c).alias("quality"),
        T.fingerprint(c).alias("fingerprint"),
        T.bpe_token_count(c).alias("n_bpe_tokens"),
    )
    gated = enriched.where(
        (F.col("detected_lang") == "en")
        & (F.col("quality") >= QUALITY_THRESHOLD)
    )
    survivors = gated.groupBy("fingerprint").agg(
        F.min_by(
            F.struct("source", "quality", "n_bpe_tokens"), F.col("doc_id")
        ).alias("s")
    )
    return survivors.groupBy(F.col("s.source").alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("s.n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.round(davg(F.col("s.quality"), scale=6), 6).alias("mean_quality"),
    )


PIPELINE_ORACLE = f"""
WITH enriched AS (
  SELECT
    doc_id, source,
    {T.oracle_language_id()} AS detected_lang,
    {T.oracle_quality_score()} AS quality,
    {T.oracle_fingerprint()} AS fingerprint,
    len(regexp_extract_all(text, '{T.BPE_TOKEN_PATTERN}')) AS n_bpe_tokens
  FROM documents
), gated AS (
  SELECT * FROM enriched
  WHERE detected_lang = 'en' AND quality >= {QUALITY_THRESHOLD}
), survivors AS (
  SELECT * FROM gated
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       ROUND({oracle_davg('quality', scale=6)}, 6) AS mean_quality
FROM survivors
GROUP BY source
"""


def pipeline_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 flagship composition: Gopher rule gate → exact dedup
    (min-doc_id survivor) → language-rebalancing resample, rolled up
    per language — the full intake-to-mixture path a curated corpus
    build runs, as one declarative plan.

    Stage reuse keeps it hash-checkable end to end: the gate is
    operators.text.gopher_rules (exact integer rules), the survivor
    rule is the map-side-combinable ``min_by`` aggregate, and the
    keep-filter is operators.curation's integer-threshold gate
    computed FROM the gated+deduped corpus (thresholds re-derive after
    upstream filtering, as a real build would). Shuffle ledger: dedup
    fingerprint agg + two |lang|-row aggs + broadcast joins + final
    |lang|-row rollup — the corpus itself shuffles once.
    """
    from duckdb_gsheets_spark.operators.curation import (
        resample_keep_cond,
        resample_thresholds,
    )
    from duckdb_gsheets_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    c = F.col("text")
    pre = docs.select(
        "doc_id",
        "lang",
        "text",
        T.fingerprint(c).alias("fingerprint"),
        T.token_count(c).alias("n_toks"),
    )
    flags = gopher_rules(pre, carry=("lang", "fingerprint", "n_toks"))
    gated = flags.where(F.col("passes") == 1).select(
        "doc_id", "lang", "fingerprint", "n_toks"
    )
    survivors = (
        gated.groupBy("fingerprint")
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "n_toks"), F.col("doc_id")
            ).alias("s")
        )
        .select(
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.lang").alias("lang"),
            F.col("s.n_toks").alias("n_tokens"),
        )
    )
    thresholds = resample_thresholds(survivors)
    kept = survivors.join(F.broadcast(thresholds), "lang").where(
        resample_keep_cond()
    )
    return (
        kept.groupBy("lang", "n_docs_in", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("n_tokens_kept"),
        )
        .select(
            "lang",
            "n_docs_in",
            "n_docs_kept",
            "n_tokens_kept",
            F.round(
                F.col("n_docs_kept").cast("double") / F.col("n_docs_in"), 6
            ).alias("doc_keep_rate"),
        )
    )


def _curated_oracle() -> str:
    from duckdb_gsheets_spark.operators.curation import RESAMPLE_GRID

    return f"""
WITH pre AS (
  SELECT doc_id, lang,
         {T.oracle_fingerprint()} AS fingerprint,
         CAST(len({T.oracle_tokens()}) AS BIGINT) AS n_toks,
         CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonspace,
         CAST(len(list_filter({T.oracle_tokens()},
                              t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha_tokens,
         CAST({T.oracle_stopword_hits_total()} AS BIGINT) AS n_stopwords,
         CAST(len(regexp_extract_all(text, '{T.PUNCT_PATTERN}')) AS BIGINT) AS n_symbols
  FROM documents WHERE text IS NOT NULL
), gated AS (
  SELECT doc_id, lang, fingerprint, n_toks
  FROM pre
  WHERE (100 * n_nonspace) // n_toks BETWEEN 300 AND 1000
    AND n_alpha_tokens * 100 >= n_toks * 80
    AND n_stopwords >= 2
    AND n_symbols * 4 <= n_toks
), survivors AS (
  SELECT doc_id, lang, n_toks AS n_tokens FROM gated
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
), by_lang AS (
  SELECT lang, COUNT(*) AS n_docs_in, SUM(n_tokens) AS lang_tokens
  FROM survivors GROUP BY lang
), totals AS (
  SELECT SUM(lang_tokens) AS total_tokens, COUNT(*) AS n_langs FROM by_lang
), thresholds AS (
  SELECT lang, n_docs_in,
         LEAST({RESAMPLE_GRID}, (total_tokens * {RESAMPLE_GRID})
               // (n_langs * lang_tokens)) AS threshold
  FROM by_lang, totals
), kept AS (
  SELECT s.lang, s.n_tokens, h.n_docs_in
  FROM survivors s JOIN thresholds h ON s.lang = h.lang
  WHERE h.threshold >= {RESAMPLE_GRID}
     OR UPPER(SUBSTRING(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))
        < LPAD(to_hex(h.threshold), 8, '0')
)
SELECT lang, n_docs_in, COUNT(*) AS n_docs_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept,
       ROUND(CAST(COUNT(*) AS DOUBLE) / n_docs_in, 6) AS doc_keep_rate
FROM kept
GROUP BY lang, n_docs_in
"""


def corpus_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics on the corpus: apply an update batch
    (new revisions of every 7th document, normalized text) to the base
    table — update-wins on key match, inserts pass through, untouched
    rows survive.

    Expressed as a full-outer join on the key with ``coalesce``
    per-column — the engine-level MERGE INTO shape. One shuffle on
    doc_id (both sides hash-partition on the key, so they co-locate).
    At 100 TB the update batch is usually ≪ base, so Catalyst/AQE
    picks a broadcast for it; the result here recomputes fingerprints
    so the merge is value-verifiable.
    """
    base = load_table(spark, sf_dir, "documents")
    # Deterministic synthetic CDC batch: every 7th doc re-ingested
    # with normalized text, plus one brand-new doc id past the key
    # space (max+1 via a 1-row broadcast agg).
    max_id = base.agg(F.max("doc_id").alias("max_id"))
    updates = (
        base.where(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            T.normalized(F.col("text")).alias("text"),
            "lang",
            F.lit("cdc").alias("source"),
        )
        .unionByName(
            max_id.select(
                (F.col("max_id") + 1).alias("doc_id"),
                F.lit("a brand new document").alias("text"),
                F.lit("en").alias("lang"),
                F.lit("cdc").alias("source"),
            )
        )
    )
    merged = base.select(
        "doc_id",
        F.col("text").alias("base_text"),
        F.col("lang").alias("base_lang"),
        F.col("source").alias("base_source"),
    ).join(
        updates.select(
            "doc_id",
            F.col("text").alias("upd_text"),
            F.col("lang").alias("upd_lang"),
            F.col("source").alias("upd_source"),
        ),
        "doc_id",
        "full_outer",
    )
    return merged.select(
        "doc_id",
        F.md5(F.coalesce("upd_text", "base_text")).alias("text_md5"),
        F.coalesce("upd_lang", "base_lang").alias("lang"),
        F.coalesce("upd_source", "base_source").alias("source"),
        F.when(F.col("upd_text").isNotNull() & F.col("base_text").isNotNull(), "updated")
        .when(F.col("upd_text").isNotNull(), "inserted")
        .otherwise("unchanged")
        .alias("merge_action"),
    )


CORPUS_UPSERT_ORACLE = f"""
WITH updates AS (
  SELECT doc_id, {T.oracle_normalized()} AS text, lang, 'cdc' AS source
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
         'a brand new document' AS text, 'en' AS lang, 'cdc' AS source
)
SELECT COALESCE(b.doc_id, u.doc_id) AS doc_id,
       md5(COALESCE(u.text, b.text)) AS text_md5,
       COALESCE(u.lang, b.lang) AS lang,
       COALESCE(u.source, b.source) AS source,
       CASE WHEN u.text IS NOT NULL AND b.text IS NOT NULL THEN 'updated'
            WHEN u.text IS NOT NULL THEN 'inserted'
            ELSE 'unchanged' END AS merge_action
FROM documents b FULL OUTER JOIN updates u ON b.doc_id = u.doc_id
"""


#: SCD2 snapshot count and the deterministic per-version mutation
#: rules (who is updated / deleted in each snapshot).
SCD2_VERSIONS = 3
_SCD2_ABSENT = "__absent__"


def _scd2_state(version: int) -> str:
    """DuckDB CASE expression for a doc's content hash at ``version``
    (``_SCD2_ABSENT`` when the doc is deleted in that snapshot). The
    Spark builder mirrors this branch-for-branch."""
    if version == 1:
        return "md5(text)"
    upd7 = f"md5({T.oracle_normalized()})"
    if version == 2:
        return (
            f"CASE WHEN doc_id % 13 = 0 THEN '{_SCD2_ABSENT}' "
            f"WHEN doc_id % 7 = 0 THEN {upd7} ELSE md5(text) END"
        )
    return (
        f"CASE WHEN doc_id % 13 = 0 THEN '{_SCD2_ABSENT}' "
        f"WHEN doc_id % 5 = 0 THEN md5(upper(text)) "
        f"WHEN doc_id % 7 = 0 THEN {upd7} ELSE md5(text) END"
    )


def corpus_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history of the corpus across
    ``SCD2_VERSIONS`` deterministic snapshots — the versioned-corpus
    ledger a reproducible training run pins its data lineage to
    (Kimball SCD type 2 over snapshot ingests).

    Snapshot rules (synthetic but deterministic, like the upsert's CDC
    batch): v1 is the base corpus; from v2 every 13th doc is deleted
    and every 7th re-ingested with normalized text; v3 additionally
    re-ingests every 5th doc uppercased. The operator itself is the
    general gaps-and-islands build: one row per (doc, unbroken run of
    identical content), with the version interval and a current flag.

    Plan shape, sized for 100 TB: the version grid is a NARROW
    explode (corpus × SCD2_VERSIONS, fused into the scan — no join
    against snapshot tables because the mutations are expressions),
    then ONE hash-partition on doc_id serves both the change-point
    window and the island rollup (same key → Catalyst reuses the
    exchange). No broadcast, no skew (doc_id is unique per partition
    stream).
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    base_md5 = F.md5("text")
    upd7 = F.md5(T.normalized(F.col("text")))
    upd5 = F.md5(F.upper("text"))
    state = (
        F.when(F.col("version") == 1, base_md5)
        .when(F.col("doc_id") % 13 == 0, F.lit(_SCD2_ABSENT))
        .when(F.col("version") == 3,
              F.when(F.col("doc_id") % 5 == 0, upd5)
              .when(F.col("doc_id") % 7 == 0, upd7)
              .otherwise(base_md5))
        .when(F.col("doc_id") % 7 == 0, upd7)
        .otherwise(base_md5)
    )
    grid = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.lit(SCD2_VERSIONS))
        ).alias("v"),
        "text",
    ).select(
        "doc_id", F.col("v").cast("long").alias("version"), "text"
    ).select("doc_id", "version", state.alias("state"))
    return scd2_intervals(grid, n_versions=SCD2_VERSIONS)


def scd2_intervals(grid: DataFrame, n_versions: int) -> DataFrame:
    """Generic gaps-and-islands SCD2 build over a
    ``(doc_id, version, state)`` grid: one row per unbroken run of
    identical state, with the version interval and a current flag;
    ``_SCD2_ABSENT`` runs (deletions) close intervals but emit no row.
    Single doc_id hash partition serves the change-point window and
    the island rollup."""
    w = Window.partitionBy("doc_id").orderBy("version")
    islands = (
        grid.withColumn(
            "chg",
            (
                F.coalesce(
                    F.lag("state").over(w) != F.col("state"), F.lit(True)
                )
            ).cast("long"),
        )
        .withColumn(
            "island",
            F.sum("chg").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        islands.where(F.col("state") != _SCD2_ABSENT)
        .groupBy("doc_id", "island", "state")
        .agg(
            F.min("version").alias("valid_from"),
            F.max("version").alias("valid_to"),
        )
        .select(
            "doc_id",
            F.col("state").alias("text_md5"),
            "valid_from",
            "valid_to",
            (F.col("valid_to") == n_versions).alias("is_current"),
        )
    )


CORPUS_SCD2_ORACLE = f"""
WITH grid AS (
  SELECT doc_id, version,
         CASE version
           WHEN 1 THEN {_scd2_state(1)}
           WHEN 2 THEN ({_scd2_state(2)})
           ELSE ({_scd2_state(3)})
         END AS state
  FROM documents CROSS JOIN range(1, {SCD2_VERSIONS} + 1) AS r(version)
  WHERE text IS NOT NULL
), flagged AS (
  SELECT doc_id, version, state,
         CASE WHEN state IS DISTINCT FROM
                   LAG(state) OVER (PARTITION BY doc_id ORDER BY version)
              THEN 1 ELSE 0 END AS chg
  FROM grid
), islands AS (
  SELECT doc_id, version, state,
         SUM(chg) OVER (PARTITION BY doc_id ORDER BY version
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT doc_id, state AS text_md5,
       MIN(version) AS valid_from, MAX(version) AS valid_to,
       MAX(version) = {SCD2_VERSIONS} AS is_current
FROM islands
WHERE state <> '{_SCD2_ABSENT}'
GROUP BY doc_id, island, state
"""


#: The snapshot pair the as-of diff compares (full version span: v1 is
#: the base ingest, v3 carries both mutation waves and the deletions).
SCD2_DIFF_FROM = 1
SCD2_DIFF_TO = 3


def scd2_diff_from_ledger(
    ledger: DataFrame, v_from: int, v_to: int
) -> DataFrame:
    """Generic point-in-time diff over an SCD2 interval ledger: the
    state as of ``v_from`` full-outer-joined to the state as of
    ``v_to`` on doc_id, classified added/deleted/changed/unchanged.

    As-of reconstruction is the read path an SCD2 ledger exists FOR:
    ``valid_from <= v <= valid_to`` is a partition-prunable filter, so
    a snapshot never replays history. The diff then shuffles only the
    two snapshot projections (doc_id + 32-char hash), never text.
    """
    at_from = ledger.where(
        (F.col("valid_from") <= v_from) & (F.col("valid_to") >= v_from)
    ).select("doc_id", F.col("text_md5").alias("md5_before"))
    at_to = ledger.where(
        (F.col("valid_from") <= v_to) & (F.col("valid_to") >= v_to)
    ).select("doc_id", F.col("text_md5").alias("md5_after"))
    status = (
        F.when(F.col("md5_before").isNull(), F.lit("added"))
        .when(F.col("md5_after").isNull(), F.lit("deleted"))
        .when(F.col("md5_before") == F.col("md5_after"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return at_from.join(at_to, "doc_id", "full_outer").select(
        "doc_id", "md5_before", "md5_after", status.alias("status")
    )


def scd2_asof_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What changed between two pinned corpus snapshots, answered from
    the SCD2 ledger alone — the audit a reproducible training run does
    before re-training on a new corpus version ("how much moved?").

    Composes :func:`corpus_scd2_history` (the interval ledger) with
    :func:`scd2_diff_from_ledger` (as-of reconstruction + full-outer
    diff). An SCD2 interval row serves ANY version's snapshot with one
    filter, so diffing v1→v3 costs two filters + one doc_id join —
    raw snapshots are never materialized. On this corpus the diff
    classes are deleted (every 13th doc), changed (the normalize and
    uppercase waves where they alter content), and unchanged;
    ``added`` requires a reappearing doc and is exercised by the
    synthetic-ledger pytest.
    """
    return scd2_diff_from_ledger(
        corpus_scd2_history(spark, sf_dir), SCD2_DIFF_FROM, SCD2_DIFF_TO
    )


SCD2_ASOF_DIFF_ORACLE = f"""
WITH ledger AS ({CORPUS_SCD2_ORACLE}),
s_before AS (
  SELECT doc_id, text_md5 AS md5_before FROM ledger
  WHERE valid_from <= {SCD2_DIFF_FROM} AND valid_to >= {SCD2_DIFF_FROM}
), s_after AS (
  SELECT doc_id, text_md5 AS md5_after FROM ledger
  WHERE valid_from <= {SCD2_DIFF_TO} AND valid_to >= {SCD2_DIFF_TO}
)
SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
       b.md5_before,
       a.md5_after,
       CASE WHEN b.md5_before IS NULL THEN 'added'
            WHEN a.md5_after IS NULL THEN 'deleted'
            WHEN b.md5_before = a.md5_after THEN 'unchanged'
            ELSE 'changed' END AS status
FROM s_before b FULL OUTER JOIN s_after a ON b.doc_id = a.doc_id
"""


def pipeline_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third composed pipeline: hash-split the corpus, exact-dedup
    WITHIN each split, then remove from train every doc whose content
    also appears in val/test (eval keeps priority — the standard
    train-side decontamination rule), and account for every document:
    per (split, lang) — docs in, in-split duplicates removed,
    cross-split leaks removed from train, docs and tokens kept.

    One fingerprint computation feeds all three stages; the whole
    composition is ONE hash shuffle on the fingerprint (the
    first-occurrence window and the eval-presence flag share the
    partitioning) plus the final splits×langs rollup. At 100 TB
    that's the same ledger as the standalone exact dedup — the
    split/leak logic rides along as window expressions.
    """
    from duckdb_gsheets_spark.operators.sampling import split_col

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    base = docs.select(
        "doc_id",
        "lang",
        split_col().alias("split"),
        T.fingerprint(F.col("text")).alias("fp"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    # Single fp partition serves both flags: ordering by (split,
    # doc_id) makes each (fp, split) group CONTIGUOUS, so "duplicate
    # within my split" is just lag(split) == split — no second
    # (fp, split)-keyed shuffle.
    w_ord = Window.partitionBy("fp").orderBy("split", "doc_id")
    w_fp = Window.partitionBy("fp")
    flagged = (
        base.withColumn(
            "is_dup",
            F.lag("split").over(w_ord).eqNullSafe(F.col("split")),
        )
        .withColumn(
            "in_eval",
            F.max((F.col("split") != "train").cast("int")).over(w_fp),
        )
        .withColumn(
            "status",
            F.when(F.col("is_dup"), "dup_removed")
            .when(
                (F.col("split") == "train") & (F.col("in_eval") == 1),
                "leak_removed",
            )
            .otherwise("kept"),
        )
    )
    kept = F.col("status") == "kept"
    return flagged.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs_in"),
        F.sum((F.col("status") == "dup_removed").cast("long")).alias(
            "n_dup_removed"
        ),
        F.sum((F.col("status") == "leak_removed").cast("long")).alias(
            "n_leak_removed"
        ),
        F.sum(kept.cast("long")).alias("n_docs_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).cast("long").alias(
            "tokens_kept"
        ),
    )


def _split_pipeline_oracle() -> str:
    from duckdb_gsheets_spark.operators.sampling import oracle_split_case

    return f"""
WITH base AS (
  SELECT doc_id, lang,
         {oracle_split_case()} AS split,
         {T.oracle_fingerprint()} AS fp,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n_tokens
  FROM documents WHERE text IS NOT NULL
), flagged AS (
  SELECT split, lang, n_tokens,
         LAG(split) OVER (PARTITION BY fp ORDER BY split, doc_id)
           IS NOT DISTINCT FROM split AS is_dup,
         MAX(CASE WHEN split <> 'train' THEN 1 ELSE 0 END)
           OVER (PARTITION BY fp) AS in_eval
  FROM base
), statused AS (
  SELECT split, lang, n_tokens,
         CASE WHEN is_dup THEN 'dup_removed'
              WHEN split = 'train' AND in_eval = 1 THEN 'leak_removed'
              ELSE 'kept' END AS status
  FROM flagged
)
SELECT split, lang,
       COUNT(*) AS n_docs_in,
       CAST(SUM(CASE WHEN status = 'dup_removed' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup_removed,
       CAST(SUM(CASE WHEN status = 'leak_removed' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_leak_removed,
       CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_kept,
       CAST(SUM(CASE WHEN status = 'kept' THEN n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_kept
FROM statused
GROUP BY 1, 2
"""


#: CCNet tail policy: head+middle kept whole; the tail (highest-xent
#: third) is down-sampled to ~1/4 by the deterministic hash-Bernoulli
#: rule — first 8 md5 hex digits of doc_id below this comparand
#: (0x40000000 / 2^32 = 25%). Same digest rule as corpus_resample.
CCNET_TAIL_KEEP_HEX = "40000000"


def pipeline_ccnet_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-gated corpus build (Wenzek et al., LREC
    2020): score every document against the corpus's own unigram LM
    (the shared ``_doc_xent`` core), split each language into xent
    terciles, keep ``head`` and ``middle`` whole, and down-sample the
    ``tail`` to ~25% with the deterministic md5 hash-Bernoulli rule —
    CCNet's actual production policy, composed the way
    :func:`pipeline_curated_corpus` composes the Gopher gate. Output
    is the release ledger per (lang, bucket): documents in, documents
    and tokens kept, keep rate.

    Shuffle ledger: the xent core's token explode + vocab agg
    (broadcast back), ONE range-partition for the grouped prefix-sum
    tercile rank (``curation.lang_tercile_ranked`` — no per-language
    window funnel), then a |langs|×3-row rollup. The keep decision is
    a per-row hash compare fused into the scan of the ranked table —
    no extra shuffle, no collect; at 100 TB the corpus moves twice
    (explode agg, range partition), same as the standalone tertile
    audit.
    """
    from duckdb_gsheets_spark.operators.curation import (
        _doc_xent,
        lang_tercile_ranked,
    )

    scored = _doc_xent(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "lang", "n_tokens", "unigram_xent")
    ranked = lang_tercile_ranked(scored)
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        (F.col("tercile") + 1).cast("int"),
    )
    kept = (F.col("tercile") < 2) | (
        F.upper(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8))
        < F.lit(CCNET_TAIL_KEEP_HEX)
    )
    return ranked.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_docs_kept"),
        F.sum(
            F.when(kept, F.col("n_tokens").cast("long")).otherwise(0)
        ).alias("tok_kept"),
        F.round(
            F.sum(kept.cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("keep_rate"),
    )


def _ccnet_oracle() -> str:
    from duckdb_gsheets_spark.operators.curation import _xent_core_sql

    return f"""
WITH {_xent_core_sql()},
cc_ranked AS (
  SELECT doc_id, lang, n_tokens, unigram_xent,
         (ROW_NUMBER() OVER (PARTITION BY lang
                             ORDER BY unigram_xent, doc_id) - 1) * 3
           // COUNT(*) OVER (PARTITION BY lang) AS tercile
  FROM xent
), cc_flag AS (
  SELECT lang,
         ['head', 'middle', 'tail'][CAST(tercile + 1 AS INTEGER)] AS bucket,
         n_tokens,
         CASE WHEN tercile < 2
                OR UPPER(SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   < '{CCNET_TAIL_KEEP_HEX}'
              THEN 1 ELSE 0 END AS kept
  FROM cc_ranked
)
SELECT lang, bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_docs_kept,
       CAST(SUM(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tok_kept,
       ROUND(CAST(SUM(kept) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS keep_rate
FROM cc_flag
GROUP BY lang, bucket
"""


#: DoReMi smoothing: final mixture = (1 − 1/DEN)·softmax + (1/DEN)/k
#: uniform (Xie et al. 2023 eq. 3's smoothing term), all in exact
#: micro-unit integer arithmetic.
DOREMI_SMOOTH_DEN = 100

#: Saturation cap on the excess-loss signal, in micro-nats (8 nats).
#: The EG weight rides ``es = round(exp(excess)·1e9)`` and the mixture
#: share is ``es·1e6 div Σes`` — without a cap, int64 overflows once a
#: domain's excess passes ~9.1 nats (``es·1e6 > 2^63``), and Spark's
#: non-ANSI wrap would silently diverge from DuckDB's out-of-range
#: error. At 8 nats the capped domain already takes ≥ 99.97% of the
#: softmax against any runner-up at the corpus mean (e^8 ≈ 2981), so
#: the clamp costs < 0.04% of mixture mass in the regime where it
#: binds — a saturated hard-domain signal, not a different answer.
#: Bound check: es ≤ e^8·1e9 < 2.99e12, es·1e6 < 2.99e18 < 2^63.
DOREMI_EXCESS_CAP_MICRO = 8_000_000


def _doremi_dom_rows(spark: SparkSession, sf_dir: str) -> list:
    """The per-domain xent tally both DoReMi operators share — the
    bounded artifact (≤|langs| rows): ONE action collects it, the
    corpus totals fold to exact Python integer sums, and the table
    re-enters the plan as a LOCAL relation — re-referencing the
    grouped frame lazily would re-expand the whole corpus xent
    subtree into every downstream branch (a first cut of the
    single-step operator planned 12 scans). All driver arithmetic on
    these rows is floor division of non-negative exact integers —
    identical to Spark ``div`` and DuckDB ``//``."""
    from duckdb_gsheets_spark.operators.curation import _doc_xent

    per_doc = _doc_xent(load_table(spark, sf_dir, "documents")).select(
        "lang",
        "n_tokens",
        F.round(F.col("unigram_xent") * 1e6).cast("long").alias("xm"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("n_tokens"),
            F.sum("xm").alias("sxm"),
        )
        .collect()
    )


def pipeline_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style DOMAIN MIXTURE REWEIGHTING (Xie et al., NeurIPS
    2023), the deterministic analytics half: per language-domain,
    compute the EXCESS LOSS signal (domain mean unigram cross-entropy
    above the corpus mean — the hard-domain signal the paper's proxy
    model supplies; here the corpus's own LM, so the operator is
    exact and oracle-checkable), one exponentiated-gradient update
    ``w ∝ exp(excess)``, uniform smoothing, and the training-epoch
    multiplier ``w_domain / natural_token_share`` — the number a
    data-mixing pipeline actually consumes (how many times domain i's
    tokens are seen relative to uniform sampling).

    Every output is an exact micro-unit LONG: per-doc xent (already
    round-6) snaps to micro units, domain/corpus means are integer
    divisions of exact sums, the single ``exp`` snaps to the 1e9 grid
    (same device as the ln snaps corpus-wide), and weights/epochs are
    integer products and floor divisions — no float ever reaches the
    output, so the cross-engine hash has nothing to drift on.

    Shapes, sized for 100 TB: the xent core's one corpus pass (token
    explode + broadcast LM), one |domains|-row groupBy, then pure
    tiny-frame algebra — two 1-row broadcasts over the ≤|domains|-row
    table. Token tallies stay int64 here (micro-products bounded by
    1e12); a trillion-token corpus moves the share product to
    DECIMAL(38,0), the same note as the graph-stats moments. The
    excess signal saturates at ``DOREMI_EXCESS_CAP_MICRO`` (8 nats)
    so ``es·1e6`` provably fits int64 — an outlier rare-token domain
    on a huge corpus can sit tens of nats over the mean, and without
    the cap Spark would wrap where DuckDB raises (see the constant's
    note for the < 0.04% mass cost at the bind point).
    """
    dom_rows = _doremi_dom_rows(spark, sf_dir)
    nn = sum(int(r.n_docs) for r in dom_rows)
    tt = sum(int(r.n_tokens) for r in dom_rows)
    gmean = sum(int(r.sxm) for r in dom_rows) // nn
    k = len(dom_rows)
    dom = spark.createDataFrame(
        [
            (
                r.lang,
                int(r.n_docs),
                int(r.n_tokens),
                int(r.sxm) // int(r.n_docs),
                min(
                    max(0, int(r.sxm) // int(r.n_docs) - gmean),
                    DOREMI_EXCESS_CAP_MICRO,
                ),
            )
            for r in dom_rows
        ],
        "lang string, n_docs long, n_tokens long, "
        "mean_xent_micro long, excess_micro long",
    )
    scored = dom.withColumn(
        "es",
        F.round(
            F.exp(F.col("excess_micro").cast("double") / F.lit(1e6))
            * 1e9
        ).cast("long"),
    )
    es_tot = scored.agg(F.sum("es").alias("sum_es"))
    den = DOREMI_SMOOTH_DEN
    return (
        scored.crossJoin(F.broadcast(es_tot))
        .withColumn("tt", F.lit(tt).cast("long"))
        .withColumn("k", F.lit(k).cast("long"))
        .withColumn("weight_micro", F.expr("es * 1000000 div sum_es"))
        .withColumn(
            "weight_smoothed_micro",
            F.expr(
                f"({den - 1} * weight_micro) div {den}"
                f" + 1000000 div ({den} * k)"
            ),
        )
        .withColumn("share_micro", F.expr("n_tokens * 1000000 div tt"))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "mean_xent_micro",
            "excess_micro",
            "weight_micro",
            "weight_smoothed_micro",
            F.when(
                F.col("share_micro") > 0,
                F.expr("weight_smoothed_micro * 1000000 div share_micro"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("epochs_micro"),
        )
    )


def _doremi_oracle() -> str:
    from duckdb_gsheets_spark.operators.curation import _xent_core_sql

    den = DOREMI_SMOOTH_DEN
    cap = DOREMI_EXCESS_CAP_MICRO
    return f"""
WITH {_xent_core_sql()},
dm_doc AS (
  SELECT lang, n_tokens,
         CAST(ROUND(unigram_xent * 1e6) AS BIGINT) AS xm
  FROM xent
), dm_dom AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(xm) AS BIGINT) AS sxm
  FROM dm_doc GROUP BY lang
), dm_tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS nn,
         CAST(SUM(n_tokens) AS BIGINT) AS tt,
         CAST(SUM(sxm) AS BIGINT) AS sx,
         COUNT(*) AS k
  FROM dm_dom
), dm_es AS (
  SELECT d.lang, d.n_docs, d.n_tokens, t.tt, t.k,
         d.sxm // d.n_docs AS mean_xent_micro,
         LEAST(GREATEST(CAST(0 AS BIGINT),
                        d.sxm // d.n_docs - t.sx // t.nn),
               CAST({cap} AS BIGINT)) AS excess_micro,
         CAST(ROUND(EXP(CAST(LEAST(GREATEST(CAST(0 AS BIGINT),
                    d.sxm // d.n_docs - t.sx // t.nn),
                    CAST({cap} AS BIGINT)) AS DOUBLE) / 1e6)
                    * 1e9) AS BIGINT) AS es
  FROM dm_dom d, dm_tot t
), dm_se AS (
  SELECT CAST(SUM(es) AS BIGINT) AS sum_es FROM dm_es
)
SELECT lang, n_docs, n_tokens, mean_xent_micro, excess_micro,
       es * 1000000 // sum_es AS weight_micro,
       ({den - 1} * (es * 1000000 // sum_es)) // {den}
         + 1000000 // ({den} * k) AS weight_smoothed_micro,
       CASE WHEN n_tokens * 1000000 // tt > 0
            THEN (({den - 1} * (es * 1000000 // sum_es)) // {den}
                  + 1000000 // ({den} * k)) * 1000000
                 // (n_tokens * 1000000 // tt)
            ELSE CAST(0 AS BIGINT) END AS epochs_micro
FROM dm_es, dm_se
"""


#: Unrolled exponentiated-gradient rounds of the FULL DoReMi loop
#: (Xie et al. 2023, Algorithm 1). 4 rounds is where the sf-corpus
#: mixture visibly converges (the round-4 reference loss moves < 1%
#: of round 1's step); the unrolled-CTE oracle grows linearly in T.
DOREMI_EG_ROUNDS = 4


def pipeline_doremi_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting, the FULL multi-round exponentiated-
    gradient loop (Xie et al., NeurIPS 2023, Algorithm 1) — where
    :func:`pipeline_doremi_weights` takes ONE EG step against the
    fixed corpus-mean reference, this runs ``DOREMI_EG_ROUNDS``
    unrolled rounds with a PER-ROUND REFERENCE UPDATE: round t's
    excess loss for a domain is its mean xent above the
    CURRENT-MIXTURE-WEIGHTED corpus loss ``Σ w_{t-1}(d)·xent(d)``
    (the paper's reference model re-evaluated under the evolving
    mixture; here the corpus's own unigram LM, so the loop is exact
    and oracle-checkable), then ``w_t ∝ w_{t-1}·exp(excess_t)`` with
    per-round uniform smoothing (eq. 3). The iteration is a fixed
    point toward EQUALIZED domain losses: as mass shifts onto hard
    domains the weighted reference rises and their excess shrinks —
    the minimax behavior one step cannot express.

    Determinism: same micro-unit grid as the single-step operator —
    every round is integer arithmetic on the ≤|domains|-row tally
    except ONE exp per domain per round, which both engines evaluate
    as their native double exp and snap to the 1e9 grid (the proven
    single-step device); the raw update ``(w·mult) div 1e9`` floor-
    quantizes before the normalizing sum so every intermediate fits
    int64 under the ``DOREMI_EXCESS_CAP_MICRO`` saturation (w ≤ 1e6,
    mult ≤ e^8·1e9 < 3e12 → w·mult < 3e18 < 2^63).

    Shapes, sized for 100 TB: the corpus is touched ONCE (the shared
    ``_doremi_dom_rows`` tally); every EG round is bounded MODEL
    STATE the driver legitimately holds (the kmeans_lloyd /
    bpe_merge_iterative pattern) — exact Python big-int folds plus
    one k-row JVM exp snap per round — and the finished mixture
    re-enters Spark as a local relation. Rounds never rescan data,
    so T scales the tiny state loop, not the corpus cost. Oracle:
    generated round-for-round CTE replay (MATERIALIZED hints keep
    DuckDB 1.0 from re-inlining the corpus subtree 2^T times).
    """
    dom_rows = _doremi_dom_rows(spark, sf_dir)
    k = len(dom_rows)
    tt = sum(int(r.n_tokens) for r in dom_rows)
    langs = sorted(r.lang for r in dom_rows)
    xm = {r.lang: int(r.sxm) // int(r.n_docs) for r in dom_rows}
    info = {r.lang: (int(r.n_docs), int(r.n_tokens)) for r in dom_rows}
    _t, ref, ex, w = _doremi_eg_trajectory(spark, langs, xm)[-1]
    out = []
    for d in langs:
        n_docs, n_tokens = info[d]
        share = n_tokens * 1_000_000 // tt
        out.append(
            (
                d,
                n_docs,
                n_tokens,
                xm[d],
                ref,
                ex[d],
                w[d],
                (w[d] * 1_000_000 // share) if share > 0 else 0,
            )
        )
    return spark.createDataFrame(
        out,
        "lang string, n_docs long, n_tokens long, mean_xent_micro long, "
        "ref_micro long, excess_micro long, weight_micro long, "
        "epochs_micro long",
    )


def _doremi_eg_trajectory(
    spark: SparkSession, langs: list[str], xm: dict[str, int]
) -> list[tuple]:
    """The unrolled EG loop shared by :func:`pipeline_doremi_iterative`
    (which outputs the final round) and
    :func:`pipeline_doremi_trajectory` (which outputs every round):
    ``[(t, ref_micro, {lang: excess}, {lang: weight}), ...]`` for
    t = 1..DOREMI_EG_ROUNDS. Pure exact-integer driver arithmetic on
    the bounded ≤|domains|-row state except the per-round engine exp
    snap (see the iterative operator's determinism note)."""
    k = len(langs)
    den = DOREMI_SMOOTH_DEN
    cap = DOREMI_EXCESS_CAP_MICRO
    w = {lang: 1_000_000 // k for lang in langs}
    out = []
    for t in range(1, DOREMI_EG_ROUNDS + 1):
        ref = sum(w[d] * xm[d] for d in langs) // sum(w[d] for d in langs)
        ex = {d: min(max(0, xm[d] - ref), cap) for d in langs}
        mult = _exp_snap_1e9(spark, set(ex.values()))
        raw = {d: (w[d] * mult[ex[d]]) // 1_000_000_000 for d in langs}
        sraw = sum(raw.values())
        w = {
            d: ((den - 1) * (raw[d] * 1_000_000 // sraw)) // den
            + 1_000_000 // (den * k)
            for d in langs
        }
        out.append((t, ref, dict(ex), dict(w)))
    return out


def pipeline_doremi_trajectory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EG loop's FULL TRAJECTORY — one row per (round, domain)
    with that round's reference loss, excess and post-smoothing
    weight. This is the convergence evidence a mixture report ships:
    the reference loss rises monotonically toward the hard domains'
    level and per-domain weights settle (round-over-round deltas
    shrink), which a single final-round table cannot show. Same
    determinism contract and bounded driver state as
    :func:`pipeline_doremi_iterative`; the corpus is still touched
    exactly once."""
    dom_rows = _doremi_dom_rows(spark, sf_dir)
    langs = sorted(r.lang for r in dom_rows)
    xm = {r.lang: int(r.sxm) // int(r.n_docs) for r in dom_rows}
    rows = [
        (t, d, ref, ex[d], w[d])
        for t, ref, ex, w in _doremi_eg_trajectory(spark, langs, xm)
        for d in langs
    ]
    return spark.createDataFrame(
        rows,
        "round int, lang string, ref_micro long, excess_micro long, "
        "weight_micro long",
    )


def _exp_snap_1e9(spark: SparkSession, micros) -> dict[int, int]:
    """Engine-evaluated ``round(exp(x/1e6)·1e9)`` for a bounded set of
    micro-nat values — the one transcendental in the DoReMi loop stays
    a JVM expression (not Python libm) so it snaps to the SAME 1e9
    grid the DuckDB oracle's EXP snaps to."""
    rows = (
        spark.createDataFrame([(int(m),) for m in micros], "x long")
        .select(
            "x",
            F.round(
                F.exp(F.col("x").cast("double") / F.lit(1e6)) * 1e9
            )
            .cast("long")
            .alias("e"),
        )
        .collect()
    )
    return {int(r.x): int(r.e) for r in rows}


def _doremi_unrolled_with_sql() -> str:
    """Shared WITH body of the unrolled EG-loop oracles (the
    iterative operator's final-round read and the trajectory's
    every-round union). Every multi-referenced CTE is MATERIALIZED —
    DuckDB 1.0 re-inlines otherwise, and through T rounds the corpus
    xent subtree would re-expand 2^T times (the neardup-triangles
    lesson)."""
    from duckdb_gsheets_spark.operators.curation import _xent_core_sql

    den = DOREMI_SMOOTH_DEN
    cap = DOREMI_EXCESS_CAP_MICRO
    parts = [
        f"""WITH {_xent_core_sql()},
dm_doc AS (
  SELECT lang, n_tokens,
         CAST(ROUND(unigram_xent * 1e6) AS BIGINT) AS xm
  FROM xent
), dm_dom AS MATERIALIZED (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(xm) AS BIGINT) AS sxm
  FROM dm_doc GROUP BY lang
), dm_tot AS MATERIALIZED (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt, COUNT(*) AS k
  FROM dm_dom
), w0 AS MATERIALIZED (
  SELECT d.lang, d.n_docs, d.n_tokens, t.tt, t.k,
         d.sxm // d.n_docs AS xm,
         CAST(1000000 AS BIGINT) // t.k AS w
  FROM dm_dom d, dm_tot t
)"""
    ]
    for t in range(1, DOREMI_EG_ROUNDS + 1):
        p = f"w{t - 1}"
        parts.append(
            f""", r{t}a AS MATERIALIZED (
  SELECT lang, n_docs, n_tokens, tt, k, xm, w,
         (SELECT CAST(SUM(w * xm) AS BIGINT)
            // CAST(SUM(w) AS BIGINT) FROM {p}) AS ref
  FROM {p}
), r{t}b AS MATERIALIZED (
  SELECT lang, n_docs, n_tokens, tt, k, xm, ref,
         LEAST(GREATEST(CAST(0 AS BIGINT), xm - ref),
               CAST({cap} AS BIGINT)) AS ex,
         (w * CAST(ROUND(EXP(CAST(LEAST(GREATEST(CAST(0 AS BIGINT),
                xm - ref), CAST({cap} AS BIGINT)) AS DOUBLE) / 1e6)
                * 1e9) AS BIGINT)) // 1000000000 AS raw
  FROM r{t}a
), w{t} AS MATERIALIZED (
  SELECT lang, n_docs, n_tokens, tt, k, xm, ref, ex,
         ({den - 1} * (raw * 1000000
                       // (SELECT CAST(SUM(raw) AS BIGINT) FROM r{t}b))) // {den}
           + 1000000 // ({den} * k) AS w
  FROM r{t}b
)"""
        )
    return "".join(parts)


def _doremi_iterative_oracle() -> str:
    return (
        _doremi_unrolled_with_sql()
        + f"""
SELECT lang, n_docs, n_tokens, xm AS mean_xent_micro,
       ref AS ref_micro, ex AS excess_micro, w AS weight_micro,
       CASE WHEN n_tokens * 1000000 // tt > 0
            THEN w * 1000000 // (n_tokens * 1000000 // tt)
            ELSE CAST(0 AS BIGINT) END AS epochs_micro
FROM w{DOREMI_EG_ROUNDS}
ORDER BY lang"""
    )


def _doremi_trajectory_oracle() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INTEGER) AS round, lang, ref AS ref_micro, "
        f"ex AS excess_micro, w AS weight_micro FROM w{t}"
        for t in range(1, DOREMI_EG_ROUNDS + 1)
    )
    return (
        _doremi_unrolled_with_sql()
        + "\n"
        + union
        + "\nORDER BY round, lang"
    )


#: Curated-tier sources for the quality-classifier training-set
#: builder — the deterministic stand-in for "Wikipedia/books/ref
#: corpora" in the generated fixture's generic source namespace; a
#: production run passes its own curated list.
CLASSIFIER_CURATED_SOURCES = ("src0", "src5", "src10", "src15")


def _classifier_training_set(docs: DataFrame) -> DataFrame:
    """The class-balanced quality-classifier TRAINING SLICE —
    ``(doc_id, lang, is_pos, qm, n_tokens, h32)`` with curated
    positives all kept and the majority negative class
    hash-downsampled to ≈ the positive count via the exact-integer
    md5-Bernoulli device (keep iff ``h32·N < P·2³²``). Shared by the
    training-set ledger (:func:`pipeline_classifier_corpus`) and the
    probe fit (:func:`_classifier_fit`) so the two cannot drift; the
    oracle twin is :func:`_classifier_kept_sql`."""
    c = F.col("text")
    base = docs.select(
        "doc_id",
        "lang",
        F.col("source")
        .isin(*CLASSIFIER_CURATED_SOURCES)
        .alias("is_pos"),
        F.round(T.quality_score(c) * 1e6).cast("long").alias("qm"),
        T.token_count(c).cast("long").alias("n_tokens"),
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        )
        .cast("long")
        .alias("h32"),
    )
    tot = base.agg(
        F.sum(F.col("is_pos").cast("long")).alias("p_cnt"),
        F.sum((~F.col("is_pos")).cast("long")).alias("n_cnt"),
    )
    return base.crossJoin(F.broadcast(tot)).where(
        F.col("is_pos")
        | (F.expr("h32 * n_cnt") < F.expr("p_cnt * 4294967296L"))
    )


def pipeline_classifier_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-CLASSIFIER training-set builder — the fastText-style
    corpus every web-scale pipeline trains its quality gate on (the
    GPT-3 / CCNet recipe: POSITIVES = documents from curated-tier
    sources, NEGATIVES = the rest of the web crawl, downsampled to
    class balance): curated docs all keep the ``pos`` label; the
    majority negative class hash-downsamples to ≈ the positive count
    via the corpus's deterministic md5-Bernoulli device (keep iff
    ``h32·N < P·2^32`` in exact integer arithmetic — replayable, and
    if the curated tier is somehow the majority the gate keeps every
    negative rather than inventing upsampling). Output is the
    training-set LEDGER per (label, lang): docs, token volume, and
    the exact micro-mean heuristic quality — the table that shows the
    label separation (curated sources should score higher) before
    anyone spends a training run on it.

    Shapes, sized for 100 TB: one corpus scan (label, hash, quality
    ride the scan as JVM expressions), ONE 1-row class-count
    aggregate broadcast back as the sampling threshold, one
    (label, lang) rollup. ``h32·N`` stays int64 up to ~2·10⁹
    negatives; past that the product moves to DECIMAL(38,0) (the
    graph-stats moments note).
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    kept = _classifier_training_set(docs)
    return (
        kept.groupBy(
            F.when(F.col("is_pos"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("label"),
            "lang",
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.expr("sum(qm) div count(1)").alias("mean_quality_micro"),
        )
        .orderBy("label", "lang")
    )


def _classifier_kept_sql() -> str:
    """Shared CTE chain replaying :func:`_classifier_training_set` in
    DuckDB — ends at ``qc_kept`` — reused by the training-set ledger
    and the gate oracle so the two cannot drift."""
    srcs = ", ".join(f"'{s}'" for s in CLASSIFIER_CURATED_SOURCES)
    return f"""qc_base AS (
  SELECT doc_id, lang,
         source IN ({srcs}) AS is_pos,
         CAST(ROUND({T.oracle_quality_score()} * 1e6) AS BIGINT) AS qm,
         CAST(len({T.oracle_tokens()}) AS BIGINT) AS n_tokens,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) AS h32
  FROM documents WHERE text IS NOT NULL
), qc_tot AS (
  SELECT CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt,
         CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS n_cnt
  FROM qc_base
), qc_kept AS (
  SELECT b.* FROM qc_base b, qc_tot t
  WHERE b.is_pos OR b.h32 * t.n_cnt < t.p_cnt * 4294967296
)"""


def _classifier_corpus_oracle() -> str:
    return f"""
WITH {_classifier_kept_sql()}
SELECT CASE WHEN is_pos THEN 'pos' ELSE 'neg' END AS label, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(qm) AS BIGINT) // COUNT(*) AS mean_quality_micro
FROM qc_kept
GROUP BY 1, 2
ORDER BY label, lang
"""


#: Quality-classifier GATE hyperparameters. The probe is a logistic
#: regression over the DSIR hashed unigram+bigram buckets (the GPT-3
#: recipe's "classifier trained to distinguish curated corpora from
#: raw Common Crawl" — Brown et al. 2020, appendix A, with fastText's
#: hashed bag-of-n-grams feature space, Joulin et al. 2017), fit by
#: full-batch gradient descent with exact scaled-long weight state so
#: the trajectory is bit-identical across engines (the logreg_probe
#: device). Three unrolled iterations keep the generated oracle
#: tractable while moving the weights enough to separate the classes
#: (the separation is asserted in pytest, not assumed).
CLS_GATE_ITERS = 3
CLS_GATE_LR = 4.0

#: GPT-3's Pareto re-sampling shape: a document is KEPT iff
#: ``score > 1 − x`` with ``x ~ Pareto(α=9)`` — high-scoring docs are
#: near-certain keeps while low scorers survive with small
#: probability, preserving tail diversity. ``np.random.pareto``'s
#: Lomax draw is replayed deterministically: the md5-uniform
#: ``u = (h32+1)/2³²`` inverts through ``x = u^(−1/α) − 1``.
CLS_PARETO_ALPHA = 9

#: The scaled-long grids of the probe state: weights on the 1e-9
#: grid, per-doc residuals and scores on the 1e-6 grid (each float
#: expression is grid-snapped in BOTH engines; libm drift ≤ 1 ulp ≪
#: grid — the DSIR ln contract).
_CLS_Z_SQL = "CAST(num AS DOUBLE) / (CAST(nf AS DOUBLE) * 1e9)"
_CLS_R_MICRO_SQL = (
    f"CAST(ROUND((1.0 / (1.0 + EXP(-({_CLS_Z_SQL}))) - CAST(y AS DOUBLE))"
    " * 1e6) AS BIGINT)"
)
_CLS_SCORE_MICRO_SQL = (
    f"CAST(ROUND((1.0 / (1.0 + EXP(-({_CLS_Z_SQL})))) * 1e6) AS BIGINT)"
)
_CLS_GRAD_TERM_SQL = (
    "CAST(ROUND(CAST(r_micro * cnt AS DOUBLE) / CAST(nf AS DOUBLE)) "
    "AS BIGINT)"
)
_CLS_DRAW_MICRO_SQL = (
    "CAST(ROUND((POWER((ph32 + 1.0) / 4294967296.0, "
    f"-1.0 / {CLS_PARETO_ALPHA}.0) - 1.0) * 1e6) AS BIGINT)"
)


def _classifier_feature_counts(docs: DataFrame) -> DataFrame:
    """``(doc_id, bucket, cnt, nf)`` — per-document counts over the
    DSIR hashed unigram+bigram buckets, plus one synthetic BIAS row
    per document (``bucket = −1, cnt = nf``): with the bias treated
    as a feature whose count equals the feature total, the single
    normalized dot product ``Σ cnt·w / nf`` yields exactly
    ``Σ x·w + b`` — one join shape serves weights and bias.
    Eagerly checkpointed: every GD iteration and the final scoring
    pass re-read this frame instead of re-tokenizing the corpus (the
    DSIR materialize-once pattern)."""
    from duckdb_gsheets_spark.operators.curation import _dsir_feats

    cnts = (
        _dsir_feats(docs)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nf = cnts.groupBy("doc_id").agg(F.sum("cnt").alias("nf"))
    return (
        cnts.join(nf, "doc_id")
        .unionByName(
            nf.select(
                "doc_id",
                F.lit(-1).cast("long").alias("bucket"),
                F.col("nf").alias("cnt"),
                "nf",
            )
        )
        .localCheckpoint(eager=True)
    )


def _classifier_fit(
    spark: SparkSession, docs: DataFrame, fc: DataFrame
) -> dict[int, int]:
    """Fit the hashed-feature logistic probe on the class-balanced
    training slice: ``CLS_GATE_ITERS`` full-batch GD steps, each one
    pass over the checkpointed feature frame — per iteration the
    residuals come from a broadcast join against the ≤1025-row weight
    table, the gradient rolls up map-side-combined to ≤1025 rows, and
    ONE collect ships them to the driver (kilobytes — the
    parameter-server shape of ml.logreg_probe, at 100 TB each
    iteration is a scan-speed pass over the bucketed counts).

    Exact state: weights (incl. the bucket −1 bias) are scaled longs
    on the 1e-9 grid; residuals and per-(doc, bucket) gradient terms
    snap to grids in-plan, and the driver applies the update with the
    oracle's exact float expression (``LR·g/N·1000`` left to right,
    half-away rounding), so the trajectory replays bit-identically in
    the unrolled-CTE oracle. ``fc`` is the gate's feature-count frame
    (:func:`_classifier_feature_counts` of ``docs``). Returns the
    ``{bucket: weight}`` dict."""
    import math

    from duckdb_gsheets_spark.operators.curation import DSIR_BUCKETS
    from duckdb_gsheets_spark.operators.determinism import round_half_away

    train = _classifier_training_set(docs).select(
        "doc_id", F.col("is_pos").cast("long").alias("y")
    )
    tfeat = fc.join(train, "doc_id").localCheckpoint(eager=True)
    # NB INITIALIZATION (the NBSVM trick, Wang & Manning 2012): three
    # GD steps from zero cannot grow discriminative weights, but the
    # multinomial Naive-Bayes log-odds ARE the closed-form linear
    # classifier for this feature space — one ≤1025-row tally collect
    # seeds w₀ with the smoothed per-bucket ln p(b|pos) − ln p(b|neg)
    # (the DSIR lnp device, each ln snapped to the 1e-9 grid) and the
    # class-prior log-odds as the bias; GD then calibrates the
    # logistic loss around it. Round 14: the class counts ride the
    # SAME grouped collect via the bucket −1 rows (one row per doc:
    # n_rows there = n_train, Σy there = n_pos) — the separate
    # class-count job this used to run first is fused away.
    tally_rows = (
        tfeat.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("y") == 1, F.col("cnt")).otherwise(0)).alias(
                "pc"
            ),
            F.sum(F.when(F.col("y") == 0, F.col("cnt")).otherwise(0)).alias(
                "nc"
            ),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("y").alias("ys"),
        )
        .collect()
    )
    # Empty training slice ⇒ no bucket −1 rows at all: degrade to
    # n_train = n_pos = 0 like the pre-fusion separate-agg shape did
    # instead of raising an uncaught StopIteration (ADVICE r14 #2).
    bias_row = next(
        (r for r in tally_rows if int(r.bucket) == -1), None
    )
    n_train = int(bias_row.n_rows) if bias_row is not None else 0
    n_pos = int(bias_row.ys) if bias_row is not None else 0
    tally = {
        int(r.bucket): (int(r.pc), int(r.nc))
        for r in tally_rows
        if int(r.bucket) >= 0
    }
    tp = sum(pc for pc, _ in tally.values())
    tn = sum(nc for _, nc in tally.values())

    def lnp9(cnt: int, tot: int, dom: int) -> int:
        # identical float ops to the oracle's
        # ROUND(LN((cnt + 1.0) / CAST(tot + dom AS DOUBLE)) * 1e9)
        return int(
            round_half_away(
                math.log((cnt + 1.0) / float(tot + dom)) * 1e9, 0
            )
        )

    w: dict[int, int] = {}
    for b in range(DSIR_BUCKETS):
        pc, nc = tally.get(b, (0, 0))
        w[b] = lnp9(pc, tp, DSIR_BUCKETS) - lnp9(nc, tn, DSIR_BUCKETS)
    w[-1] = lnp9(n_pos, n_train, 2) - lnp9(n_train - n_pos, n_train, 2)
    for _ in range(CLS_GATE_ITERS):
        w_df = spark.createDataFrame(
            [(int(b), int(ws)) for b, ws in sorted(w.items())],
            "bucket long, ws long",
        )
        scored = (
            tfeat.join(F.broadcast(w_df), "bucket", "left")
            .groupBy("doc_id", "y", "nf")
            .agg(
                F.sum(
                    F.col("cnt") * F.coalesce(F.col("ws"), F.lit(0))
                ).alias("num")
            )
        )
        g_rows = (
            scored.select(
                "doc_id", F.expr(_CLS_R_MICRO_SQL).alias("r_micro")
            )
            .join(tfeat.select("doc_id", "bucket", "cnt", "nf"), "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.expr(_CLS_GRAD_TERM_SQL)).alias("g"))
            .collect()
        )
        for row in g_rows:
            delta = int(
                round_half_away(
                    CLS_GATE_LR * float(row.g) / float(n_train) * 1000.0, 0
                )
            )
            w[int(row.bucket)] = w.get(int(row.bucket), 0) - delta
    return w


def pipeline_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-CLASSIFIER GATE — the second half of the GPT-3/CCNet
    recipe that :func:`pipeline_classifier_corpus` builds the
    training set for: fit the hashed-feature logistic probe on the
    curated-vs-crawl labels (:func:`_classifier_fit`), score EVERY
    document, and keep via the Pareto-threshold importance-sampling
    rule (``score > 1 − Pareto(α)``, replayed deterministically from
    the doc's md5 uniform). Output is the per-source gate ledger:
    docs seen / kept, tokens kept, and the exact micro-mean score of
    all vs kept rows — the table that shows the gate preferring
    curated-like sources while the Pareto tail keeps low scorers
    alive.

    Shapes, sized for 100 TB: the corpus tokenizes ONCE into the
    checkpointed bucket-count frame; each GD iteration and the final
    scoring pass are broadcast joins against a ≤1025-row weight
    table plus map-side-combined rollups; driver state is kilobytes
    per iteration (the logreg parameter-server shape). No
    corpus-sized shuffle other than the (doc_id) count rollup the
    feature build pays once."""
    from duckdb_gsheets_spark.operators.curation import _doc_tokens

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    fc = _classifier_feature_counts(docs)
    w = _classifier_fit(spark, docs, fc)
    w_df = spark.createDataFrame(
        [(int(b), int(ws)) for b, ws in sorted(w.items())],
        "bucket long, ws long",
    )
    scored = (
        fc.join(F.broadcast(w_df), "bucket", "left")
        .groupBy("doc_id", "nf")
        .agg(
            F.sum(F.col("cnt") * F.coalesce(F.col("ws"), F.lit(0))).alias(
                "num"
            )
        )
        .select("doc_id", F.expr(_CLS_SCORE_MICRO_SQL).alias("score_micro"))
    )
    meta = _doc_tokens(docs).select(
        "doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    verdicts = (
        meta.join(scored, "doc_id")
        .withColumn(
            "ph32",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("pareto|"), F.col("doc_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
        )
        .withColumn("draw_micro", F.expr(_CLS_DRAW_MICRO_SQL))
        .withColumn(
            "kept", F.col("score_micro") + F.col("draw_micro") > 1000000
        )
    )
    return (
        verdicts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)
            ).alias("kept_tokens"),
            F.sum("score_micro").alias("_ss"),
            F.sum(F.when(F.col("kept"), F.col("score_micro")).otherwise(0)).alias(
                "_ks"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "kept_tokens",
            F.expr("_ss div n_docs").alias("mean_score_micro"),
            F.expr(
                "CASE WHEN n_kept > 0 THEN _ks div n_kept "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("kept_score_micro"),
        )
        .orderBy("source")
    )


def _classifier_gate_oracle() -> str:
    """DuckDB oracle for :func:`pipeline_classifier_gate`: the
    bucket-count frame, the shared training-slice chain, and every GD
    step unroll into generated CTEs (long-form ``w{t}(bucket, ws)``
    weight state over all 1024 buckets + the −1 bias; missing
    gradient rows COALESCE to zero exactly like the sparse driver
    dict). All CTEs MATERIALIZED — the multiply-referenced count
    frame and weight tables must evaluate once (the ml._materialize_
    ctes lesson)."""
    from duckdb_gsheets_spark.operators.curation import (
        DSIR_BUCKETS,
        _dsir_feat_sql,
    )

    lr = repr(float(CLS_GATE_LR))
    parts = [
        f"""{_dsir_feat_sql()}, {_classifier_kept_sql()},
cg_cnt0 AS MATERIALIZED (
  SELECT doc_id, bucket, COUNT(*) AS cnt FROM dbuck
  GROUP BY doc_id, bucket
), cg_nf AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nf FROM cg_cnt0
  GROUP BY doc_id
), cg_cnt AS MATERIALIZED (
  SELECT c.doc_id, c.bucket, c.cnt, f.nf
  FROM cg_cnt0 c JOIN cg_nf f USING (doc_id)
  UNION ALL
  SELECT doc_id, CAST(-1 AS BIGINT) AS bucket, nf AS cnt, nf FROM cg_nf
), cg_train AS MATERIALIZED (
  SELECT doc_id, CAST(is_pos AS BIGINT) AS y FROM qc_kept
), cg_n AS MATERIALIZED (
  SELECT COUNT(*) AS n FROM cg_train
), cg_cls AS MATERIALIZED (
  SELECT CAST(SUM(y) AS BIGINT) AS n_pos, CAST(COUNT(*) AS BIGINT) AS n_tr
  FROM cg_train
), cg_tal AS MATERIALIZED (
  SELECT c.bucket,
         CAST(SUM(CASE WHEN t.y = 1 THEN c.cnt ELSE 0 END) AS BIGINT) AS pc,
         CAST(SUM(CASE WHEN t.y = 0 THEN c.cnt ELSE 0 END) AS BIGINT) AS nc
  FROM cg_cnt c JOIN cg_train t USING (doc_id)
  WHERE c.bucket >= 0
  GROUP BY c.bucket
), cg_tot AS MATERIALIZED (
  SELECT CAST(SUM(pc) AS BIGINT) AS tp, CAST(SUM(nc) AS BIGINT) AS tn
  FROM cg_tal
), w0 AS MATERIALIZED (
  SELECT g.bucket,
         CASE WHEN g.bucket = -1 THEN
           CAST(ROUND(LN((s.n_pos + 1.0)
                / CAST(s.n_tr + 2 AS DOUBLE)) * 1e9) AS BIGINT)
           - CAST(ROUND(LN((s.n_tr - s.n_pos + 1.0)
                / CAST(s.n_tr + 2 AS DOUBLE)) * 1e9) AS BIGINT)
         ELSE
           CAST(ROUND(LN((COALESCE(t.pc, 0) + 1.0)
                / CAST(o.tp + {DSIR_BUCKETS} AS DOUBLE)) * 1e9) AS BIGINT)
           - CAST(ROUND(LN((COALESCE(t.nc, 0) + 1.0)
                / CAST(o.tn + {DSIR_BUCKETS} AS DOUBLE)) * 1e9) AS BIGINT)
         END AS ws
  FROM (SELECT CAST(unnest(generate_series(-1, {DSIR_BUCKETS - 1}))
               AS BIGINT) AS bucket) g
  LEFT JOIN cg_tal t ON t.bucket = g.bucket
  CROSS JOIN cg_tot o CROSS JOIN cg_cls s
)"""
    ]
    for t in range(CLS_GATE_ITERS):
        parts.append(
            f"""z{t} AS MATERIALIZED (
  SELECT c.doc_id, t.y, c.nf, CAST(SUM(c.cnt * w.ws) AS BIGINT) AS num
  FROM cg_cnt c
  JOIN cg_train t USING (doc_id)
  JOIN w{t} w ON w.bucket = c.bucket
  GROUP BY c.doc_id, t.y, c.nf
), r{t} AS MATERIALIZED (
  SELECT doc_id, {_CLS_R_MICRO_SQL} AS r_micro FROM z{t}
), g{t} AS MATERIALIZED (
  SELECT c.bucket, CAST(SUM({_CLS_GRAD_TERM_SQL}) AS BIGINT) AS g
  FROM r{t} r JOIN cg_cnt c USING (doc_id)
  GROUP BY c.bucket
), w{t + 1} AS MATERIALIZED (
  SELECT w.bucket,
         w.ws - CAST(ROUND({lr} * CAST(COALESCE(g.g, 0) AS DOUBLE)
                           / CAST(n.n AS DOUBLE) * 1000.0) AS BIGINT) AS ws
  FROM w{t} w LEFT JOIN g{t} g ON g.bucket = w.bucket CROSS JOIN cg_n n
)"""
        )
    T_ = CLS_GATE_ITERS
    parts.append(
        f"""cg_fs AS MATERIALIZED (
  SELECT c.doc_id, c.nf, CAST(SUM(c.cnt * w.ws) AS BIGINT) AS num
  FROM cg_cnt c JOIN w{T_} w ON w.bucket = c.bucket
  GROUP BY c.doc_id, c.nf
), cg_sc AS MATERIALIZED (
  SELECT d.doc_id, d.source, CAST(d.n_tokens AS BIGINT) AS n_tokens,
         {_CLS_SCORE_MICRO_SQL} AS score_micro,
         {_CLS_DRAW_MICRO_SQL} AS draw_micro
  FROM (SELECT doc_id, source, n_tokens,
               CAST('0x' || substring(md5('pareto|'
                    || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS ph32
        FROM ddocs) d
  JOIN cg_fs f USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN score_micro + draw_micro > 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN score_micro + draw_micro > 1000000
                     THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(SUM(score_micro) AS BIGINT) // COUNT(*) AS mean_score_micro,
       CASE WHEN SUM(CASE WHEN score_micro + draw_micro > 1000000
                          THEN 1 ELSE 0 END) > 0
            THEN CAST(SUM(CASE WHEN score_micro + draw_micro > 1000000
                               THEN score_micro ELSE 0 END) AS BIGINT)
                 // CAST(SUM(CASE WHEN score_micro + draw_micro > 1000000
                                  THEN 1 ELSE 0 END) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS kept_score_micro
FROM cg_sc
GROUP BY source
ORDER BY source"""
    )
    return "WITH " + ",\n".join(parts)


#: DSIR selection rate: keep NUM/DEN of the candidate (non-target)
#: corpus by Gumbel-perturbed importance weight.
DSIR_KEEP_NUM = 1
DSIR_KEEP_DEN = 4

#: 2^60 — the portable 60-bit hash domain (functions.portable_hash).
_HASH60_DOMAIN = float(1 << 60)


def pipeline_dsir_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING gate (Xie et al., NeurIPS 2023),
    composed end to end: score every non-target document with the
    shared hashed-n-gram importance weight
    (``curation._dsir_weights``), perturb with a deterministic Gumbel
    key, and keep the global top ``DSIR_KEEP_NUM/DSIR_KEEP_DEN`` —
    exactly the paper's Gumbel-top-k sampling-without-replacement
    ∝ softmax(weight), made replayable: the Gumbel noise is
    ``−ln(−ln(u))`` with ``u = (md5_60(doc_id) + ½) / 2^60``, so both
    engines draw the SAME sample. Output is the release ledger per
    language: candidates, selected docs/tokens, selection rate, and
    the mean selected log-ratio.

    Determinism: the weight is already an exact scaled long; both ln
    draws snap to the 1e-9 grid individually (the inner draw is
    clamped to ≤ −1 so ``u → 1`` can never produce ``ln 0``), so the
    Gumbel key is exact long arithmetic and the top-k cut
    ``rank·DEN ≤ n·NUM`` is pure integers — no float boundary exists
    for the engines to disagree on.

    Shapes, sized for 100 TB: the weight core's ledger (three corpus
    scans, bucket tables broadcast) plus ONE range partition for the
    global rank via the distributed prefix-sum tiling
    (orders_pareto_share) — per-pid counts, offsets from a bounded
    |pids|-row window broadcast back; no single-task global window.
    The final rollup is |langs| rows.
    """
    from duckdb_gsheets_spark.functions import portable_hash as PH
    from duckdb_gsheets_spark.operators.curation import (
        DSIR_TARGET_SOURCES,
        _dsir_weights,
    )

    w = _dsir_weights(load_table(spark, sf_dir, "documents"))
    cand = w.where(~F.col("source").isin(*DSIR_TARGET_SOURCES))
    u = (
        PH.tok_hash60(F.col("doc_id").cast("string")).cast("double")
        + F.lit(0.5)
    ) / F.lit(_HASH60_DOMAIN)
    l1 = F.least(
        F.round(F.log(u) * 1e9).cast("long"), F.lit(-1).cast("long")
    )
    l2 = F.round(
        F.log((-l1).cast("double") / F.lit(1e9)) * 1e9
    ).cast("long")
    keyed = cand.withColumn("gkey", F.col("w_scaled") - l2)
    ranged = (
        keyed.repartitionByRange(F.desc("gkey"), "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # ONE bounded |pids|-row aggregate carries BOTH global-rank inputs
    # — the per-partition prefix offsets AND the total candidate count
    # (a full-frame window over the same tiny frame) — so the round-11
    # shape's separate n_tot aggregate + second broadcast join fold
    # into this single broadcast (part of the round-12 job-floor cut).
    w_off = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        ranged.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("pcnt"))
        .select(
            "pid",
            F.coalesce(
                F.sum("pcnt").over(w_off), F.lit(0).cast("long")
            ).alias("rank_off"),
            F.sum("pcnt").over(w_all).alias("n_cand"),
        )
    )
    w_local = Window.partitionBy("pid").orderBy(
        F.desc("gkey"), "doc_id"
    )
    kept = (
        (F.col("rank_off") + F.row_number().over(w_local))
        * DSIR_KEEP_DEN
    ) <= F.col("n_cand") * DSIR_KEEP_NUM
    flagged = (
        ranged.join(F.broadcast(offsets), "pid")
        .select(
            "lang",
            "n_tokens",
            "w_scaled",
            kept.cast("long").alias("kept"),
        )
    )
    n_sel = F.sum("kept")
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        n_sel.alias("n_selected"),
        F.sum(
            F.when(F.col("kept") == 1, F.col("n_tokens").cast("long"))
            .otherwise(0)
        ).alias("tok_selected"),
        F.round(
            n_sel.cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("sel_rate"),
        F.when(
            n_sel > 0,
            F.round(
                F.sum(
                    F.when(F.col("kept") == 1, F.col("w_scaled"))
                    .otherwise(0)
                ).cast("double")
                / 1e9
                / n_sel.cast("double"),
                6,
            ),
        ).alias("mean_logratio_sel"),
    )


def _dsir_gate_oracle() -> str:
    from duckdb_gsheets_spark.functions import portable_hash as PH
    from duckdb_gsheets_spark.operators.curation import (
        DSIR_TARGET_SOURCES,
        _dsir_core_sql,
    )

    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    h60 = PH.oracle_tok_hash60("CAST(doc_id AS VARCHAR)")
    dom = f"{float(1 << 60):.1f}"
    return f"""
WITH {_dsir_core_sql()},
dg_l1 AS (
  SELECT doc_id, lang, n_tokens, w_scaled,
         LEAST(CAST(ROUND(LN((CAST({h60} AS DOUBLE) + 0.5) / {dom})
                    * 1e9) AS BIGINT), -1) AS l1
  FROM dw WHERE source NOT IN ({tgt})
), dg_key AS (
  SELECT doc_id, lang, n_tokens, w_scaled,
         w_scaled - CAST(ROUND(LN(CAST(-l1 AS DOUBLE) / 1e9) * 1e9)
                         AS BIGINT) AS gkey
  FROM dg_l1
), dg_flag AS (
  SELECT lang, n_tokens, w_scaled,
         CASE WHEN ROW_NUMBER() OVER (ORDER BY gkey DESC, doc_id)
                   * {DSIR_KEEP_DEN}
                <= COUNT(*) OVER () * {DSIR_KEEP_NUM}
              THEN 1 ELSE 0 END AS kept
  FROM dg_key
)
SELECT lang,
       COUNT(*) AS n_candidates,
       CAST(SUM(kept) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tok_selected,
       ROUND(CAST(SUM(kept) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS sel_rate,
       CASE WHEN SUM(kept) > 0
            THEN ROUND(CAST(SUM(CASE WHEN kept = 1 THEN w_scaled ELSE 0 END)
                            AS DOUBLE) / 1e9
                       / CAST(SUM(kept) AS DOUBLE), 6)
       END AS mean_logratio_sel
FROM dg_flag
GROUP BY lang
"""


#: C4/RefinedWeb-style document length gate (C4 drops short pages;
#: RefinedWeb keeps 25-100k-word documents for its quality band).
C4_MIN_TOKENS = 25


def pipeline_fineweb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style staged filtering funnel (Penedo et al., 2024),
    composed end to end with a per-stage ATTRITION ledger: Gopher
    quality rules → C4/RefinedWeb heuristics (document length ≥
    ``C4_MIN_TOKENS``, no curly braces, no "lorem ipsum") → exact
    dedup among the survivors
    (min-doc_id canonical per normalized-text fingerprint) — the
    industry-standard web-corpus recipe, reported the way a release
    review reads it: how many documents each source loses at each
    gate, not just the final keep rate. Unlike
    :func:`pipeline_curated_corpus` (Gopher→dedup→rebalance on a
    quality SCORE), this composes the rule-based gate sequence and
    makes the waterfall itself the output.

    C4's terminal-punctuation / sentence-count rules are deliberately
    NOT in the stage: the synthetic corpus contains no sentence
    terminators at all, so they would veto every document and turn
    the rest of the funnel into a count of zeros — the length gate
    (C4's other document-level rule) carries the stage instead, and
    the two blacklist vetoes stay as written in C4.

    Dedup runs AFTER the quality gates (FineWeb's actual order):
    boilerplate-y junk must not claim canonical slots, and at 100 TB
    filtering first shrinks the dedup shuffle by the gate rate.

    Shuffle ledger: all gate flags and the fingerprint are row
    expressions fused into the ONE corpus scan (text never shuffles);
    the canonical-doc aggregate and its join back move only
    (fp, doc_id) pairs for gate survivors on the uniform md5 key; the
    rollup is |sources| rows. Two shuffles total plus the final
    |sources|-row agg — same ledger class as the CCNet gate.
    """
    from duckdb_gsheets_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    c = F.col("text")
    c4_pass = (
        (F.col("n_tokens") >= C4_MIN_TOKENS)
        & ~c.contains("{")
        & ~c.contains("}")
        & ~F.lower(c).contains("lorem ipsum")
    )
    staged = gopher_rules(docs, carry=("source", "text")).select(
        "doc_id",
        "source",
        "n_tokens",
        F.col("passes").alias("q_pass"),
        c4_pass.cast("int").alias("c4_pass"),
        T.fingerprint(c).alias("fp"),
    )
    surv = F.col("q_pass") * F.col("c4_pass")
    # Canonical-doc election as ONE fp-partitioned window min instead
    # of the round-13 groupBy + join-back (which re-executed the
    # tokenize+gopher+fingerprint scan subtree on both join sides —
    # two corpus passes per action, and at scale two fp shuffles).
    # min(doc_id over survivors of the fp group) is exactly the old
    # canon frame's keep_id, NULL when the group has no survivor —
    # the kept predicate then evaluates identically.
    kept = (surv == 1) & (F.col("doc_id") == F.col("keep_id"))
    return (
        staged.withColumn(
            "keep_id",
            F.min(F.when(surv == 1, F.col("doc_id"))).over(
                Window.partitionBy("fp")
            ),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("q_pass").cast("long")).alias("n_pass_quality"),
            F.sum(surv.cast("long")).alias("n_pass_c4"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(
                F.when(kept, F.col("n_tokens").cast("long")).otherwise(0)
            ).alias("tok_kept"),
            F.round(
                F.sum(kept.cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("keep_rate"),
        )
    )


def _fineweb_oracle() -> str:
    toks = T.oracle_tokens()
    return f"""
WITH fw_base AS (
  SELECT doc_id, source,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS BIGINT)
           AS n_nonspace,
         CAST(len(list_filter({toks},
                              t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha_tokens,
         CAST({T.oracle_stopword_hits_total()} AS BIGINT) AS n_stopwords,
         CAST(len(regexp_extract_all(text, '{T.PUNCT_PATTERN}')) AS BIGINT)
           AS n_symbols,
         text LIKE '%{{%' OR text LIKE '%}}%'
           OR LOWER(text) LIKE '%lorem ipsum%' AS c4_veto,
         {T.oracle_fingerprint()} AS fp
  FROM documents WHERE text IS NOT NULL
), fw_flag AS (
  SELECT doc_id, source, n_tokens, fp,
         CAST((100 * n_nonspace) // n_tokens BETWEEN 300 AND 1000
              AND n_alpha_tokens * 100 >= n_tokens * 80
              AND n_stopwords >= 2
              AND n_symbols * 4 <= n_tokens AS INTEGER) AS q_pass,
         CAST(n_tokens >= {C4_MIN_TOKENS} AND NOT c4_veto AS INTEGER)
           AS c4_pass
  FROM fw_base
), fw_canon AS (
  SELECT fp, MIN(doc_id) AS keep_id FROM fw_flag
  WHERE q_pass * c4_pass = 1 GROUP BY fp
), fw_kept AS (
  SELECT f.source, f.n_tokens, f.q_pass, f.q_pass * f.c4_pass AS surv,
         CASE WHEN f.q_pass * f.c4_pass = 1 AND f.doc_id = c.keep_id
              THEN 1 ELSE 0 END AS kept
  FROM fw_flag f LEFT JOIN fw_canon c ON f.fp = c.fp
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(q_pass) AS BIGINT) AS n_pass_quality,
       CAST(SUM(surv) AS BIGINT) AS n_pass_c4,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tok_kept,
       ROUND(CAST(SUM(kept) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS keep_rate
FROM fw_kept
GROUP BY source
"""


QUERIES: list[QueryDef] = [
    QueryDef(
        "pipeline_training_corpus",
        pipeline_training_corpus,
        PIPELINE_ORACLE,
        "lang→quality→dedup→rollup composed pipeline",
    ),
    QueryDef(
        "corpus_upsert",
        corpus_upsert,
        CORPUS_UPSERT_ORACLE,
        "MERGE INTO / CDC upsert via full-outer coalesce",
    ),
    QueryDef(
        "pipeline_curated_corpus",
        pipeline_curated_corpus,
        _curated_oracle(),
        "gopher-gate→dedup→rebalance composed pipeline (round 2)",
    ),
    QueryDef(
        "corpus_scd2_history",
        corpus_scd2_history,
        CORPUS_SCD2_ORACLE,
        "SCD type-2 versioned corpus ledger (gaps-and-islands over snapshots)",
    ),
    QueryDef(
        "pipeline_split_corpus",
        pipeline_split_corpus,
        _split_pipeline_oracle(),
        "split→in-split dedup→train decontamination composed pipeline",
    ),
    QueryDef(
        "scd2_asof_diff",
        scd2_asof_diff,
        SCD2_ASOF_DIFF_ORACLE,
        "point-in-time snapshot diff (added/deleted/changed/unchanged) "
        "reconstructed from the SCD2 ledger",
    ),
    # -- round-6 additions --
    QueryDef(
        "pipeline_ccnet_corpus",
        pipeline_ccnet_corpus,
        _ccnet_oracle(),
        "CCNet perplexity gate: keep head+middle terciles, hash-downsample "
        "the tail to 25%, per-(lang, bucket) release ledger",
    ),
    QueryDef(
        "pipeline_dsir_corpus",
        pipeline_dsir_corpus,
        _dsir_gate_oracle(),
        "DSIR Gumbel-top-k importance resampling gate (deterministic "
        "md5 Gumbel keys, exact integer top-k cut), per-language ledger",
    ),
    # -- round-7 additions --
    QueryDef(
        "pipeline_fineweb_corpus",
        pipeline_fineweb_corpus,
        _fineweb_oracle(),
        "FineWeb staged funnel: Gopher rules -> C4 heuristics -> exact "
        "dedup among survivors, per-source attrition ledger",
    ),
    # -- round-12 additions --
    QueryDef(
        "pipeline_doremi_weights",
        pipeline_doremi_weights,
        _doremi_oracle(),
        "DoReMi domain-mixture reweighting: excess-xent signal -> "
        "exponentiated-gradient weights (exact micro-unit integers) -> "
        "per-domain training-epoch multipliers",
    ),
    # -- round-13 additions --
    QueryDef(
        "pipeline_doremi_iterative",
        pipeline_doremi_iterative,
        _doremi_iterative_oracle(),
        "DoReMi full multi-round EG loop (Xie et al. Alg. 1): per-round "
        "mixture-weighted reference update, unrolled "
        f"{DOREMI_EG_ROUNDS} rounds on the exact micro-unit grid",
    ),
    QueryDef(
        "pipeline_doremi_trajectory",
        pipeline_doremi_trajectory,
        _doremi_trajectory_oracle(),
        "DoReMi EG loop trajectory: per-(round, domain) reference loss, "
        "excess and weight - the convergence evidence",
    ),
    QueryDef(
        "pipeline_classifier_corpus",
        pipeline_classifier_corpus,
        _classifier_corpus_oracle(),
        "fastText-style quality-classifier training set: curated-tier "
        "positives, hash-balanced negative downsample, per-(label, lang) "
        "ledger with quality separation",
    ),
    QueryDef(
        "pipeline_classifier_gate",
        pipeline_classifier_gate,
        _classifier_gate_oracle(),
        "GPT-3 quality gate closed end to end: hashed-feature logistic "
        "probe fit by exact unrolled GD, every doc scored, "
        "Pareto-threshold importance-sampling keep, per-source ledger",
    ),
]
