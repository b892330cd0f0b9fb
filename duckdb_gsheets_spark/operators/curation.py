"""Corpus-curation operators: mixture weights, sequence packing, BM25.

The last mile of a training-data pipeline decides WHAT to train on and
HOW to lay it out: per-language (or per-source) sampling weights,
packing documents into fixed context windows, and keyword retrieval
over the corpus for audits. Three operators, all pure JVM column
programs with exact DuckDB oracles:

* :func:`corpus_mix_weights` — temperature-scaled language sampling
  weights (the mT5/UniMax ``p^α`` recipe, α = 0.3);
* :func:`pack_sequences` — greedy in-order packing of documents into
  fixed token budgets, parallel per source shard;
* :func:`bm25_search` — Okapi BM25 keyword top-k over the corpus.

Scale notes (100 TB):

* Mix weights aggregate the corpus to one row per language before any
  wide operation — the normalization join broadcasts a handful of
  rows.
* Packing is a per-shard running sum: ``Window.partitionBy(source)``
  means every shard packs independently in one shuffle; the global
  single-sequence variant would serialize, which is exactly why real
  packers shard first (documented contract, not an accident).
* BM25's per-term statistics (df) aggregate to vocabulary size, and
  the query-term filter prunes the postings to |terms| × docs-hit
  BEFORE any join; the avgdl scalar joins via broadcast.

Reference parity note: the reference engine (duckdb_gsheets) exposes
sheet data to DuckDB which has FTS extensions but no pipeline-native
mixing/packing surface; beyond-reference layer per SURVEY.md §2.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.functions import text as T
from duckdb_gsheets_spark.functions.text import WHITESPACE_SPLIT
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import load_table

#: Sampling temperature for corpus mixing (mT5 uses α = 0.3).
MIX_ALPHA = 0.3

#: Token budget per packed sequence (context window).
PACK_BUDGET = 256

#: BM25 hyperparameters (Robertson's defaults) and the audit query.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("data", "spark", "query")
BM25_TOPK = 20


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, source, toks, n_tokens), NULL texts dropped."""
    return (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            "source",
            F.split(F.trim(F.col("text")), WHITESPACE_SPLIT).alias("toks"),
        )
        .withColumn("n_tokens", F.size("toks"))
    )


def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling weights ``w_l ∝ (tokens_l / total)^α``
    (temperature-scaled mixing, α = MIX_ALPHA), with document counts
    and the token share they represent.

    Plan: one groupBy(lang) over the corpus (map-side combined to one
    row per language per partition), then a broadcast of the one-row
    total for normalization. Nothing wide ever exceeds |languages|
    rows.
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    by_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    totals = by_lang.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(
            F.pow(
                F.col("n_tokens").cast("double"), F.lit(float(MIX_ALPHA))
            )
        ).alias("z"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    weight = (
        F.pow(F.col("n_tokens").cast("double"), F.lit(float(MIX_ALPHA)))
        / F.col("z")
    )
    return (
        by_lang.join(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(share, 6).alias("token_share"),
            F.round(weight, 6).alias("mix_weight"),
        )
    )


CORPUS_MIX_ORACLE = f"""
WITH by_lang AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(TRIM(text), '\\s+'))) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
  GROUP BY lang
), totals AS (
  SELECT SUM(n_tokens) AS total_tokens,
         SUM(POW(CAST(n_tokens AS DOUBLE), {MIX_ALPHA})) AS z
  FROM by_lang
)
SELECT lang, n_docs, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       ROUND(POW(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) / z, 6) AS mix_weight
FROM by_lang, totals
"""


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy in-order packing of documents into ``PACK_BUDGET``-token
    bins, independently per source shard: a document's bin is its
    running token offset div the budget (documents longer than the
    budget span bins; boundary docs start the overflow — the standard
    streaming packer approximation).

    ``Window.partitionBy(source).orderBy(doc_id)`` keeps every shard's
    running sum parallel — one shuffle on source, no global sort. The
    per-(source, bin) rollup reuses the same partitioning.
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = docs.select(
        "source",
        "doc_id",
        "n_tokens",
        F.expr(
            f"div(sum(n_tokens) over "
            f"(partition by source order by doc_id "
            f"rows between unbounded preceding and current row) - n_tokens, "
            f"{PACK_BUDGET})"
        ).alias("bin_id"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


PACK_SEQUENCES_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n_tokens
  FROM documents WHERE text IS NOT NULL
), binned AS (
  SELECT source, doc_id, n_tokens,
         CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
           // {PACK_BUDGET} AS BIGINT) AS bin_id
  FROM toks
)
SELECT source, bin_id, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM binned
GROUP BY source, bin_id
"""


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k for a fixed audit query over the corpus.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N−df+0.5)/(df+0.5))``.

    The postings explode filters to the query terms BEFORE any
    aggregation, so the wide work is |terms| × matching docs; N and
    avgdl ship as a broadcast one-row frame; df aggregates to one row
    per query term. Top-k is TakeOrderedAndProject on the rounded
    score with doc_id tiebreak.
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.avg(F.col("n_tokens").cast("double")).alias("avgdl"),
    )
    hits = (
        docs.select(
            "doc_id", "n_tokens", F.explode("toks").alias("tok")
        )
        .where(F.col("tok").isin(*BM25_TERMS))
    )
    tf = hits.groupBy("doc_id", "n_tokens", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (
                    F.col("n_docs_total") - F.col("df") + F.lit(0.5)
                )
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * F.lit(BM25_K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B)
                    * F.col("n_tokens").cast("double")
                    / F.col("avgdl")
                )
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("contrib"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOPK)
    )


_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

BM25_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS toks,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n_tokens
  FROM documents WHERE text IS NOT NULL
), stats AS (
  SELECT COUNT(*) AS n_docs_total, AVG(CAST(n_tokens AS DOUBLE)) AS avgdl
  FROM docs
), tf AS (
  SELECT doc_id, n_tokens, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, n_tokens, unnest(toks) AS tok FROM docs)
  WHERE tok IN ({_TERMS_SQL})
  GROUP BY doc_id, n_tokens, tok
), df AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
)
SELECT doc_id,
       ROUND(SUM(
         LN(1.0 + (n_docs_total - df + 0.5) / (df + 0.5))
         * (tf * {BM25_K1 + 1.0})
         / (tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * CAST(n_tokens AS DOUBLE) / avgdl))
       ), 6) AS bm25,
       COUNT(*) AS n_terms_hit
FROM tf JOIN df USING (tok), stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""


def text_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    unigram LM (add-one smoothed) — the CCNet-style perplexity quality
    proxy: templated/repetitive documents score low, rare-token noise
    scores high.

    ``xent(d) = −(1/|d|) Σ_t ln((count(t)+1)/(total+|V|))``

    Determinism: each ln is rounded to 9 decimals and scaled to a
    long, so the per-document sum is exact integer arithmetic in both
    engines (ln differs across libm implementations by ≤1 ulp ≈ 1e-15,
    far inside the 1e-9 grid).

    Scale: the unigram table aggregates to vocabulary size and is
    broadcast here (test vocab is tiny). At 100 TB with a 100M-term
    vocabulary you drop the broadcast hint and let AQE choose a
    shuffle join on ``tok`` — the shape is otherwise unchanged.
    """
    return _doc_xent(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "unigram_xent"
    )


def _doc_xent(docs: DataFrame) -> DataFrame:
    """Per-document ``(doc_id, lang, n_tokens, unigram_xent)`` against
    the corpus's own add-one-smoothed unigram LM — the shared core of
    :func:`text_unigram_xent` and :func:`quality_lang_tertiles` (one
    implementation, one oracle CTE — see :func:`_xent_core_sql`)."""
    toks = _doc_tokens(docs).select(
        "doc_id", "lang", "n_tokens", F.explode("toks").alias("tok")
    )
    # NOTE (round 12): checkpointing the vocab + folding totals into
    # driver literals was MEASURED SLOWER here (16 jobs / 3.9 s warm
    # vs 15 / 2.2 s at sf0.1): the vocab materialization costs more
    # than the duplicated lightweight agg the two broadcast builds
    # share — so this keeps the two-broadcast shape on purpose.
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("vsize"),
    )
    lnp = F.log(
        (F.col("cnt") + F.lit(1.0))
        / (F.col("total") + F.col("vsize")).cast("double")
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .join(F.broadcast(totals))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(lnp * 1e9).cast("long").alias("lnp_scaled"),
        )
    )
    return scored.groupBy("doc_id", "lang", "n_tokens").agg(
        F.round(
            -F.sum("lnp_scaled").cast("double")
            / 1e9
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("unigram_xent"),
    )


def _xent_core_sql() -> str:
    """Shared CTE chain for the corpus unigram LM: per-doc token rows
    with lang, the smoothed vocabulary, and the per-document xent
    (round-6 double from the exact 1e-9-grid scaled-long sum). Reused
    by the xent report and the CCNet tertile bucketing so the two
    oracles cannot drift."""
    return """xdocs AS (
  SELECT doc_id, lang, regexp_split_to_array(TRIM(text), '\\s+') AS toks,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS INTEGER) AS n_tokens
  FROM documents WHERE text IS NOT NULL
), xtoks AS (
  SELECT doc_id, lang, n_tokens, unnest(toks) AS tok FROM xdocs
), xvocab AS (
  SELECT tok, COUNT(*) AS cnt FROM xtoks GROUP BY tok
), xtotals AS (
  SELECT SUM(cnt) AS total, COUNT(*) AS vsize FROM xvocab
), xent AS (
  SELECT doc_id, lang, n_tokens,
         ROUND(-CAST(SUM(CAST(ROUND(LN((cnt + 1.0) / CAST(total + vsize AS DOUBLE)) * 1e9) AS BIGINT)) AS DOUBLE)
               / 1e9 / CAST(n_tokens AS DOUBLE), 6) AS unigram_xent
  FROM xtoks JOIN xvocab USING (tok), xtotals
  GROUP BY doc_id, lang, n_tokens
)"""


UNIGRAM_XENT_ORACLE = f"""
WITH {_xent_core_sql()}
SELECT doc_id, n_tokens, unigram_xent FROM xent
"""


def lang_tercile_ranked(scored: DataFrame) -> DataFrame:
    """Per-language tercile assignment over a scored corpus —
    ``(doc_id, lang, n_tokens, unigram_xent, tercile ∈ {0,1,2})`` —
    the shared core of :func:`quality_lang_tertiles` (the audit table)
    and ``pipeline.pipeline_ccnet_corpus`` (the composed gate).

    Bucket rule: ``tercile = ((rank−1)·3) div n_lang`` over the
    per-language (xent, doc_id) rank — exact integer math, identical
    in both engines (deliberately NOT SQL NTILE, whose remainder
    distribution differs). The rank rides the grouped distributed
    prefix-sum tiling (see :func:`quality_rank_ensemble`): one
    range-partition on (lang, xent, doc_id), per-(lang, pid) counts,
    offsets via a bounded |langs|×|pids|-row window broadcast back —
    no language ever funnels through a single window task.
    """
    ranged = (
        scored.repartitionByRange("lang", "unigram_xent", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_off = (
        Window.partitionBy("lang")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # ONE pass over the checkpoint yields BOTH per-(lang, pid) rank
    # offsets (exclusive prefix sum) and the per-language total (full
    # partition sum): the two windows share the lang hash partition,
    # so Catalyst plans a single exchange — vs. the former separate
    # n_lang aggregate, which re-read the checkpoint and shipped a
    # second broadcast (two extra jobs per caller, pure scheduling
    # floor at bench scale).
    w_tot = Window.partitionBy("lang")
    offsets = (
        ranged.groupBy("lang", "pid")
        .agg(F.count(F.lit(1)).alias("pcnt"))
        .select(
            "lang",
            "pid",
            F.coalesce(
                F.sum("pcnt").over(w_off), F.lit(0).cast("long")
            ).alias("rank_off"),
            F.sum("pcnt").over(w_tot).alias("n_lang"),
        )
    )
    w_local = Window.partitionBy("lang", "pid").orderBy(
        "unigram_xent", "doc_id"
    )
    return (
        ranged.join(F.broadcast(offsets), ["lang", "pid"])
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "unigram_xent",
            (
                (
                    F.col("rank_off")
                    + F.row_number().over(w_local)
                    - F.lit(1)
                )
                * 3
            ).alias("rank3"),
            "n_lang",
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "unigram_xent",
            F.expr("rank3 div n_lang").alias("tercile"),
        )
    )


def quality_lang_tertiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: within each language, rank
    documents by unigram cross-entropy (the shared LM core of
    :func:`text_unigram_xent`) and split each language into equal
    thirds — ``head`` (lowest xent, cleanest), ``middle``, ``tail``.
    CCNet keeps head+middle and drops or down-samples tail; this is
    the audit table that decision reads: per (lang, bucket) document
    count, token inventory, and the xent band edges.

    Bucket rule (deliberately NOT SQL NTILE, whose remainder
    distribution differs): ``bucket = ((rank−1)·3) div n_lang`` over
    the per-language rank — exact integer math on the global rank,
    identical in both engines. The rank orders on the ROUND-6 xent
    with a doc_id tiebreak, so a sub-grid cross-engine ln() wobble
    cannot reorder rows.

    Shapes, sized for 100 TB: the per-language rank uses the
    distributed prefix-sum tiling generalized to a group key
    (:func:`quality_rank_ensemble`): one range-partition on
    (lang, xent, doc_id), per-(lang, pid) counts, offsets via a
    bounded |langs|×|pids|-row window broadcast back — no
    language ever funnels through a single window task (a
    ``Window.partitionBy(lang)`` with a handful of languages would
    be exactly the corpus-sized window the plan sweep forbids). The
    final rollup is |langs|×3 rows.
    """
    scored = _doc_xent(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_tokens", "unigram_xent"
    )
    ranked = lang_tercile_ranked(scored)
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        (F.col("tercile") + 1).cast("int"),
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("tok_sum"),
            F.min("unigram_xent").alias("min_xent"),
            F.max("unigram_xent").alias("max_xent"),
        )
    )


LANG_TERTILES_ORACLE = f"""
WITH {_xent_core_sql()},
lt_ranked AS (
  SELECT lang, n_tokens, unigram_xent,
         (ROW_NUMBER() OVER (PARTITION BY lang
                             ORDER BY unigram_xent, doc_id) - 1) * 3
           // COUNT(*) OVER (PARTITION BY lang) AS tercile
  FROM xent
)
SELECT lang,
       ['head', 'middle', 'tail'][CAST(tercile + 1 AS INTEGER)] AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
       MIN(unigram_xent) AS min_xent,
       MAX(unigram_xent) AS max_xent
FROM lt_ranked
GROUP BY 1, 2
"""


def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel observability: how many documents survive each
    Gopher rule applied cumulatively in sequence (word-length → alpha
    ratio → stopwords → symbols). One wide row — the dashboard number
    a corpus build reports after every filter stage.

    Composes :func:`operators.text.text_gopher_quality` (flags per
    doc) with a single global aggregate; the oracle composes the same
    way over the Gopher oracle SQL, so the two can never drift.
    """
    from duckdb_gsheets_spark.operators.text import text_gopher_quality

    g = text_gopher_quality(spark, sf_dir)
    c1 = F.col("rule_word_len")
    c2 = c1 * F.col("rule_alpha")
    c3 = c2 * F.col("rule_stopwords")
    c4 = c3 * F.col("rule_symbols")
    return g.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(c1).alias("pass_word_len"),
        F.sum(c2).alias("pass_alpha"),
        F.sum(c3).alias("pass_stopwords"),
        F.sum(c4).alias("pass_symbols"),
    )


def _quality_funnel_oracle() -> str:
    from duckdb_gsheets_spark.operators.text import TEXT_GOPHER_ORACLE

    return f"""
WITH gopher AS ({TEXT_GOPHER_ORACLE})
SELECT COUNT(*) AS n_input,
       CAST(SUM(rule_word_len) AS BIGINT) AS pass_word_len,
       CAST(SUM(rule_word_len * rule_alpha) AS BIGINT) AS pass_alpha,
       CAST(SUM(rule_word_len * rule_alpha * rule_stopwords) AS BIGINT) AS pass_stopwords,
       CAST(SUM(rule_word_len * rule_alpha * rule_stopwords * rule_symbols) AS BIGINT) AS pass_symbols
FROM gopher
"""


#: Tokenizer-vocabulary size for the OOV-coverage report: the corpus's
#: VOCAB_TOP most frequent tokens stand in for a trained tokenizer's
#: vocabulary. The synthetic corpus has a ~31-token vocabulary, so 20
#: keeps the OOV signal non-degenerate; a real run sets this to the
#: tokenizer's actual vocab size.
VOCAB_TOP = 20


def frequency_vocab(toks: DataFrame) -> DataFrame:
    """THE vocab rule — top ``VOCAB_TOP`` tokens by (count desc,
    token tiebreak) from any frame with a ``tok`` column, as a
    ``(tok, cnt)`` frame. Shared by the OOV audit and the tokenizer
    encode so the ranking/tiebreak can never silently diverge
    between them (one edit point). The top-K
    compiles to TakeOrderedAndProject — no global sort."""
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(VOCAB_TOP)
    )


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language out-of-vocabulary rate against a frequency-built
    vocabulary (the corpus's ``VOCAB_TOP`` most frequent tokens, count
    desc with token tiebreak — a deterministic stand-in for a trained
    tokenizer's vocab file).

    The pipeline metric behind "does our tokenizer cover this slice":
    high OOV in a language slice means byte-fallback blowup in token
    counts. Shapes: one vocab agg (map-side combined, top-k via
    TakeOrderedAndProject — no global sort), broadcast of the vocab
    (a tokenizer vocab is ≤100k entries by construction), LEFT join
    from the postings, per-language rollup.
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    toks = docs.select("lang", F.explode("toks").alias("tok"))
    vocab = frequency_vocab(toks).select("tok", F.lit(1).alias("in_vocab"))
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
        F.round(
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_rate"),
    )


VOCAB_OOV_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest(regexp_split_to_array(TRIM(text), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
), vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ORDER BY cnt DESC, tok LIMIT {VOCAB_TOP}
  )
)
SELECT lang, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY lang
"""


def source_unigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: per source, the chi-square distance
    between its unigram distribution and the corpus-global one over
    the shared ``frequency_vocab`` support — the "is this feed
    topically unlike the rest of the crawl" screen run before mixing
    a new source in, plus the single most-drifted term as the
    explanation.

    Determinism: each of the K per-term summands is computed in ONE
    written double-op order, snapped to the 1e-9 grid as a LONG
    (text_unigram_xent's pattern), and summed exactly — so the
    chi-square is independent of Spark's aggregation order. Shapes:
    wordcount + broadcast-vocab filter, then everything is
    |sources|×K-bounded (grid cross of two broadcast-scale tables,
    bounded rollups, partitioned top-term window).

    Scan ledger (round-8 fix — the round-7 plan audit caught this
    query re-expanding the vocab subtree into EVERY downstream
    branch: 32 parquet scans / 34 exchanges). The K-row vocab and
    the |sources|×K filled grid are both bounded regardless of
    corpus size, so each is eagerly ``localCheckpoint``'ed; the four
    rollups and the top-term window then read materialized blocks.
    Exactly three corpus scans remain: the vocab wordcount, the
    per-(source, tok) count, and a column-pruned source spine.
    """
    docs_tbl = load_table(spark, sf_dir, "documents")
    toks = _doc_tokens(docs_tbl).select(
        "source", F.explode("toks").alias("tok")
    )
    vocab = frequency_vocab(toks).select("tok").localCheckpoint(eager=True)
    counts = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Source spine via a column-pruned base-table scan, not the
    # tokenized stream: split() yields >= 1 token for every non-NULL
    # text, so DISTINCT source over tokens == DISTINCT source over
    # non-NULL-text rows (the oracle's `SELECT DISTINCT source FROM
    # toks` agrees by the same argument).
    sources = (
        docs_tbl.where(F.col("text").isNotNull())
        .select("source")
        .distinct()
    )
    grid = sources.crossJoin(F.broadcast(vocab))
    filled = (
        grid.join(F.broadcast(counts), ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.coalesce("c", F.lit(0).cast("long")).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    per_src = filled.groupBy("source").agg(F.sum("c").alias("t_s"))
    per_tok = filled.groupBy("tok").agg(F.sum("c").alias("c_g"))
    total = filled.agg(F.sum("c").alias("t_g"))
    ps = F.when(F.col("t_s") == 0, F.lit(0.0)).otherwise(
        F.col("c").cast("double") / F.col("t_s").cast("double")
    )
    pg = F.col("c_g").cast("double") / F.col("t_g").cast("double")
    dv = ps - pg
    scaled = F.round((dv * dv / pg) * F.lit(1e9)).cast("long")
    terms = (
        filled.join(F.broadcast(per_src), "source")
        .join(F.broadcast(per_tok), "tok")
        .join(F.broadcast(total))
        .select("source", "tok", "t_s", scaled.alias("sv"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("sv"), F.col("tok"))
    top = (
        terms.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "source",
            F.col("tok").alias("top_drift_term"),
            F.round(F.col("sv").cast("double") / F.lit(1e9), 6).alias(
                "top_drift_val"
            ),
        )
    )
    agg = terms.groupBy("source").agg(
        F.max("t_s").alias("n_vocab_tokens"),
        F.round(F.sum("sv").cast("double") / F.lit(1e9), 6).alias("chisq"),
    )
    return agg.join(F.broadcast(top), "source").select(
        "source", "n_vocab_tokens", "chisq", "top_drift_term", "top_drift_val"
    )


SOURCE_DRIFT_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(TRIM(text), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
), vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ORDER BY cnt DESC, tok LIMIT {VOCAB_TOP}
  )
), counts AS (
  SELECT t.source, t.tok, COUNT(*) AS c
  FROM toks t JOIN vocab v ON v.tok = t.tok
  GROUP BY t.source, t.tok
), grid AS (
  SELECT s.source, v.tok
  FROM (SELECT DISTINCT source FROM toks) s CROSS JOIN vocab v
), filled AS (
  SELECT g.source, g.tok, COALESCE(c.c, 0) AS c
  FROM grid g LEFT JOIN counts c
    ON c.source = g.source AND c.tok = g.tok
), per_src AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS t_s FROM filled GROUP BY source
), per_tok AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS c_g FROM filled GROUP BY tok
), total AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t_g FROM filled
), terms AS (
  SELECT f.source, f.tok, p.t_s,
         CAST(ROUND((
           (CASE WHEN p.t_s = 0 THEN 0.0
                 ELSE CAST(f.c AS DOUBLE) / CAST(p.t_s AS DOUBLE) END
            - CAST(k.c_g AS DOUBLE) / CAST(t.t_g AS DOUBLE))
           * (CASE WHEN p.t_s = 0 THEN 0.0
                   ELSE CAST(f.c AS DOUBLE) / CAST(p.t_s AS DOUBLE) END
              - CAST(k.c_g AS DOUBLE) / CAST(t.t_g AS DOUBLE))
           / (CAST(k.c_g AS DOUBLE) / CAST(t.t_g AS DOUBLE))
         ) * 1000000000.0) AS BIGINT) AS sv
  FROM filled f
  JOIN per_src p ON p.source = f.source
  JOIN per_tok k ON k.tok = f.tok
  CROSS JOIN total t
), top AS (
  SELECT source, tok AS top_drift_term,
         ROUND(CAST(sv AS DOUBLE) / 1000000000.0, 6) AS top_drift_val
  FROM (
    SELECT source, tok, sv,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY sv DESC, tok) AS rk
    FROM terms
  ) WHERE rk = 1
)
SELECT a.source, a.n_vocab_tokens, a.chisq,
       p.top_drift_term, p.top_drift_val
FROM (
  SELECT source, MAX(t_s) AS n_vocab_tokens,
         ROUND(CAST(SUM(sv) AS DOUBLE) / 1000000000.0, 6) AS chisq
  FROM terms GROUP BY source
) a JOIN top p ON p.source = a.source
"""


def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile corpus report over the heuristic quality score —
    the audit behind threshold-based data selection ("keep the top 30%
    by quality"): how many documents and characters live in each
    score band, and where the band boundaries fall.

    Deciles are assigned at the DISTINCT-VALUE level, not per row: all
    documents sharing a (6-decimal) score land in the decile of that
    value's first row under dense descending rank. That keeps the
    wide work bounded by the number of distinct score values (≤ 1e6
    by construction — scores live on the round-6 grid in [0,1]), so
    the only window here runs over the distinct-value table, never the
    corpus: scan → groupBy(quality) → tiny cumulative window → tiny
    groupBy(decile). A per-row ``ntile`` would instead pull the whole
    corpus through one unpartitioned window task — the global-sort
    trap this formulation exists to avoid at 100 TB.

    avg_quality is exact: scores are already on the 1e-6 grid, so the
    weighted sum goes through scaled longs (integer arithmetic in
    both engines) with one rounded division at the end.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.where(F.col("text").isNotNull()).select(
        T.quality_score(F.col("text")).alias("quality"),
        "n_chars",
    )
    vals = scored.groupBy("quality").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_chars").alias("chars"),
    )
    # Unpartitioned window over a provably bounded input: the quality
    # grid has ≤1e6 distinct values at any corpus size (allowlisted in
    # the unpartitioned-window sweep, tests/test_plans.py).
    w = (
        Window.orderBy(F.desc("quality"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vals.select(
        "quality",
        "cnt",
        "chars",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("n_before"),
    ).join(
        F.broadcast(vals.agg(F.sum("cnt").alias("n_total")))
    )
    tiled = cum.withColumn(
        "decile",
        (F.lit(1) + F.expr("div(n_before * 10, n_total)")).cast("int"),
    )
    qscaled = F.round(F.col("quality") * F.lit(1000000.0)).cast("long")
    return (
        tiled.groupBy("decile")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
            F.round(
                F.sum(qscaled * F.col("cnt"))
                / (F.sum("cnt") * F.lit(1000000.0)),
                6,
            ).alias("avg_quality"),
            F.sum("chars").alias("n_chars_total"),
        )
    )


QUALITY_DECILES_ORACLE = f"""
WITH scored AS (
  SELECT {T.oracle_quality_score()} AS quality, n_chars
  FROM documents WHERE text IS NOT NULL
), vals AS (
  SELECT quality, COUNT(*) AS cnt, SUM(n_chars) AS chars
  FROM scored GROUP BY quality
), cum AS (
  SELECT quality, cnt, chars,
         SUM(cnt) OVER (ORDER BY quality DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS n_before,
         SUM(cnt) OVER () AS n_total
  FROM vals
), tiled AS (
  SELECT CAST(1 + (n_before * 10) // n_total AS INTEGER) AS decile, *
  FROM cum
)
SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_docs,
       MIN(quality) AS min_quality, MAX(quality) AS max_quality,
       ROUND(SUM(CAST(ROUND(quality * 1000000.0) AS BIGINT) * cnt)
             / (SUM(cnt) * 1000000.0), 6) AS avg_quality,
       CAST(SUM(chars) AS BIGINT) AS n_chars_total
FROM tiled
GROUP BY decile
"""


def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the heuristic quality score against the
    Gopher rule gate — the calibration audit a pipeline runs before
    trusting a score threshold: per score decile, the mean score
    ("confidence") next to the fraction of documents the independent
    rule gate passes ("accuracy"), plus the signed gap between them.
    A well-calibrated score has the pass rate rise with the decile
    and a small |gap|; a decile where they diverge is where a
    score-threshold filter and a rule filter disagree, and the gap
    column is exactly the per-bin term of Expected Calibration Error
    (Guo et al., ICML 2017) before the |·|-weighting.

    Deciles ride :func:`quality_deciles`' distinct-value tiling (the
    only window runs over the ≤1e6-value score grid, never the
    corpus); the gate flags come from the shared
    ``text.gopher_rules`` projection, so both signals are fused into
    ONE corpus scan. Everything downstream of the scan is
    value-grid-sized: one bounded cumulative window, a 10-row rollup.

    Exactness: scores live on the 1e-6 grid → scaled-long means; the
    pass rate and gap are single correctly-rounded divisions; the
    same recipe in the oracle.
    """
    from duckdb_gsheets_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    scored = gopher_rules(
        docs.select("doc_id", "text", T.quality_score(F.col("text")).alias("quality")),
        carry=("quality",),
    ).select("quality", "passes")
    vals = scored.groupBy("quality").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("passes").alias("n_pass"),
    )
    # Unpartitioned window over a provably bounded input (≤1e6 grid
    # values at any corpus size — allowlisted in tests/test_plans.py).
    w = (
        Window.orderBy(F.desc("quality"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vals.select(
        "quality",
        "cnt",
        "n_pass",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("n_before"),
    ).join(F.broadcast(vals.agg(F.sum("cnt").alias("n_total"))))
    tiled = cum.withColumn(
        "decile",
        (F.lit(1) + F.expr("div(n_before * 10, n_total)")).cast("int"),
    )
    qscaled = F.round(F.col("quality") * F.lit(1000000.0)).cast("long")
    mean_q = F.round(
        F.sum(qscaled * F.col("cnt")) / (F.sum("cnt") * F.lit(1000000.0)), 6
    )
    pass_rate = F.round(
        F.sum("n_pass").cast("double") / F.sum("cnt").cast("double"), 6
    )
    return tiled.groupBy("decile").agg(
        F.sum("cnt").alias("n_docs"),
        mean_q.alias("mean_score"),
        pass_rate.alias("gopher_pass_rate"),
        F.round(mean_q - pass_rate, 6).alias("calibration_gap"),
    )


QUALITY_CALIBRATION_ORACLE = f"""
WITH qc_base AS (
  SELECT {T.oracle_quality_score()} AS quality,
         CAST(len({T.oracle_tokens()}) AS BIGINT) AS n_tokens,
         CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS BIGINT)
           AS n_nonspace,
         CAST(len(list_filter({T.oracle_tokens()},
                              t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha_tokens,
         CAST({T.oracle_stopword_hits_total()} AS BIGINT) AS n_stopwords,
         CAST(len(regexp_extract_all(text, '{T.PUNCT_PATTERN}')) AS BIGINT)
           AS n_symbols
  FROM documents WHERE text IS NOT NULL
), qc_scored AS (
  SELECT quality,
         CAST((100 * n_nonspace) // n_tokens BETWEEN 300 AND 1000
              AND n_alpha_tokens * 100 >= n_tokens * 80
              AND n_stopwords >= 2
              AND n_symbols * 4 <= n_tokens AS INTEGER) AS passes
  FROM qc_base
), qc_vals AS (
  SELECT quality, COUNT(*) AS cnt, SUM(passes) AS n_pass
  FROM qc_scored GROUP BY quality
), qc_cum AS (
  SELECT quality, cnt, n_pass,
         SUM(cnt) OVER (ORDER BY quality DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS n_before,
         SUM(cnt) OVER () AS n_total
  FROM qc_vals
), qc_tiled AS (
  SELECT CAST(1 + (n_before * 10) // n_total AS INTEGER) AS decile, *
  FROM qc_cum
)
SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_docs,
       ROUND(SUM(CAST(ROUND(quality * 1000000.0) AS BIGINT) * cnt)
             / (SUM(cnt) * 1000000.0), 6) AS mean_score,
       ROUND(CAST(SUM(n_pass) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
         AS gopher_pass_rate,
       ROUND(ROUND(SUM(CAST(ROUND(quality * 1000000.0) AS BIGINT) * cnt)
                   / (SUM(cnt) * 1000000.0), 6)
             - ROUND(CAST(SUM(n_pass) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6), 6)
         AS calibration_gap
FROM qc_tiled
GROUP BY decile
"""


#: Vocabulary-size checkpoints for the coverage curve (powers of two,
#: the grid a tokenizer-size sweep actually evaluates).
COVERAGE_CHECKPOINTS = (8, 16, 32, 64, 128, 256)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve for tokenizer sizing: for each candidate
    vocabulary size k, what share of the corpus token stream the k
    most frequent tokens cover. The knee of this curve is where a
    frequency-built vocab stops paying for itself.

    Shapes: one map-side-combined token count (the only corpus-wide
    pass), then a DISTRIBUTED PREFIX-SUM rank/cumulate over the
    distinct-token table (same tiling as orders_pareto_share /
    window_ntile): range-partition by descending count, rank and
    cumulate within each partition in parallel windows, and add
    per-partition (row-count, token-sum) offsets from a bounded
    |partitions|-row window broadcast back onto the stream — a
    web-scale vocabulary (billions of distinct tokens) never funnels
    through one task. The grand totals ride the same offsets
    broadcast, so there is no separate 1-row cross join. The
    range-partitioned table is localCheckpoint'ed (eager) so both
    consumers read ONE pid assignment; blocks are
    ContextCleaner-freed with the frame. Coverage shares are one
    rounded division over exact integer sums.
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranged = (
        counts.repartitionByRange(F.desc("cnt"), "tok")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        ranged.groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("pcnt"),
            F.sum("cnt").alias("ptok"),
        )
        .select(
            "pid",
            F.coalesce(F.sum("pcnt").over(w_off), F.lit(0).cast("long")).alias(
                "rank_off"
            ),
            F.coalesce(F.sum("ptok").over(w_off), F.lit(0).cast("long")).alias(
                "tok_off"
            ),
            F.sum("ptok").over(w_all).alias("total_tokens"),
            F.sum("pcnt").over(w_all).alias("vocab_total"),
        )
    )
    w_local = Window.partitionBy("pid").orderBy(F.desc("cnt"), "tok")
    ranked = ranged.join(F.broadcast(offsets), "pid").select(
        "cnt",
        (F.col("rank_off") + F.row_number().over(w_local))
        .cast("int")
        .alias("rank"),
        (
            F.col("tok_off")
            + F.sum("cnt").over(
                w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("cum_tokens"),
        "total_tokens",
        "vocab_total",
    )
    return (
        ranked.where(
            F.col("rank").isin(*COVERAGE_CHECKPOINTS)
            | (F.col("rank") == F.col("vocab_total"))
        )
        .select(
            F.col("rank").alias("vocab_size"),
            "cum_tokens",
            "total_tokens",
            F.round(
                F.col("cum_tokens").cast("double") / F.col("total_tokens"),
                6,
            ).alias("coverage"),
        )
    )


_CHECKPOINTS_SQL = ", ".join(str(k) for k in COVERAGE_CHECKPOINTS)

VOCAB_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(TRIM(text), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL
), counts AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
), ranked AS (
  SELECT cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, tok
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         SUM(cnt) OVER () AS total_tokens,
         COUNT(*) OVER () AS vocab_total
  FROM counts
)
SELECT CAST(rank AS INTEGER) AS vocab_size,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       ROUND(CAST(cum_tokens AS DOUBLE) / total_tokens, 6) AS coverage
FROM ranked
WHERE rank IN ({_CHECKPOINTS_SQL}) OR rank = vocab_total
"""


#: Scale of the resampling hash grid: thresholds are integers in
#: [0, 2^32], compared against the first 8 md5 hex digits.
RESAMPLE_GRID = 4_294_967_296


def resample_thresholds(docs: DataFrame) -> DataFrame:
    """(lang, n_docs_in, lang_tokens, threshold) from a tokenized
    corpus frame — the pure-integer equal-token-share thresholds
    shared by the resample operator and the pipeline gate."""
    by_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs_in"),
        F.sum("n_tokens").alias("lang_tokens"),
    )
    totals = by_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return (
        by_lang.join(F.broadcast(totals))
        .withColumn(
            # The scaled product total_tokens * 2^32 overflows int64 past
            # ~2.1e9 total tokens, so it is computed in DECIMAL(38,0)
            # (exact to 1e38; `div` on decimals floor-divides exactly and
            # returns BIGINT). The oracle mirrors this with HUGEINT.
            "threshold",
            F.least(
                F.lit(RESAMPLE_GRID).cast("long"),
                F.expr(
                    f"(CAST(total_tokens AS DECIMAL(38,0)) * {RESAMPLE_GRID})"
                    f" div (CAST(n_langs AS DECIMAL(38,0)) * lang_tokens)"
                ),
            ),
        )
        .select("lang", "n_docs_in", "lang_tokens", "threshold")
    )


def resample_keep_cond() -> Column:
    """Deterministic keep predicate over (doc_id, threshold) columns.

    The hex comparand is clamped to ``RESAMPLE_GRID - 1`` so it is
    always exactly 8 hex chars (``hex(2^32)`` is 9 chars and lpad
    would silently truncate it). The clamp never changes the result:
    whenever ``threshold >= RESAMPLE_GRID`` the first disjunct is
    already true.
    """
    prefix = F.upper(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    )
    clamped = F.least(F.col("threshold"), F.lit(RESAMPLE_GRID - 1))
    return (F.col("threshold") >= F.lit(RESAMPLE_GRID)) | (
        prefix < F.lpad(F.hex(clamped), 8, "0")
    )


def corpus_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-rebalancing resample: each language is
    down-sampled toward an equal share of the token budget
    (``target = total_tokens / n_langs``), the UniMax-style flattening
    pass that follows :func:`corpus_mix_weights` in a real pipeline.

    The keep-decision is reproducible and engine-independent: doc
    ``d`` of language ``l`` survives iff
    ``md5(doc_id)[:8] < to_hex(threshold_l)`` where
    ``threshold_l = min(2^32, (total_tokens · 2^32) // (n_langs ·
    tokens_l))`` — pure INTEGER arithmetic end to end, so there is no
    float boundary for engines to disagree on (the scaled product is
    computed in DECIMAL(38,0) on the Spark side and HUGEINT in the
    oracle, so it stays exact far past the ~2e9-total-token int64
    boundary — no silent wraparound at 100 TB corpus sizes). Over-represented languages get
    threshold < 2^32 (true down-sampling); under-represented ones cap
    at 2^32 and keep everything.

    Plan: one groupBy(lang) for token totals (map-side combined), a
    broadcast of the |languages|-row threshold table back onto the
    corpus scan (narrow filter — no shuffle of the corpus), then one
    groupBy(lang) rollup of survivors.
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    thresholds = resample_thresholds(docs)
    kept = docs.join(F.broadcast(thresholds), "lang").where(
        resample_keep_cond()
    )
    return (
        kept.groupBy("lang", "n_docs_in", "lang_tokens", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("n_tokens_kept"),
        )
        .select(
            "lang",
            "n_docs_in",
            "n_docs_kept",
            "lang_tokens",
            "n_tokens_kept",
            F.round(
                F.col("n_docs_kept").cast("double") / F.col("n_docs_in"), 6
            ).alias("doc_keep_rate"),
        )
    )


CORPUS_RESAMPLE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n_tokens
  FROM documents WHERE text IS NOT NULL
), by_lang AS (
  SELECT lang, COUNT(*) AS n_docs_in, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
  FROM toks GROUP BY lang
), totals AS (
  SELECT SUM(lang_tokens) AS total_tokens, COUNT(*) AS n_langs FROM by_lang
), thresholds AS (
  SELECT lang, n_docs_in, lang_tokens,
         CAST(LEAST({RESAMPLE_GRID},
                    (CAST(total_tokens AS HUGEINT) * {RESAMPLE_GRID})
                    // (CAST(n_langs AS HUGEINT) * lang_tokens))
              AS BIGINT) AS threshold
  FROM by_lang, totals
), kept AS (
  SELECT t.lang, t.n_tokens
  FROM toks t JOIN thresholds h ON t.lang = h.lang
  WHERE h.threshold >= {RESAMPLE_GRID}
     OR UPPER(SUBSTRING(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))
        < LPAD(to_hex(LEAST(h.threshold, {RESAMPLE_GRID} - 1)), 8, '0')
)
SELECT h.lang, h.n_docs_in, COUNT(*) AS n_docs_kept,
       h.lang_tokens, CAST(SUM(k.n_tokens) AS BIGINT) AS n_tokens_kept,
       ROUND(CAST(COUNT(*) AS DOUBLE) / h.n_docs_in, 6) AS doc_keep_rate
FROM kept k JOIN thresholds h ON k.lang = h.lang
GROUP BY h.lang, h.n_docs_in, h.lang_tokens
"""


def dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset datasheet (Gebru et al., "Datasheets for
    Datasets", CACM 2021): the one-row-per-source summary a corpus
    release ships — volume (docs, tokens, chars), language diversity,
    mean quality, and exact-duplication rate — composed from the same
    oracle-locked builders the standalone operators use, so the
    datasheet can never drift from the metrics it summarizes.

    One scan computes every per-doc scalar (tokens, quality,
    fingerprint — all narrow); the dup flag costs ONE fingerprint
    window (first occurrence per content hash, corpus-wide), then a
    |sources|-row rollup. Quality means ride exact scaled longs.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split(F.trim(F.col("text")), WHITESPACE_SPLIT)).alias(
            "n_tokens"
        ),
        F.length("text").alias("n_chars"),
        F.round(T.quality_score(F.col("text")) * 1e6).cast("long").alias(
            "q_s"
        ),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    flagged = base.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("long")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("q_s") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "mean_quality"
        ),
        F.sum("is_dup").alias("n_exact_dups"),
        F.round(
            F.sum("is_dup").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
    )


DATASHEET_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source, lang,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n_tokens,
         LENGTH(text) AS n_chars,
         CAST(ROUND(({T.oracle_quality_score()}) * 1e6) AS BIGINT) AS q_s,
         {T.oracle_fingerprint()} AS fp
  FROM documents WHERE text IS NOT NULL
), flagged AS (
  SELECT source, lang, n_tokens, n_chars, q_s,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1
              THEN 1 ELSE 0 END AS is_dup
  FROM base
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(q_s) AS DOUBLE) / (COUNT(*) * 1e6), 6)
         AS mean_quality,
       CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
       ROUND(CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_rate
FROM flagged
GROUP BY source
"""


def vocab_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a frequency-built vocabulary as a TOKENIZER: every
    whitespace token becomes its vocab id (rank by count desc, token
    tiebreak — the deterministic stand-in for a trained vocab file,
    same recipe as :func:`vocab_oov_rate`), OOV tokens become the
    reserved id 0. The per-document id stream is scalarized to an
    order-preserving md5 digest plus OOV accounting — the encode step
    every training-data pipeline runs after tokenizer training, in a
    driver-hashable shape.

    Shapes: one map-side-combined vocab count with a
    TakeOrderedAndProject top-K (no global sort over the token
    table), id assignment via a window over the ≤``VOCAB_TOP``-row
    winner table (bounded by construction — allowlisted in the
    unpartitioned-window sweep), vocab BROADCAST onto the postings
    (the corpus never shuffles for the lookup), then one doc_id
    rollup whose collect_list is made order-deterministic by sorting
    (pos, id) structs before the digest.
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "n_tokens",
        F.posexplode("toks").alias("pos", "tok"),
    )
    w_vocab = Window.orderBy(F.desc("cnt"), "tok")
    vocab_ids = frequency_vocab(toks).select(
        "tok", F.row_number().over(w_vocab).alias("tok_id")
    )
    enc = toks.join(F.broadcast(vocab_ids), "tok", "left").select(
        "doc_id",
        "n_tokens",
        "pos",
        F.coalesce("tok_id", F.lit(0)).alias("tok_id"),
    )
    return enc.groupBy("doc_id", "n_tokens").agg(
        F.sum(F.when(F.col("tok_id") == 0, 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("tok_id") == 0, 1).otherwise(0)).cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("oov_rate"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok_id"))),
                    lambda s: s["tok_id"].cast("string"),
                ),
            )
        ).alias("ids_digest"),
    )


VOCAB_TOKENIZE_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS toks,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS INTEGER)
           AS n_tokens
  FROM documents WHERE text IS NOT NULL
), toks AS (
  SELECT doc_id, n_tokens,
         unnest(toks) AS tok,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM docs
), vocab_ids AS (
  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INTEGER)
           AS tok_id
  FROM (
    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ORDER BY cnt DESC, tok LIMIT {VOCAB_TOP}
  )
), enc AS (
  SELECT t.doc_id, t.n_tokens, t.pos, COALESCE(v.tok_id, 0) AS tok_id
  FROM toks t LEFT JOIN vocab_ids v USING (tok)
)
SELECT doc_id, n_tokens,
       CAST(SUM(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(CAST(SUM(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(n_tokens AS DOUBLE), 6) AS oov_rate,
       md5(string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY pos))
         AS ids_digest
FROM enc GROUP BY doc_id, n_tokens
"""


def text_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BIGRAM cross-entropy against the corpus's own
    add-one-smoothed bigram LM — the next rung above
    :func:`text_unigram_xent` on the CCNet-style quality ladder:
    ``xent(d) = −(1/(|d|−1)) Σ ln((count(w1,w2)+1) /
    (count(w1)+|V|))``. Repetitive/templated text scores low (its
    bigrams dominate the corpus), incoherent token soup scores high
    even when its unigrams are common — the signal unigram scoring
    cannot see.

    Determinism: identical to the unigram operator — each ln rounds
    to the 1e-9 grid and scales to a long, so the per-document sum is
    exact integer arithmetic in both engines (libm ulp drift ≪ grid).

    Shapes: the bigram stream is a narrow lead-free HOF zip over each
    document's own token array (no window), the bigram/unigram count
    tables aggregate map-side, and both LM tables BROADCAST onto the
    stream (a production vocab drops the hints for shuffle joins —
    shape unchanged). Single-token documents are excluded by
    construction (no bigrams to score).
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents")).where(
        F.col("n_tokens") >= 2
    )
    bi = docs.select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "n_tokens", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bigrams = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_bi"))
    unigrams = (
        docs.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_uni"))
    )
    vsize = unigrams.agg(F.count(F.lit(1)).alias("vsize"))
    lnp = F.log(
        (F.col("n_bi") + F.lit(1.0))
        / (F.col("n_uni") + F.col("vsize")).cast("double")
    )
    scored = (
        bi.join(F.broadcast(bigrams), ["w1", "w2"])
        .join(F.broadcast(unigrams.withColumnRenamed("tok", "w1")), "w1")
        .join(F.broadcast(vsize))
        .select(
            "doc_id",
            "n_tokens",
            F.round(lnp * 1e9).cast("long").alias("lnp_scaled"),
        )
    )
    return scored.groupBy("doc_id", "n_tokens").agg(
        F.round(
            -F.sum("lnp_scaled").cast("double")
            / 1e9
            / (F.col("n_tokens") - F.lit(1)).cast("double"),
            6,
        ).alias("bigram_xent"),
    )


BIGRAM_XENT_ORACLE = """
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS toks,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS INTEGER)
           AS n_tokens
  FROM documents
  WHERE text IS NOT NULL
    AND len(regexp_split_to_array(TRIM(text), '\\s+')) >= 2
), bi AS (
  SELECT doc_id, n_tokens,
         unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM docs
), bigrams AS (
  SELECT w1, w2, COUNT(*) AS n_bi FROM bi GROUP BY w1, w2
), unigrams AS (
  SELECT unnest(toks) AS tok FROM docs
), uni_counts AS (
  SELECT tok, COUNT(*) AS n_uni FROM unigrams GROUP BY tok
), vsize AS (
  SELECT COUNT(*) AS vsize FROM uni_counts
)
SELECT b.doc_id, b.n_tokens,
       ROUND(-CAST(SUM(CAST(ROUND(LN((g.n_bi + 1.0)
                / CAST(u.n_uni + v.vsize AS DOUBLE)) * 1e9) AS BIGINT))
             AS DOUBLE) / 1e9
             / CAST(b.n_tokens - 1 AS DOUBLE), 6) AS bigram_xent
FROM bi b
JOIN bigrams g USING (w1, w2)
JOIN uni_counts u ON u.tok = b.w1
CROSS JOIN vsize v
GROUP BY b.doc_id, b.n_tokens
"""


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source LOG2-bucketed document-length histogram — the
    power-law sanity check a datasheet reader wants next to the mean
    ("is this crawl all tweets, all books, or the usual heavy tail"),
    and the input to context-length budgeting. Bucket b holds docs
    with ``2^(b−1) ≤ n_tokens < 2^b``.

    The bucket index is EXACT integer math in both engines — the
    length of the binary representation of the token count
    (``floor(log2 n)+1``) — so no engine's ``log2`` rounding near
    power-of-two boundaries can move a document across buckets.
    Shapes: narrow projection, one map-side-combined rollup to
    |sources|×|buckets| rows.
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    bucket = F.length(F.conv(F.col("n_tokens").cast("string"), 10, 2))
    return (
        docs.select("source", bucket.alias("bucket"), "n_tokens")
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "source",
            "bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)").alias(
                "len_lo"
            ),
            F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1").alias(
                "len_hi"
            ),
            "n_docs",
            "total_tokens",
        )
    )


DOC_LENGTH_HISTOGRAM_ORACLE = """
WITH toks AS (
  SELECT source,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n_tokens
  FROM documents WHERE text IS NOT NULL
), bucketed AS (
  SELECT source, CAST(length(bin(n_tokens)) AS INTEGER) AS bucket,
         n_tokens
  FROM toks
)
SELECT source, bucket,
       (CAST(1 AS BIGINT) << (bucket - 1)) AS len_lo,
       (CAST(1 AS BIGINT) << bucket) - 1 AS len_hi,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM bucketed
GROUP BY source, bucket
"""


def vocab_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-of-frequencies spectrum: how many distinct
    token types occur ``2^(b−1) ≤ cnt < 2^b`` times, and what share
    of the total token mass that bucket carries — the Zipf sanity
    check ("is the head eating the corpus, is the singleton tail
    bloated") that sizes vocabularies and smoothing cutoffs.

    Buckets reuse doc_length_histogram's binary-representation-length
    trick, so bucket assignment is EXACT integer math in both
    engines. Shuffle ledger: wordcount (map-side-combined groupBy
    tok), then a rollup to ≤64 bucket rows and a 1-row total-mass
    broadcast for the share — nothing after the wordcount exceeds 64
    rows.
    """
    toks = _doc_tokens(load_table(spark, sf_dir, "documents")).select(
        F.explode("toks").alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    spec = (
        counts.select(
            F.length(
                F.conv(F.col("cnt").cast("string"), 10, 2)
            ).alias("bucket"),
            "cnt",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("cnt").alias("token_mass"),
        )
    )
    total = spec.agg(F.sum("token_mass").alias("total_mass"))
    return spec.join(F.broadcast(total)).select(
        "bucket",
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)").alias("freq_lo"),
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1").alias("freq_hi"),
        "n_types",
        "token_mass",
        F.round(
            F.col("token_mass").cast("double")
            / F.col("total_mass").cast("double"),
            6,
        ).alias("mass_share"),
    )


VOCAB_FREQ_SPECTRUM_ORACLE = """
WITH counts AS (
  SELECT tok, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(TRIM(text), '\\s+')) AS tok
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY tok
), spec AS (
  SELECT CAST(length(bin(cnt)) AS INTEGER) AS bucket,
         COUNT(*) AS n_types,
         CAST(SUM(cnt) AS BIGINT) AS token_mass
  FROM counts GROUP BY 1
), total AS (SELECT SUM(token_mass) AS total_mass FROM spec)
SELECT bucket,
       (CAST(1 AS BIGINT) << (bucket - 1)) AS freq_lo,
       (CAST(1 AS BIGINT) << bucket) - 1 AS freq_hi,
       n_types, token_mass,
       ROUND(CAST(token_mass AS DOUBLE) / CAST(total_mass AS DOUBLE), 6)
         AS mass_share
FROM spec, total
"""


#: Batches for the Heaps'-law growth curve (corpus split into equal
#: doc_id ranges; the curve reports new-type discovery per batch).
N_GROWTH_BATCHES = 10


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: split the corpus into
    ``N_GROWTH_BATCHES`` equal doc_id ranges and report, per batch,
    the new token types first seen there plus cumulative type and
    token counts — "how fast does the vocabulary still grow" decides
    whether more crawl yields new language or just more of the same.

    Cumulative-distinct is NOT computed by re-scanning prefixes:
    each type maps to its ``min(batch)`` (one wordcount-shaped agg),
    new-type counts roll up per batch, and the cumsum runs over the
    ≤N_GROWTH_BATCHES-row spine (bounded, allowlisted). Batch
    assignment is exact integer division against a broadcast 1-row
    max — eagerly ``localCheckpoint``'ed, because ``batched`` is
    consumed twice (doc-level stats + the explode) and an
    unmaterialized max would re-scan the corpus inside BOTH branches
    (round 7's plan: 4 scans; now 2 — one per distinct projection).
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    maxid = docs.agg(F.max("doc_id").alias("max_id")).localCheckpoint(
        eager=True
    )
    batched = docs.join(F.broadcast(maxid)).select(
        F.expr(
            f"CAST((doc_id * {N_GROWTH_BATCHES}) DIV (max_id + 1) AS INT)"
        ).alias("batch"),
        "toks",
        "n_tokens",
    )
    per_batch = batched.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    news = (
        batched.select("batch", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).alias("n_new_types"))
    )
    w = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    new_types = F.coalesce(F.col("n_new_types"), F.lit(0).cast("long"))
    return (
        per_batch.join(news, "batch", "left")
        .select(
            "batch",
            "n_docs",
            "n_tokens",
            new_types.alias("n_new_types"),
        )
        .select(
            "batch",
            "n_docs",
            "n_tokens",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            "n_new_types",
            F.sum("n_new_types").over(w).alias("cum_types"),
        )
    )


VOCAB_GROWTH_ORACLE = f"""
WITH m AS (
  SELECT MAX(doc_id) AS max_id FROM documents WHERE text IS NOT NULL
), batched AS (
  SELECT CAST((doc_id * {N_GROWTH_BATCHES}) // (max_id + 1) AS INTEGER)
           AS batch,
         regexp_split_to_array(TRIM(text), '\\s+') AS l
  FROM documents, m WHERE text IS NOT NULL
), per_batch AS (
  SELECT batch, COUNT(*) AS n_docs,
         CAST(SUM(len(l)) AS BIGINT) AS n_tokens
  FROM batched GROUP BY 1
), news AS (
  SELECT batch, COUNT(*) AS n_new_types FROM (
    SELECT tok, MIN(batch) AS batch
    FROM (SELECT batch, unnest(l) AS tok FROM batched)
    GROUP BY tok
  ) GROUP BY batch
)
SELECT p.batch, p.n_docs, p.n_tokens,
       CAST(SUM(p.n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(COALESCE(n.n_new_types, 0) AS BIGINT) AS n_new_types,
       CAST(SUM(COALESCE(n.n_new_types, 0)) OVER w AS BIGINT)
         AS cum_types
FROM per_batch p LEFT JOIN news n ON n.batch = p.batch
WINDOW w AS (ORDER BY p.batch ROWS UNBOUNDED PRECEDING)
"""


def doc_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document length — the
    inequality summary next to doc_length_histogram's shape view
    (Gini ≈ 0: uniform lengths, templating; high Gini: a few giants
    carry the source). Uses the rank formula
    ``G = (2·Σ i·x_i − (n+1)·Σx_i) / (n·Σx_i)`` so the whole
    computation is ONE ranked pass and integer sums — no pairwise
    |x_i − x_j| join.

    Exactness: ranks come from a source-partitioned window with a
    doc_id tiebreak (ties in x make the formula tie-order-invariant),
    and both sums accumulate in DECIMAL(38,0)/HUGEINT before a single
    fixed-order double division. Shuffle ledger: one source
    exchange for the window, then a |sources|-row rollup.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        F.col("n_chars").cast("decimal(38,0)").alias("x"),
        F.row_number().over(w).cast("decimal(38,0)").alias("i"),
    )
    per_src = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("six")
        - (F.col("n_docs") + F.lit(1)).cast("decimal(38,0)") * F.col("sx")
    )
    den = F.col("n_docs").cast("decimal(38,0)") * F.col("sx")
    return per_src.select(
        "source",
        "n_docs",
        F.col("sx").cast("long").alias("total_chars"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )


DOC_LENGTH_GINI_ORACLE = """
WITH ranked AS (
  SELECT source, CAST(n_chars AS HUGEINT) AS x,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY n_chars, doc_id) AS HUGEINT) AS i
  FROM documents WHERE text IS NOT NULL
), per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(x) AS sx, SUM(i * x) AS six
  FROM ranked GROUP BY source
)
SELECT source, n_docs, CAST(sx AS BIGINT) AS total_chars,
       ROUND(CAST(2 * six - (n_docs + 1) * sx AS DOUBLE)
             / CAST(n_docs * sx AS DOUBLE), 6) AS gini
FROM per_src
"""


#: Columns profiled by the completeness audit.
PROFILE_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")


def documents_completeness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-column completeness/cardinality profile of ``documents``:
    null count, null rate, and exact distinct count for every column
    — the dbt-style schema test battery as one operator (doc_id's
    distinct == row count IS the primary-key uniqueness check;
    distinct counts are exact here, HLL-sketchable at extreme
    cardinality as approx_count_distinct_users documents).

    Shuffle ledger: ONE aggregation pass computes every per-column
    statistic simultaneously (null sums map-side-combine; the
    distinct counts expand per-column, Spark plans them as a single
    multi-distinct aggregate), then a ``stack`` reshapes the 1-row
    result to |columns| rows — the corpus is scanned once, not once
    per column.
    """
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLUMNS:
        aggs.append(F.sum(F.isnull(c).cast("long")).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    one = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in PROFILE_COLUMNS
    )
    return one.select(
        F.expr(
            f"stack({len(PROFILE_COLUMNS)}, {stack_args}) "
            "AS (col_name, n_nulls, n_distinct)"
        ),
        "n_rows",
    ).select(
        "col_name",
        "n_rows",
        "n_nulls",
        F.round(
            F.col("n_nulls").cast("double") / F.col("n_rows").cast("double"),
            6,
        ).alias("null_rate"),
        "n_distinct",
    )


def _completeness_oracle() -> str:
    aggs = ["COUNT(*) AS n_rows"]
    for c in PROFILE_COLUMNS:
        aggs.append(
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nn_{c}"
        )
        aggs.append(f"COUNT(DISTINCT {c}) AS nd_{c}")
    branches = [
        f"""SELECT '{c}' AS col_name, n_rows, nn_{c} AS n_nulls,
       ROUND(CAST(nn_{c} AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
         AS null_rate,
       nd_{c} AS n_distinct FROM a"""
        for c in PROFILE_COLUMNS
    ]
    return (
        "WITH a AS (SELECT " + ", ".join(aggs) + " FROM documents)\n"
        + "\nUNION ALL\n".join(branches)
    )


COMPLETENESS_ORACLE = _completeness_oracle()


def quality_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-calibration audit: per language, the Pearson correlation
    between the heuristic quality score and the unigram-LM
    cross-entropy — do the two quality signals the pipeline gates on
    actually agree, and does the agreement hold across languages? A
    language where they diverge needs its thresholds re-tuned before
    any joint filter.

    Same determinism recipe as events_corr_value_hour: both signals
    land on the round-6 grid, scale to exact longs, the five
    co-moments accumulate as exact DECIMAL(38,0) sums — long sums
    overflow at n·Σy² ≈ 2e20 already at sf0.1 (the round-7 sf0.1
    sweep caught exactly this; DuckDB silently widens SUM(BIGINT) to
    HUGEINT, so only the Spark side blew up) — and the correlation is
    ONE fixed double expression: the exact integer combination
    n·Σxy − Σx·Σy fits 38 digits to ~sf10⁴, and the single
    decimal→double cast is correctly rounded in both engines.
    Shapes: the xent build's LM joins plus one doc_id-keyed join
    (co-locates at scale) and a |languages|-row rollup.
    """
    xent = text_unigram_xent(spark, sf_dir)
    scored = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select(
        "doc_id",
        "lang",
        T.quality_score(F.col("text")).alias("quality"),
    )
    pts = xent.join(scored, "doc_id").select(
        "lang",
        F.round(F.col("quality") * 1e6).cast("long").alias("x"),
        F.round(F.col("unigram_xent") * 1e6).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — exact widening
    stats = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
    )
    nn = dec(F.col("n"))
    varx = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nn * F.col("syy") - F.col("sy") * F.col("sy")
    num = (nn * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    # Degenerate slices (one doc, or constant quality/xent) have zero
    # variance: correlation is undefined there, so the row is FILTERED
    # rather than emitted as NaN (Spark) / NULL (DuckDB) — the same
    # guard convention as events_anomaly_mad's `mad > 0`.
    return stats.where((varx > 0) & (vary > 0)).select(
        "lang",
        "n",
        F.round(num / den, 6).alias("corr_quality_xent"),
    )


QUALITY_XENT_CORR_ORACLE = f"""
WITH xe AS ({UNIGRAM_XENT_ORACLE}),
qs AS (
  SELECT doc_id, lang, {T.oracle_quality_score("text")} AS quality
  FROM documents WHERE text IS NOT NULL
), pts AS (
  SELECT q.lang,
         CAST(ROUND(q.quality * 1000000) AS BIGINT) AS x,
         CAST(ROUND(x.unigram_xent * 1000000) AS BIGINT) AS y
  FROM xe x JOIN qs q ON q.doc_id = x.doc_id
), stats AS (
  SELECT lang, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pts GROUP BY lang
)
SELECT lang, n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
         AS corr_quality_xent
FROM stats
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


def quality_rank_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-free quality ensembling: rank every document under each
    of three heterogeneous signals (token length, lexical diversity,
    mean word length) and average the ranks (Borda blend). Rank
    averaging is how incomparable signals combine without hand-tuned
    normalization — a z-score blend breaks the moment one signal's
    distribution is heavy-tailed; ranks are invariant to any monotone
    rescaling.

    Shapes, sized for 100 TB: the three per-doc signals are one narrow
    scan pass, melted long (3 rows/doc). Each signal's global rank
    uses the distributed prefix-sum tiling (orders_pareto_share /
    vocab_coverage_curve), generalized to RESPECT A GROUP KEY: one
    range-partition on (signal, value desc, doc_id), per-(signal, pid)
    row counts, offsets via a bounded |signals|×|pids|-row window
    broadcast back — so no signal ever funnels through a single window
    task (a 3-partition ``Window.partitionBy(signal)`` would be
    exactly the corpus-sized window the plan sweep forbids). The
    pivot back to wide is one doc_id rollup.
    """
    base = _doc_tokens(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.length(F.array_join("toks", "")).cast("long").alias("n_tok_chars"),
    )
    nt = F.col("n_tokens").cast("double")
    long = base.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("len").alias("signal"), nt.alias("value")
                ),
                F.struct(
                    F.lit("div").alias("signal"),
                    (F.col("n_distinct").cast("double") / nt).alias("value"),
                ),
                F.struct(
                    F.lit("wlen").alias("signal"),
                    (F.col("n_tok_chars").cast("double") / nt).alias("value"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.signal", "s.value")
    ranged = (
        long.repartitionByRange("signal", F.desc("value"), "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_off = (
        Window.partitionBy("signal")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy("signal", "pid")
        .agg(F.count(F.lit(1)).alias("pcnt"))
        .select(
            "signal",
            "pid",
            F.coalesce(
                F.sum("pcnt").over(w_off), F.lit(0).cast("long")
            ).alias("rank_off"),
        )
    )
    w_local = Window.partitionBy("signal", "pid").orderBy(
        F.desc("value"), "doc_id"
    )
    ranked = ranged.join(F.broadcast(offsets), ["signal", "pid"]).select(
        "doc_id",
        "signal",
        (F.col("rank_off") + F.row_number().over(w_local))
        .cast("int")
        .alias("rank"),
    )
    r = lambda s: F.max(  # noqa: E731 — one-use pivot shorthand
        F.when(F.col("signal") == s, F.col("rank"))
    )
    return ranked.groupBy("doc_id").agg(
        r("len").alias("rank_len"),
        r("div").alias("rank_diversity"),
        r("wlen").alias("rank_wordlen"),
        F.round(
            (
                r("len") + r("div") + r("wlen")
            ).cast("double")
            / F.lit(3.0),
            6,
        ).alias("avg_rank"),
    )


def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token allocation under a fixed training budget via
    integer WATERFILLING: every source is granted up to a common level
    c chosen so that ``Σ min(avail_i, c) = B`` — small sources keep
    everything, large sources are capped at the water level. This is
    the budgeted counterpart of corpus_mix_weights: instead of a p^α
    tilt, a hard token budget (here ``B = total // 2``) is split as
    evenly as the source inventory allows.

    Exact integer construction (no floats until the final share):
    sort sources by (avail asc, source), k* = the largest rank whose
    source fits fully under the budget when all later sources are
    held at its level (``prefix_k + avail_k·(n−k) ≤ B``), then
    ``level = (B − prefix_k*) div (n − k*)`` and the integer remainder
    goes one token each to the first ``rem`` uncapped sources in the
    same total order — allocations sum to exactly B and never exceed
    a source's inventory (largest-remainder rounding).

    Scale: the corpus-wide work is ONE map-side-combined per-source
    token count; the waterfilling itself runs on the |sources|-row
    table (its unpartitioned window is bounded by the source count,
    not the corpus — allowlisted in the plan sweep).
    """
    docs = _doc_tokens(load_table(spark, sf_dir, "documents"))
    counts = docs.groupBy("source").agg(
        F.sum(F.col("n_tokens").cast("long")).alias("avail")
    )
    w = Window.orderBy("avail", "source")
    w_cur = w.rowsBetween(Window.unboundedPreceding, 0)
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    st = counts.select(
        "source",
        "avail",
        F.row_number().over(w).cast("long").alias("pos"),
        F.sum("avail").over(w_cur).alias("prefix"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("avail").over(w_all).alias("total"),
    ).withColumn("b", F.expr("total div 2"))
    st = st.withColumn(
        "capped",
        (F.col("prefix") + F.col("avail") * (F.col("n") - F.col("pos")))
        <= F.col("b"),
    )
    ks = st.select(
        "*",
        F.coalesce(
            F.max(F.when(F.col("capped"), F.col("pos"))).over(w_all),
            F.lit(0).cast("long"),
        ).alias("k_star"),
        F.coalesce(
            F.max(F.when(F.col("capped"), F.col("prefix"))).over(w_all),
            F.lit(0).cast("long"),
        ).alias("p"),
    )
    lv = ks.withColumn(
        "level_", F.expr("(b - p) div (n - k_star)")
    ).withColumn(
        "rem", F.expr("(b - p) - ((b - p) div (n - k_star)) * (n - k_star)")
    )
    allocated = (
        F.when(F.col("capped"), F.col("avail"))
        .when(F.col("pos") - F.col("k_star") <= F.col("rem"), F.col("level_") + 1)
        .otherwise(F.col("level_"))
    )
    return lv.select(
        "source",
        F.col("avail").alias("avail_tokens"),
        allocated.cast("long").alias("allocated_tokens"),
        "capped",
        F.round(
            allocated.cast("double") / F.col("b").cast("double"), 6
        ).alias("alloc_share"),
    )


TOKEN_WATERFILL_ORACLE = """
WITH wf_counts AS (
  SELECT source,
         CAST(SUM(len(regexp_split_to_array(TRIM(text), '\\s+'))) AS BIGINT) AS avail
  FROM documents WHERE text IS NOT NULL GROUP BY source
), wf_st AS (
  SELECT source, avail,
         CAST(ROW_NUMBER() OVER (ORDER BY avail, source) AS BIGINT) AS pos,
         CAST(SUM(avail) OVER (ORDER BY avail, source
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(avail) OVER () AS BIGINT) AS total
  FROM wf_counts
), wf_b AS (
  SELECT *, total // 2 AS b,
         (prefix + avail * (n - pos)) <= (total // 2) AS capped
  FROM wf_st
), wf_ks AS (
  SELECT *,
         CAST(COALESCE(MAX(CASE WHEN capped THEN pos END) OVER (), 0) AS BIGINT) AS k_star,
         CAST(COALESCE(MAX(CASE WHEN capped THEN prefix END) OVER (), 0) AS BIGINT) AS p
  FROM wf_b
), wf_lv AS (
  SELECT *, (b - p) // (n - k_star) AS level_,
         (b - p) - ((b - p) // (n - k_star)) * (n - k_star) AS rem
  FROM wf_ks
)
SELECT source,
       avail AS avail_tokens,
       CAST(CASE WHEN capped THEN avail
                 WHEN pos - k_star <= rem THEN level_ + 1
                 ELSE level_ END AS BIGINT) AS allocated_tokens,
       capped,
       ROUND(CAST(CASE WHEN capped THEN avail
                       WHEN pos - k_star <= rem THEN level_ + 1
                       ELSE level_ END AS DOUBLE) / CAST(b AS DOUBLE), 6)
         AS alloc_share
FROM wf_lv
"""


def quality_signal_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between each pair of the ensemble's
    quality signals — the redundancy check that decides whether a
    signal earns its compute: ρ near 1 means two signals rank the
    corpus identically (drop one), ρ near 0 means they carry
    independent information (keep both in the blend).

    Exact by construction: Spearman is Pearson over RANKS, and the
    ranks come from :func:`quality_rank_ensemble`'s tiled per-signal
    ranking — unique integers 1..n — so every co-moment is exact
    integer arithmetic and the single division per pair happens at
    the end (identical in both engines). One extra rollup over the
    ensemble's output; no new corpus pass.
    """
    ranks = quality_rank_ensemble(spark, sf_dir)
    pairs = [
        ("len_vs_diversity", "rank_len", "rank_diversity"),
        ("len_vs_wordlen", "rank_len", "rank_wordlen"),
        ("diversity_vs_wordlen", "rank_diversity", "rank_wordlen"),
    ]
    # ONE aggregate computes every pair's co-moments in a single pass
    # over the rank frame (the round-13 shape ran one full aggregate
    # PER PAIR — three executions of the rank-ensemble tail per
    # action; round-14 one-pass fold). The 1-row moment table is
    # eagerly checkpointed so the three report rows read materialized
    # sums instead of re-running the aggregate each. Every per-pair
    # sum is the same exact integer the per-pair aggregates produced.
    sig = {"rank_len": "l", "rank_diversity": "d", "rank_wordlen": "w"}
    col = {s: F.col(c).cast("long") for c, s in sig.items()}
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(col[s]).alias(f"s_{s}") for s in ("l", "d", "w")]
    aggs += [
        F.sum(col[a] * col[b]).alias(f"s_{a}{b}")
        for a, b in ("ll", "dd", "ww", "ld", "lw", "dw")
    ]
    m = ranks.agg(*aggs).localCheckpoint(eager=True)
    out = None
    for label, cx, cy in pairs:
        a, b = sig[cx], sig[cy]
        sx, sy = F.col(f"s_{a}"), F.col(f"s_{b}")
        sxx, syy = F.col(f"s_{a}{a}"), F.col(f"s_{b}{b}")
        sxy = F.col(f"s_{''.join(sorted((a, b), key='ldw'.index))}")
        num = (F.col("n") * sxy - sx * sy).cast("double")
        den = F.sqrt(
            (F.col("n") * sxx - sx * sx).cast("double")
        ) * F.sqrt((F.col("n") * syy - sy * sy).cast("double"))
        row = m.select(
            F.lit(label).alias("signal_pair"),
            F.col("n").alias("n_docs"),
            F.round(num / den, 6).alias("spearman_rho"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def _spearman_oracle() -> str:
    rank_cte = """
sp_base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(regexp_split_to_array(TRIM(text), '\\s+'))) AS BIGINT) AS n_distinct,
         CAST(length(array_to_string(regexp_split_to_array(TRIM(text), '\\s+'), '')) AS BIGINT) AS n_tok_chars
  FROM documents WHERE text IS NOT NULL
), sp_ranks AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(n_tokens AS DOUBLE) DESC, doc_id) AS BIGINT) AS rank_len,
         CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) DESC, doc_id) AS BIGINT) AS rank_diversity,
         CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) DESC, doc_id) AS BIGINT) AS rank_wordlen
  FROM sp_base
)"""
    selects = []
    for label, cx, cy in (
        ("len_vs_diversity", "rank_len", "rank_diversity"),
        ("len_vs_wordlen", "rank_len", "rank_wordlen"),
        ("diversity_vs_wordlen", "rank_diversity", "rank_wordlen"),
    ):
        selects.append(f"""
SELECT '{label}' AS signal_pair, n AS n_docs,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
FROM (
  SELECT COUNT(*) AS n,
         CAST(SUM({cx}) AS BIGINT) AS sx, CAST(SUM({cy}) AS BIGINT) AS sy,
         CAST(SUM({cx} * {cx}) AS BIGINT) AS sxx,
         CAST(SUM({cy} * {cy}) AS BIGINT) AS syy,
         CAST(SUM({cx} * {cy}) AS BIGINT) AS sxy
  FROM sp_ranks
)""")
    return "WITH " + rank_cte + "\n" + "\nUNION ALL\n".join(selects)


QUALITY_RANK_ENSEMBLE_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(regexp_split_to_array(TRIM(text), '\\s+'))) AS BIGINT) AS n_distinct,
         CAST(length(array_to_string(regexp_split_to_array(TRIM(text), '\\s+'), '')) AS BIGINT) AS n_tok_chars
  FROM documents WHERE text IS NOT NULL
), ranks AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(n_tokens AS DOUBLE) DESC, doc_id) AS INTEGER) AS rank_len,
         CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) DESC, doc_id) AS INTEGER) AS rank_diversity,
         CAST(ROW_NUMBER() OVER (
           ORDER BY CAST(n_tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) DESC, doc_id) AS INTEGER) AS rank_wordlen
  FROM base
)
SELECT doc_id, rank_len, rank_diversity, rank_wordlen,
       ROUND(CAST(rank_len + rank_diversity + rank_wordlen AS DOUBLE) / 3.0, 6)
         AS avg_rank
FROM ranks
"""


#: DSIR hashed-feature space: unigrams + bigrams bucketed into
#: DSIR_BUCKETS by the portable 60-bit md5 hash. The paper (Xie et
#: al., "Data Selection for Language Models via Importance
#: Resampling", NeurIPS 2023) uses 10k buckets over a web-scale
#: corpus; 1024 keeps the oracle's bucket tables readable while
#: preserving the collision-smoothing the estimator relies on.
DSIR_BUCKETS = 1024

#: The "trusted" target slice the importance weights steer toward —
#: a stand-in for the paper's Wikipedia/books target. Any predicate
#: over the corpus works; sources make the oracle trivial to audit.
DSIR_TARGET_SOURCES = ("src0", "src1")


def _dsir_weights(docs: DataFrame, raw_excludes_target: bool = False) -> DataFrame:
    """Per-document DSIR importance weight on the exact 1e-9 grid —
    ``(doc_id, lang, source, n_tokens, n_feats, w_scaled)`` where
    ``w_scaled`` is the scaled-long ``Σ_f [ln p_target(b(f)) −
    ln p_raw(b(f))]`` over the document's hashed unigram+bigram
    features (multiplicity counted, add-one smoothing over
    ``DSIR_BUCKETS`` buckets).

    Shared core of :func:`dsir_importance_weights` (the audit table)
    and ``pipeline.pipeline_dsir_corpus`` (the Gumbel-top-k selection
    gate) — one implementation, one oracle CTE
    (:func:`_dsir_core_sql`), so the two cannot drift.

    Documented deviation from Xie et al.: ``p_raw`` is estimated over
    the FULL corpus (target slice included), whereas the paper fits
    the raw distribution on the raw/candidate corpus only. With the
    target slice included, log-ratios shrink toward zero by a factor
    that grows with the target share — a monotone, rank-preserving
    contraction when the slice is small (the intended regime: the
    target is a quality exemplar, a few % of candidates), so the
    top-k selection the weight feeds is unchanged there. One pass
    instead of two over the feature stream is the payoff at 100 TB.
    ``raw_excludes_target=True`` switches to the paper-faithful
    estimator (``p_raw`` over the non-target slice only, computed by
    subtracting the already-tallied ``t_cnt``/``t_tot`` — no extra
    pass); the default stays False so the registered oracle is
    stable, and :func:`_dsir_core_sql` takes the same flag so the
    two modes stay oracle-checkable.

    Determinism: each ln is individually rounded to the 1e-9 grid and
    scaled to a long (libm drift ≤ 1 ulp ≈ 1e-15 ≪ grid), so the
    per-bucket log-ratio and every per-document sum are exact integer
    arithmetic in both engines.

    Shapes, sized for 100 TB: the tokenized projection is
    materialized ONCE via eager ``localCheckpoint`` as PER-DOCUMENT
    bucket ARRAYS (round 15; the round-14 shape checkpointed the
    exploded per-feature stream — |features| rows of 5 columns — and
    then paid a (doc_id)-keyed rollup shuffle to undo the explode).
    Its two consumers — the ≤ DSIR_BUCKETS-row bucket LM fit and the
    per-document scorer — read materialized blocks instead of
    re-tokenizing the corpus (round 7 paid three tokenize+explode
    passes here and benched 5.4× its DuckDB twin). The per-document
    weight is now a PROJECTION, not an aggregation: the fitted
    ≤ DSIR_BUCKETS-row llr table is folded into a constant array
    literal and each document sums its own bucket array with one
    ``aggregate`` HOF — ZERO shuffles and zero joins after the fit
    (guide §2.4; the exact integer sum is unchanged: same per-bucket
    longs, integer addition in any order).
    """
    from duckdb_gsheets_spark.functions import portable_hash as PH

    feats = (
        _doc_tokens(docs)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            F.transform(
                dsir_feat_array(),
                lambda f: PH.tok_hash60(f) % DSIR_BUCKETS,
            ).alias("barr"),
        )
        .localCheckpoint(eager=True)
    )
    exploded = feats.select("source", F.explode("barr").alias("bucket"))
    llr = dsir_bucket_llr(exploded, raw_excludes_target=raw_excludes_target)
    # The llr frame is a LOCAL relation (the tally was already
    # collected inside dsir_bucket_llr); collecting it evaluates the
    # JVM ln/round expressions driver-side — the exact 1e-9-grid
    # contract is untouched, no Python math.log enters. Unobserved
    # buckets keep 0: every scorable feature maps to an observed
    # bucket by construction (the scored slice IS the fitting corpus),
    # so the slot is never read — it only keeps the array dense.
    lut_vals = [0] * DSIR_BUCKETS
    for r in llr.collect():
        lut_vals[int(r.bucket)] = int(r.llr)
    lut = F.expr(
        "array(" + ",".join(f"{v}L" for v in lut_vals) + ")"
    )
    return feats.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        F.size("barr").cast("long").alias("n_feats"),
        F.aggregate(
            "barr",
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.element_at(lut, (b + 1).cast("int")),
        ).alias("w_scaled"),
    )


def dsir_feat_array():
    """Column expression: the DSIR hashed-feature stream of a tokenized
    document row (``toks`` column) as ONE array — unigrams ⧺ adjacent
    bigrams, multiplicity preserved. Shared by the explode path
    (:func:`_dsir_feats`) and the per-document scorer, so the
    feature definition cannot drift between the two."""
    n_bi = F.size("toks") - 1  # ≥ 0: split() yields ≥ 1 token
    return F.concat(
        F.col("toks"),
        F.zip_with(
            F.slice(F.col("toks"), 1, n_bi),
            F.slice(F.col("toks"), 2, n_bi),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )


def _dsir_feats(docs: DataFrame) -> DataFrame:
    """Exploded per-feature stream with bucket assignment:
    ``(doc_id, lang, source, n_tokens, feat, bucket)``."""
    from duckdb_gsheets_spark.functions import portable_hash as PH

    return (
        _doc_tokens(docs)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            F.explode(dsir_feat_array()).alias("feat"),
        )
        .withColumn("bucket", PH.tok_hash60(F.col("feat")) % DSIR_BUCKETS)
    )


def dsir_bucket_llr(
    feats: DataFrame, raw_excludes_target: bool = False
) -> DataFrame:
    """The ≤``DSIR_BUCKETS``-row smoothed log-ratio table
    ``(bucket, llr)`` — the persisted artifact a production ingest
    gate loads. ``llr`` is the 1e-9-grid scaled-long
    ``ln p_target − ln p_raw`` per observed bucket (add-one smoothing
    over all ``DSIR_BUCKETS`` buckets; only observed buckets emit a
    row, and every scorable feature maps to an observed bucket when
    the scored slice ⊆ the fitting corpus).

    ``raw_excludes_target=True`` fits ``p_raw`` on the NON-target
    slice only (Xie et al.'s exact formulation) by subtracting the
    target tally from the full-corpus one — same single pass over
    ``feats``, different arithmetic. Default False = the documented
    full-corpus deviation (see :func:`_dsir_weights`)."""
    # This builder is BATCH-ONLY and fails loudly on a streaming
    # frame: the plan needs an aggregation-on-aggregation (the totals
    # fold reads the bucket tally) plus an eager localCheckpoint,
    # both analysis-illegal under Structured Streaming — skipping the
    # checkpoint would only move the failure to the totals fold. A
    # streaming consumer fits this artifact ONCE from a STATIC corpus
    # and collects the ≤ DSIR_BUCKETS rows into a literal.
    if feats.isStreaming:
        raise ValueError(
            "dsir_bucket_llr fits from a STATIC corpus only (the llr "
            "table is an agg-on-agg plan Structured Streaming cannot "
            "analyze); fit on the static frame and broadcast the "
            "collected table into the stream"
        )
    is_target = F.col("source").isin(*DSIR_TARGET_SOURCES)
    # The bucket tally is ≤ DSIR_BUCKETS rows — the trained artifact.
    # ONE action collects it; the totals fold is exact integer
    # summation on the driver (no float, nothing to drift) and the
    # llr table re-enters the plan as a LOCAL relation with the
    # totals inlined as literals. Round 11 ran this as checkpoint +
    # totals aggregate + broadcast exchange (3 jobs); the single
    # collect replaces all three. The ln stays a JVM expression
    # (evaluated over the local relation), so the 1e-9 grid snap
    # keeps the exact cross-engine contract — no Python math.log is
    # introduced.
    tally = (
        feats.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("r_cnt"),
            F.sum(is_target.cast("long")).alias("t_cnt"),
        )
        .collect()
    )
    r_tot = sum(r.r_cnt for r in tally)
    t_tot = sum(r.t_cnt for r in tally)
    lnp = lambda cnt, tot: F.round(  # noqa: E731 — grid-snapped ln
        F.log(
            (cnt + F.lit(1.0))
            / (tot + F.lit(DSIR_BUCKETS)).cast("double")
        )
        * 1e9
    ).cast("long")
    if raw_excludes_target:
        r_cnt = F.col("r_cnt") - F.col("t_cnt")
        r_tot_c = F.lit(r_tot - t_tot).cast("long")
    else:
        r_cnt = F.col("r_cnt")
        r_tot_c = F.lit(r_tot).cast("long")
    raw_cnt = feats.sparkSession.createDataFrame(
        [(int(r.bucket), int(r.r_cnt), int(r.t_cnt)) for r in tally],
        "bucket long, r_cnt long, t_cnt long",
    )
    return raw_cnt.select(
        "bucket",
        (
            lnp(F.col("t_cnt"), F.lit(t_tot).cast("long"))
            - lnp(r_cnt, r_tot_c)
        ).alias("llr"),
    )


def _dsir_feat_sql() -> str:
    """The hashed-feature CTE prefix (``ddocs`` → ``dfeat`` →
    ``dbuck``) replaying :func:`_dsir_feats` — shared by
    :func:`_dsir_core_sql` and the quality-classifier gate oracle
    (pipeline._classifier_gate_oracle), which consumes the same
    bucketed feature stream."""
    from duckdb_gsheets_spark.functions import portable_hash as PH

    return f"""ddocs AS (
  SELECT doc_id, lang, source,
         regexp_split_to_array(TRIM(text), '\\s+') AS toks,
         CAST(len(regexp_split_to_array(TRIM(text), '\\s+')) AS INTEGER)
           AS n_tokens
  FROM documents WHERE text IS NOT NULL
), dfeat AS (
  SELECT doc_id, lang, source, n_tokens, unnest(toks) AS feat FROM ddocs
  UNION ALL
  SELECT doc_id, lang, source, n_tokens, w1 || ' ' || w2 AS feat
  FROM (
    SELECT doc_id, lang, source, n_tokens,
           unnest(toks[1:len(toks) - 1]) AS w1,
           unnest(toks[2:len(toks)]) AS w2
    FROM ddocs
  )
), dbuck AS (
  SELECT doc_id, lang, source, n_tokens,
         ({PH.oracle_tok_hash60("feat")} % {DSIR_BUCKETS}) AS bucket
  FROM dfeat
)"""


def _dsir_core_sql(raw_excludes_target: bool = False) -> str:
    """Shared CTE chain replaying :func:`_dsir_weights` in DuckDB —
    ends at ``dw(doc_id, lang, source, n_tokens, n_feats, w_scaled)``.
    Reused by the audit and the selection gate so the oracles cannot
    drift. ``raw_excludes_target`` mirrors the engine flag: the
    ``dllr`` CTE fits ``p_raw`` on ``r_cnt - t_cnt`` over
    ``r_tot - t_tot`` when set."""
    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    b = DSIR_BUCKETS
    raw_c = "(r_cnt - t_cnt)" if raw_excludes_target else "r_cnt"
    raw_t = "(r_tot - t_tot)" if raw_excludes_target else "r_tot"
    return f"""{_dsir_feat_sql()}, dcnt AS (
  SELECT bucket, COUNT(*) AS r_cnt,
         SUM(CASE WHEN source IN ({tgt}) THEN 1 ELSE 0 END) AS t_cnt
  FROM dbuck GROUP BY bucket
), dtot AS (
  SELECT SUM(r_cnt) AS r_tot, SUM(t_cnt) AS t_tot FROM dcnt
), dllr AS (
  SELECT bucket,
         CAST(ROUND(LN((t_cnt + 1.0) / CAST(t_tot + {b} AS DOUBLE)) * 1e9)
              AS BIGINT)
       - CAST(ROUND(LN(({raw_c} + 1.0) / CAST({raw_t} + {b} AS DOUBLE)) * 1e9)
              AS BIGINT) AS llr
  FROM dcnt, dtot
), dw AS (
  SELECT doc_id, lang, source, n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(llr) AS BIGINT) AS w_scaled
  FROM dbuck JOIN dllr USING (bucket)
  GROUP BY doc_id, lang, source, n_tokens
)"""


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-weight audit table (Xie et al., NeurIPS 2023):
    every document's hashed-n-gram log importance weight
    ``Σ_f [ln p_target(b(f)) − ln p_raw(b(f))]`` against a trusted
    target slice (``DSIR_TARGET_SOURCES``) — the raw material for
    importance-resampled data selection. Positive = looks more like
    the target than the average raw document.

    See :func:`_dsir_weights` for the determinism contract and the
    100 TB shuffle ledger; the composed selection gate is
    ``pipeline.pipeline_dsir_corpus``.
    """
    w = _dsir_weights(load_table(spark, sf_dir, "documents"))
    return w.select(
        "doc_id",
        "lang",
        "source",
        "n_feats",
        F.round(F.col("w_scaled").cast("double") / 1e9, 6).alias(
            "dsir_logratio"
        ),
        F.col("source").isin(*DSIR_TARGET_SOURCES).cast("int").alias(
            "is_target"
        ),
    )


def _dsir_weights_oracle() -> str:
    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    return f"""
WITH {_dsir_core_sql()}
SELECT doc_id, lang, source, n_feats,
       ROUND(CAST(w_scaled AS DOUBLE) / 1e9, 6) AS dsir_logratio,
       CAST(CASE WHEN source IN ({tgt}) THEN 1 ELSE 0 END AS INTEGER)
         AS is_target
FROM dw
"""


QUERIES: list[QueryDef] = [
    QueryDef(
        "dataset_datasheet",
        dataset_datasheet,
        DATASHEET_ORACLE,
        "per-source dataset datasheet (volume, diversity, quality, dup rate)",
    ),
    QueryDef(
        "vocab_oov_rate",
        vocab_oov_rate,
        VOCAB_OOV_ORACLE,
        "per-language OOV rate vs a frequency-built tokenizer vocab",
    ),
    QueryDef(
        "quality_funnel",
        quality_funnel,
        _quality_funnel_oracle(),
        "cumulative Gopher-rule survival funnel (one-row corpus report)",
    ),
    QueryDef(
        "text_unigram_xent",
        text_unigram_xent,
        UNIGRAM_XENT_ORACLE,
        "unigram cross-entropy quality proxy (CCNet-style perplexity)",
    ),
    QueryDef(
        "corpus_mix_weights",
        corpus_mix_weights,
        CORPUS_MIX_ORACLE,
        "temperature-scaled language sampling weights (p^alpha mixing)",
    ),
    QueryDef(
        "pack_sequences",
        pack_sequences,
        PACK_SEQUENCES_ORACLE,
        "greedy in-order packing into fixed token budgets per shard",
    ),
    QueryDef(
        "bm25_search",
        bm25_search,
        BM25_ORACLE,
        "Okapi BM25 keyword top-k over the corpus",
    ),
    QueryDef(
        "vocab_coverage_curve",
        vocab_coverage_curve,
        VOCAB_COVERAGE_ORACLE,
        "token-coverage curve at tokenizer-size checkpoints",
    ),
    QueryDef(
        "quality_deciles",
        quality_deciles,
        QUALITY_DECILES_ORACLE,
        "per-decile quality-score corpus report (value-level tiling)",
    ),
    QueryDef(
        "corpus_resample",
        corpus_resample,
        CORPUS_RESAMPLE_ORACLE,
        "deterministic language-rebalancing resample (integer thresholds)",
    ),
    QueryDef(
        "vocab_tokenize_ids",
        vocab_tokenize_ids,
        VOCAB_TOKENIZE_ORACLE,
        "apply the frequency vocab as a tokenizer (id streams + OOV audit)",
    ),
    QueryDef(
        "text_bigram_xent",
        text_bigram_xent,
        BIGRAM_XENT_ORACLE,
        "per-document bigram LM cross-entropy (add-one smoothed)",
    ),
    QueryDef(
        "doc_length_histogram",
        doc_length_histogram,
        DOC_LENGTH_HISTOGRAM_ORACLE,
        "per-source log2-bucket document-length histogram (exact integer buckets)",
    ),
    QueryDef(
        "quality_signal_correlation",
        quality_signal_correlation,
        QUALITY_XENT_CORR_ORACLE,
        "per-language Pearson correlation of quality score vs unigram xent",
    ),
    QueryDef(
        "vocab_freq_spectrum",
        vocab_freq_spectrum,
        VOCAB_FREQ_SPECTRUM_ORACLE,
        "token frequency-of-frequencies spectrum (Zipf head/tail audit)",
    ),
    QueryDef(
        "vocab_growth_curve",
        vocab_growth_curve,
        VOCAB_GROWTH_ORACLE,
        "Heaps'-law vocabulary growth per corpus batch (min-batch trick)",
    ),
    QueryDef(
        "doc_length_gini",
        doc_length_gini,
        DOC_LENGTH_GINI_ORACLE,
        "per-source Gini inequality of doc length (rank formula, integer sums)",
    ),
    QueryDef(
        "documents_completeness_profile",
        documents_completeness_profile,
        COMPLETENESS_ORACLE,
        "per-column null/cardinality profile in one scan (dbt-style tests)",
    ),
    QueryDef(
        "source_unigram_drift",
        source_unigram_drift,
        SOURCE_DRIFT_ORACLE,
        "per-source chi-square unigram drift vs the corpus (grid-exact sums)",
    ),
    QueryDef(
        "quality_rank_ensemble",
        quality_rank_ensemble,
        QUALITY_RANK_ENSEMBLE_ORACLE,
        "Borda rank-average of three quality signals via a "
        "group-respecting distributed prefix-sum",
    ),
    QueryDef(
        "token_budget_waterfill",
        token_budget_waterfill,
        TOKEN_WATERFILL_ORACLE,
        "integer waterfilling of a fixed token budget across sources "
        "(exact min(avail, level) allocation summing to B)",
    ),
    QueryDef(
        "quality_signal_spearman",
        quality_signal_spearman,
        _spearman_oracle(),
        "exact Spearman rank correlation between quality-signal pairs "
        "(signal-redundancy audit over integer ranks)",
    ),
    # -- round-5 additions (round-6 driver-window rotation queue) --
    QueryDef(
        "quality_lang_tertiles",
        quality_lang_tertiles,
        LANG_TERTILES_ORACLE,
        "CCNet-style per-language head/middle/tail perplexity buckets "
        "(grouped prefix-sum rank, exact integer tercile rule)",
    ),
    # -- round-6 additions --
    QueryDef(
        "dsir_importance_weights",
        dsir_importance_weights,
        _dsir_weights_oracle(),
        "DSIR hashed-n-gram log importance weights vs a trusted "
        "target slice (exact 1e-9-grid integer sums)",
    ),
    # -- round-7 additions --
    QueryDef(
        "quality_score_calibration",
        quality_score_calibration,
        QUALITY_CALIBRATION_ORACLE,
        "reliability table: per score decile, mean heuristic score vs "
        "Gopher-gate pass rate with the per-bin ECE gap",
    ),
]
