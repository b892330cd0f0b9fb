"""Text-analysis operators over the ``documents`` table: statistics,
language-ID, quality scoring, fingerprinting (SURVEY.md §7 step 8 /
the training-data-pipeline layer).

All expressions come from ``functions.text`` — pure JVM-side column
math, no Python UDFs — with matching DuckDB oracle SQL emitted from
the same constants so the heuristics cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.functions import portable_hash as PH
from duckdb_gsheets_spark.functions import text as T
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import load_table


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char/punct statistics (all exact integers
    except the rounded mean token length)."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        F.length(c).alias("n_chars_measured"),
        T.token_count(c).alias("n_tokens"),
        T.bpe_token_count(c).alias("n_bpe_tokens"),
        T.punct_count(c).alias("n_punct"),
        F.round(
            F.length(F.regexp_replace(c, T.WHITESPACE_SPLIT, "")).cast("double")
            / T.token_count(c).cast("double"),
            6,
        ).alias("mean_token_len"),
    )


TEXT_STATS_ORACLE = f"""
SELECT
  doc_id,
  CAST(LENGTH(text) AS INTEGER) AS n_chars_measured,
  CAST(len({T.oracle_tokens()}) AS INTEGER) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{T.BPE_TOKEN_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
  CAST(len(regexp_extract_all(text, '{T.PUNCT_PATTERN}')) AS INTEGER) AS n_punct,
  ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS DOUBLE)
        / CAST(len({T.oracle_tokens()}) AS DOUBLE), 6) AS mean_token_len
FROM documents
"""


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification + per-language scores."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        T.language_id(c).alias("detected_lang"),
        T.marker_hits_distinct(c, "en").alias("score_en"),
        T.marker_hits_distinct(c, "es").alias("score_es"),
        T.marker_hits_distinct(c, "de").alias("score_de"),
        T.marker_hits_distinct(c, "fr").alias("score_fr"),
    )


TEXT_LANG_ORACLE = f"""
SELECT
  doc_id,
  lang,
  {T.oracle_language_id()} AS detected_lang,
  CAST({T.oracle_marker_hits_distinct('en')} AS INTEGER) AS score_en,
  CAST({T.oracle_marker_hits_distinct('es')} AS INTEGER) AS score_es,
  CAST({T.oracle_marker_hits_distinct('de')} AS INTEGER) AS score_de,
  CAST({T.oracle_marker_hits_distinct('fr')} AS INTEGER) AS score_fr
FROM documents
"""


def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of declared vs detected language with the
    per-cell share of the declared language's documents — the accuracy
    audit run before trusting a heuristic language-ID pass to route a
    corpus. One narrow detection projection + one groupBy; the share
    join broadcasts |languages| rows."""
    docs = load_table(spark, sf_dir, "documents")
    detected = docs.select(
        "lang", T.language_id(F.col("text")).alias("detected_lang")
    )
    cells = detected.groupBy("lang", "detected_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = detected.groupBy("lang").agg(
        F.count(F.lit(1)).alias("lang_total")
    )
    return cells.join(F.broadcast(totals), "lang").select(
        "lang",
        "detected_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("lang_total"), 6
        ).alias("share_of_lang"),
    )


TEXT_LANG_CONFUSION_ORACLE = f"""
WITH detected AS (
  SELECT lang, {T.oracle_language_id()} AS detected_lang
  FROM documents
), cells AS (
  SELECT lang, detected_lang, COUNT(*) AS n_docs
  FROM detected GROUP BY lang, detected_lang
), totals AS (
  SELECT lang, COUNT(*) AS lang_total FROM detected GROUP BY lang
)
SELECT c.lang, c.detected_lang, c.n_docs,
       ROUND(CAST(c.n_docs AS DOUBLE) / t.lang_total, 6) AS share_of_lang
FROM cells c JOIN totals t ON c.lang = t.lang
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        T.quality_score(c).alias("quality"),
        T.stopword_hits_total(c).alias("n_stopwords"),
    )


TEXT_QUALITY_ORACLE = f"""
SELECT
  doc_id,
  {T.oracle_quality_score()} AS quality,
  CAST({T.oracle_stopword_hits_total()} AS INTEGER) AS n_stopwords
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of normalized text (dedup key)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fingerprint"),
    )


TEXT_FINGERPRINT_ORACLE = f"""
SELECT doc_id, {T.oracle_fingerprint()} AS fingerprint FROM documents
"""


def text_corpus_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup: doc counts and token volume per (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars")).alias("total_chars"),
            F.sum(T.token_count(c).cast("long")).alias("total_tokens"),
        )
    )


TEXT_CORPUS_ORACLE = f"""
SELECT
  lang, source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(len({T.oracle_tokens()})) AS BIGINT) AS total_tokens
FROM documents
GROUP BY lang, source
"""


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency: top-25 tokens with counts and document
    frequency. explode → map-side-combined count per token → global
    top-k with unique-token tiebreak. At 100 TB the token count is the
    classic partial-agg workload; the final top-k moves only one row
    per token per mapper."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("term_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("term_count"), F.col("tok"))
        .limit(25)
    )


TEXT_TOP_TERMS_ORACLE = """
SELECT tok, COUNT(*) AS term_count, COUNT(DISTINCT doc_id) AS doc_freq
FROM (
  SELECT doc_id, unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS tok
  FROM documents
)
GROUP BY tok
ORDER BY term_count DESC, tok
LIMIT 25
"""


def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency: top-25 adjacent token pairs with
    occurrence and document counts — the n-gram statistic behind
    boilerplate detection and collocation audits.

    Bigrams are built as a NARROW higher-order map over the token
    array (``transform`` over an index ``sequence`` — no self-join,
    no positional window), then explode → map-side-combined count.
    Same partial-agg shape as :func:`text_top_terms`: at 100 TB one
    row per (mapper, bigram) reaches the shuffle, and the final top-k
    is TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", T.tokens(F.lower(F.col("text"))).alias("toks"))
        .where(F.size("toks") >= 2)
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(toks[i - 1], ' ', toks[i]))"
            )
        ).alias("bigram"),
    )
    return (
        bigrams.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("bigram_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("bigram_count"), F.col("bigram"))
        .limit(25)
    )


TEXT_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS l
  FROM documents WHERE text IS NOT NULL
), bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)),
                               i -> l[i] || ' ' || l[i + 1])) AS bigram
  FROM toks WHERE len(l) >= 2
)
SELECT bigram, COUNT(*) AS bigram_count, COUNT(DISTINCT doc_id) AS doc_freq
FROM bi
GROUP BY bigram
ORDER BY bigram_count DESC, bigram
LIMIT 25
"""


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + masking per document: email/phone/IPv4 counts
    and the md5 of the scrubbed text (the hash keeps the driver output
    scalar while still pinning every masked byte).

    Pure narrow regex column math — the pass a training-corpus build
    runs over every document, so it must pipeline into the scan with
    zero shuffles, which this does.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        T.pii_count(c, T.PII_EMAIL_PATTERN).alias("n_emails"),
        T.pii_count(c, T.PII_PHONE_PATTERN).alias("n_phones"),
        T.pii_count(c, T.PII_IP_PATTERN).alias("n_ips"),
        F.md5(T.pii_scrubbed(c)).alias("scrubbed_md5"),
    )


TEXT_PII_ORACLE = f"""
SELECT
  doc_id,
  CAST(len(regexp_extract_all(text, '{T.PII_EMAIL_PATTERN}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(text, '{T.PII_PHONE_PATTERN}')) AS INTEGER) AS n_phones,
  CAST(len(regexp_extract_all(text, '{T.PII_IP_PATTERN}')) AS INTEGER) AS n_ips,
  md5({T.oracle_pii_scrubbed()}) AS scrubbed_md5
FROM documents
"""


def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): the
    fraction of 3-grams that are duplicates of an earlier 3-gram in
    the same document. 1 − distinct/total; 0 for docs with < 3 tokens.

    Narrow per-row array math (one ``transform`` over token positions,
    then two ``size`` aggregates) — no explode, no shuffle; the token
    array is projected once so the HOF isn't re-inlined per reference.
    """
    docs = load_table(spark, sf_dir, "documents")
    toksed = docs.select(
        "doc_id", T.tokens(F.lower(F.col("text"))).alias("toks")
    )
    t = F.col("toks")
    n = F.size(t)
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.try_element_at(t, i.cast("int")),
                F.try_element_at(t, (i + 1).cast("int")),
                F.try_element_at(t, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counted = toksed.select("doc_id", grams.alias("g")).select(
        "doc_id",
        F.size("g").alias("grams_total"),
        F.size(F.array_distinct("g")).alias("grams_distinct"),
    )
    return counted.select(
        "doc_id",
        "grams_total",
        "grams_distinct",
        F.when(
            F.col("grams_total") > 0,
            F.round(
                1.0
                - F.col("grams_distinct").cast("double")
                / F.col("grams_total").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("repetition_ratio"),
    )


TEXT_REPETITION_ORACLE = """
WITH grams AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    for i in range(1, len(toks) - 1)]
              ELSE [] END AS g
  FROM (
    SELECT doc_id,
           regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS toks
    FROM documents
  )
)
SELECT doc_id,
       CAST(len(g) AS INTEGER) AS grams_total,
       CAST(len(list_distinct(g)) AS INTEGER) AS grams_distinct,
       CASE WHEN len(g) > 0
            THEN ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                             / CAST(len(g) AS DOUBLE), 6)
            ELSE 0.0 END AS repetition_ratio
FROM grams
"""


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021,
    "Scaling Language Models", appendix A1.1 — public): per-document
    boolean rules plus the conjunction, the pre-training corpus
    filtering pass.

    Rules (all exact integer arithmetic — no doubles, so the result is
    engine- and partitioning-independent):

    * mean token length in [3, 10] (×100 fixed-point, integer div);
    * ≥ 80% of tokens contain an alphabetic character;
    * ≥ 2 stopword occurrences;
    * symbol-to-token ratio ≤ 0.25.

    Narrow one-pass projection — token arrays are built once per row;
    no shuffle, no UDF.
    """
    return gopher_rules(load_table(spark, sf_dir, "documents"))


def gopher_rules(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-document Gopher rule flags for any frame with (doc_id,
    text) — the narrow projection behind :func:`text_gopher_quality`
    and the pipeline quality gates.
    ``carry`` names extra input columns to pass through unchanged
    (e.g. ``("lang",)`` for a per-language rollup downstream)."""
    c = F.col("text")
    toks = T.tokens(c)
    base = docs.select(
        "doc_id",
        *carry,
        F.size(toks).alias("n_tokens"),
        F.length(F.regexp_replace(c, T.WHITESPACE_SPLIT, "")).alias("n_nonspace"),
        F.size(
            F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
        ).alias("n_alpha_tokens"),
        T.stopword_hits_total(c).alias("n_stopwords"),
        T.punct_count(c).alias("n_symbols"),
    )
    mean_len_x100 = F.expr("(100 * n_nonspace) div n_tokens")
    rules = base.select(
        "doc_id",
        *carry,
        "n_tokens",
        mean_len_x100.alias("mean_tok_len_x100"),
        mean_len_x100.between(300, 1000).cast("int").alias("rule_word_len"),
        (F.col("n_alpha_tokens") * 100 >= F.col("n_tokens") * 80)
        .cast("int")
        .alias("rule_alpha"),
        (F.col("n_stopwords") >= 2).cast("int").alias("rule_stopwords"),
        (F.col("n_symbols") * 4 <= F.col("n_tokens")).cast("int").alias("rule_symbols"),
    )
    return rules.withColumn(
        "passes",
        (
            (F.col("rule_word_len") == 1)
            & (F.col("rule_alpha") == 1)
            & (F.col("rule_stopwords") == 1)
            & (F.col("rule_symbols") == 1)
        ).cast("int"),
    )


TEXT_GOPHER_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({T.oracle_tokens()}) AS BIGINT) AS n_tokens,
         CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonspace,
         CAST(len(list_filter({T.oracle_tokens()},
                              t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha_tokens,
         CAST({T.oracle_stopword_hits_total()} AS BIGINT) AS n_stopwords,
         CAST(len(regexp_extract_all(text, '{T.PUNCT_PATTERN}')) AS BIGINT) AS n_symbols
  FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST((100 * n_nonspace) // n_tokens AS BIGINT) AS mean_tok_len_x100,
       CAST((100 * n_nonspace) // n_tokens BETWEEN 300 AND 1000 AS INTEGER) AS rule_word_len,
       CAST(n_alpha_tokens * 100 >= n_tokens * 80 AS INTEGER) AS rule_alpha,
       CAST(n_stopwords >= 2 AS INTEGER) AS rule_stopwords,
       CAST(n_symbols * 4 <= n_tokens AS INTEGER) AS rule_symbols,
       CAST((100 * n_nonspace) // n_tokens BETWEEN 300 AND 1000
            AND n_alpha_tokens * 100 >= n_tokens * 80
            AND n_stopwords >= 2
            AND n_symbols * 4 <= n_tokens AS INTEGER) AS passes
FROM base
"""


#: tf-idf fixed-point scale. Scores are the exact integer
#: ``(tf · N · 1e6) div df`` — a scaled-rational tf-idf that avoids
#: engine-specific ``ln``/libm rounding entirely (same ranking as
#: tf·N/df). Long bound: tf·N·1e6 < 2⁶³ holds to ~9.2e12 doc-tokens.
TFIDF_SCALE = 1_000_000
TFIDF_TOP_K = 3


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf.

    Pipeline: explode tokens → per-(doc, term) tf [shuffle 1, map-side
    combinable] → per-term document frequency from the tf table
    [shuffle 2, input already (doc, term)-distinct] → tf ⋈ df on term
    [shuffle 3 at scale — the df side is vocabulary-sized, too big to
    assume broadcast at 100 TB] → per-doc top-k window [shuffle 4 on
    doc_id]. Corpus size N rides along via a broadcast 1-row agg.

    The idf uses exact integer arithmetic (see TFIDF_SCALE) so the
    ranking is bit-identical across engines and partitionings; ties
    break on the term string.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("term")
    ).where(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr(f"(tf * n_docs * {TFIDF_SCALE}) div df").alias("tfidf_x1e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_x1e6").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf_x1e6")
    )


TEXT_TFIDF_ORACLE = f"""
WITH terms AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM terms WHERE term <> '' GROUP BY 1, 2
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         (tf.tf * n.n_docs * {TFIDF_SCALE}) // df.df AS tfidf_x1e6
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf_x1e6 DESC, term
  ) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, tfidf_x1e6
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


def text_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: the 3 longest documents per language
    (row_number window, doc_id tiebreak) — the per-group analogue of
    the global ``topk_orders``.

    One shuffle on lang; at scale, pre-aggregate per partition with a
    k-row heap (Spark's window already stays sort-based within the
    lang partition — acceptable because groups are few; for millions
    of groups swap to ``min_by``-style partial top-k).
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id", "n_chars")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )


TEXT_TOPK_LANG_ORACLE = """
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY n_chars DESC, doc_id
         ) AS rank
  FROM documents
)
SELECT lang, doc_id, n_chars, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
"""


#: PMI collocation mining: minimum pair count (rarer pairs are
#: statistical noise) and report size.
PMI_MIN_COUNT = 5
PMI_TOPK = 25


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K collocations by pointwise mutual information — the
    association statistic behind multiword-expression detection
    (Church & Hanks 1990), complementing :func:`text_bigram_topk`
    (raw frequency) with "surprisingly often together".

    PMI = log[p(ab) / (p(a)p(b))] is monotone in the exact-integer
    ratio ``c_ab·N² / (M·c_a·c_b)``, so the report ranks and ships
    that ratio and never evaluates a transcendental — log is the one
    elementary function IEEE does NOT pin cross-engine, and the ratio
    both engines compute bit-identically from exact counts (every
    division written in the same order on both sides).

    Plan: one token-count shuffle, one bigram-count shuffle (both
    map-side combined, uniform string keys), the PAIR table filtered
    to ``count ≥ PMI_MIN_COUNT`` BEFORE the two unigram joins (the
    filter is what bounds the join input at 100 TB — unfiltered
    bigram vocabulary is corpus-sized), then TakeOrderedAndProject
    for the top-K.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", T.tokens(F.lower(F.col("text"))).alias("toks"))
    )
    uni = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    totals = uni.agg(
        F.sum("n_tok").alias("n_tokens"),
    )
    bi = (
        toks.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(toks[i - 1] AS left_tok, toks[i] AS right_tok))"
                )
            ).alias("p")
        )
        .select("p.left_tok", "p.right_tok")
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    m_total = bi.agg(F.sum("n_pair").alias("n_bigrams"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pmi_ratio = F.round(
        ((d("n_pair") * d("n_tokens")) / (d("n_bigrams") * d("n_left")))
        * (d("n_tokens") / d("n_right")),
        6,
    )
    return (
        bi.where(F.col("n_pair") >= PMI_MIN_COUNT)
        .join(
            uni.select(
                F.col("tok").alias("left_tok"), F.col("n_tok").alias("n_left")
            ),
            "left_tok",
        )
        .join(
            uni.select(
                F.col("tok").alias("right_tok"),
                F.col("n_tok").alias("n_right"),
            ),
            "right_tok",
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(m_total))
        .select(
            F.concat_ws(" ", "left_tok", "right_tok").alias("bigram"),
            "n_pair",
            "n_left",
            "n_right",
            pmi_ratio.alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), "bigram")
        .limit(PMI_TOPK)
    )


TEXT_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS l
  FROM documents WHERE text IS NOT NULL
), uni AS (
  SELECT tok, COUNT(*) AS n_tok
  FROM (SELECT unnest(l) AS tok FROM toks)
  GROUP BY tok
), totals AS (
  SELECT SUM(n_tok) AS n_tokens FROM uni
), bi AS (
  SELECT left_tok, right_tok, COUNT(*) AS n_pair
  FROM (
    SELECT unnest(list_transform(range(1, len(l)), i -> l[i])) AS left_tok,
           unnest(list_transform(range(1, len(l)), i -> l[i + 1])) AS right_tok
    FROM toks WHERE len(l) >= 2
  )
  GROUP BY 1, 2
), m_total AS (
  SELECT SUM(n_pair) AS n_bigrams FROM bi
)
SELECT b.left_tok || ' ' || b.right_tok AS bigram,
       b.n_pair, ul.n_tok AS n_left, ur.n_tok AS n_right,
       ROUND(((CAST(b.n_pair AS DOUBLE) * CAST(t.n_tokens AS DOUBLE))
              / (CAST(m.n_bigrams AS DOUBLE) * CAST(ul.n_tok AS DOUBLE)))
             * (CAST(t.n_tokens AS DOUBLE) / CAST(ur.n_tok AS DOUBLE)),
             6) AS pmi_ratio
FROM bi b
JOIN uni ul ON ul.tok = b.left_tok
JOIN uni ur ON ur.tok = b.right_tok
CROSS JOIN totals t CROSS JOIN m_total m
WHERE b.n_pair >= {PMI_MIN_COUNT}
ORDER BY pmi_ratio DESC, bigram
LIMIT {PMI_TOPK}
"""


#: BPE merge mining: report size for the first-iteration merge table.
BPE_TOPK = 25


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First iteration of BPE tokenizer training (Sennrich et al.
    2016): count adjacent SYMBOL pairs (characters, at iteration 0)
    inside words across the corpus and rank merge candidates — the
    pair with the top count is the first merge a BPE trainer learns.

    The heavy lifting is word-frequency collapsing: pair counting runs
    over the DISTINCT-WORD table weighted by word frequency (the
    standard BPE trainer representation), so the char-pair explode is
    |vocabulary|-sized, not corpus-sized — at 100 TB the word-count
    shuffle (map-side combined, uniform string keys) reduces the
    input by orders of magnitude before any character work happens.
    Then one more map-side-combined count over (left_sym, right_sym)
    and a TakeOrderedAndProject top-K.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(T.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_freq"))
        .where(F.length("word") >= 2)
    )
    pairs = words.select(
        "word",
        "word_freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> struct(substring(word, i, 1) AS left_sym, "
                "substring(word, i + 1, 1) AS right_sym))"
            )
        ).alias("p"),
    ).select("p.left_sym", "p.right_sym", "word", "word_freq")
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(
            F.sum("word_freq").alias("pair_count"),
            # countDistinct, not count: a word like 'coco' emits
            # (c,o) at two positions but is ONE distinct word.
            F.countDistinct("word").alias("n_distinct_words"),
        )
        .orderBy(
            F.desc("pair_count"), "left_sym", "right_sym"
        )
        .limit(BPE_TOPK)
    )


BPE_MERGE_ORACLE = f"""
WITH words AS (
  SELECT word, COUNT(*) AS word_freq
  FROM (
    SELECT unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS word
    FROM documents WHERE text IS NOT NULL
  )
  GROUP BY word
  HAVING LENGTH(word) >= 2
), pairs AS (
  SELECT word, word_freq,
         unnest(list_transform(range(1, LENGTH(word)),
                               i -> word[i:i])) AS left_sym,
         unnest(list_transform(range(1, LENGTH(word)),
                               i -> word[i+1:i+1])) AS right_sym
  FROM words
)
SELECT left_sym, right_sym,
       CAST(SUM(word_freq) AS BIGINT) AS pair_count,
       COUNT(DISTINCT word) AS n_distinct_words
FROM pairs
GROUP BY 1, 2
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT {BPE_TOPK}
"""


#: Char-trigram language profile: profile size per language.
TRIGRAM_PER_LANG = 10


def lang_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-trigram profile: the top
    ``TRIGRAM_PER_LANG`` char 3-grams of each declared language with
    frequency and corpus share — the TRAINING side of n-gram
    language-ID (Cavnar & Trenkle 1994): the marker-word classifier in
    :func:`text_language_id` is the runtime, this builds the profile
    a real one learns from.

    Narrow trigram explode fused into the scan, one (lang, trigram)
    map-side-combined count, a |langs|·|trigram|-row per-lang window
    for the top-K, share as an exact count ratio rounded once.
    """
    docs = load_table(spark, sf_dir, "documents")
    tris = (
        docs.where(F.col("text").isNotNull() & (F.col("lang").isNotNull()))
        .select(
            "lang",
            F.lower(F.trim(F.col("text"))).alias("t"),
        )
        .where(F.length("t") >= 3)
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(t) - 2), "
                    "i -> substring(t, i, 3))"
                )
            ).alias("trigram"),
        )
    )
    counts = tris.groupBy("lang", "trigram").agg(
        F.count(F.lit(1)).alias("n")
    )
    lang_tot = Window.partitionBy("lang")
    ranked = Window.partitionBy("lang").orderBy(
        F.desc("n"), F.col("trigram")
    )
    return (
        counts.withColumn("lang_total", F.sum("n").over(lang_tot))
        .withColumn("rank", F.row_number().over(ranked))
        .where(F.col("rank") <= TRIGRAM_PER_LANG)
        .select(
            "lang",
            "rank",
            "trigram",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("lang_total").cast("double"),
                6,
            ).alias("share"),
        )
    )


LANG_TRIGRAM_ORACLE = f"""
WITH tris AS (
  SELECT lang,
         unnest(list_transform(range(1, LENGTH(t) - 1),
                               i -> t[i:i+2])) AS trigram
  FROM (
    SELECT lang, LOWER(TRIM(text)) AS t
    FROM documents
    WHERE text IS NOT NULL AND lang IS NOT NULL
  )
  WHERE LENGTH(t) >= 3
), counts AS (
  SELECT lang, trigram, COUNT(*) AS n
  FROM tris GROUP BY 1, 2
), windowed AS (
  SELECT lang, trigram, n,
         SUM(n) OVER (PARTITION BY lang) AS lang_total,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY n DESC, trigram) AS INTEGER) AS rank
  FROM counts
)
SELECT lang, rank, trigram, n,
       ROUND(CAST(n AS DOUBLE) / CAST(lang_total AS DOUBLE), 6) AS share
FROM windowed
WHERE rank <= {TRIGRAM_PER_LANG}
"""


#: Winnowing fingerprint parameters: k-gram size in tokens and the
#: guarantee window over gram hashes. Any match of length ≥
#: WINNOW_K + WINNOW_W - 1 tokens is guaranteed to share a selected
#: fingerprint; expected density is 2/(WINNOW_W+1) of all grams.
WINNOW_K = 5
WINNOW_W = 4


def _oracle_winnow_gram(var: str = "i") -> str:
    """Rolling polynomial hash of the gram starting at 1-based
    position ``var`` over the residue list ``ht`` — unrolled so both
    engines evaluate the identical exact-int chain."""
    g = f"ht[{var}]"
    for j in range(1, WINNOW_K):
        g = f"((({g}) * {PH.SHINGLE_A} + ht[{var} + {j}]) % {PH.P})"
    return g


def winnow_selected(docs: DataFrame) -> DataFrame:
    """The winnowing CORE over any ``documents``-shaped frame:
    per-document selected fingerprints as rows ``(doc_id, pos,
    win_min, last_pos)`` — shared by :func:`winnowing_fingerprints`
    (which scalarizes per document) and the cross-split contamination
    audit (sampling.split_contamination_winnowing, which matches the
    raw fingerprints across splits). Documents shorter than
    ``WINNOW_K + WINNOW_W − 1`` tokens have no full window and are
    excluded by construction. One doc_id hash partition serves both
    window passes (gram lead-chain + sliding-min frame)."""
    min_tokens = WINNOW_K + WINNOW_W - 1
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", T.tokens(F.lower(F.col("text"))).alias("toks"))
        .where(F.size("toks") >= min_tokens)
    )
    positioned = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(F.col("toks"), lambda t: PH.tok_mod_p(t))
        ).alias("pos", "h"),
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    g = F.col("h")
    for j in range(1, WINNOW_K):
        g = (g * PH.SHINGLE_A + F.lead("h", j).over(w_ord)) % PH.P
    grams = positioned.select(
        "doc_id", "pos", g.alias("gh")
    ).where(F.col("gh").isNotNull())  # positions past n-k+1 have null leads
    w_frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    w_doc = Window.partitionBy("doc_id")
    return (
        grams.withColumn("win_min", F.min("gh").over(w_frame))
        .withColumn("last_pos", F.max("pos").over(w_doc))
        .where(F.col("pos") <= F.col("last_pos") - (WINNOW_W - 1))
    )


def winnow_core_sql() -> str:
    """Shared DuckDB CTE chain mirroring :func:`winnow_selected`
    (``wn_selected`` ends with the per-doc distinct fingerprint LIST
    ``fp`` plus ``n_grams``) — used by the winnowing report oracle
    here and the cross-split contamination oracle in sampling.py."""
    return f"""wn_toks AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'),
                        t -> {PH.oracle_tok_mod_p('t')}) AS ht
  FROM documents
  WHERE text IS NOT NULL
    AND len(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'))
        >= {WINNOW_K + WINNOW_W - 1}
), wn_grams AS (
  SELECT doc_id,
         len(ht) - {WINNOW_K - 1} AS n_grams,
         list_transform(range(1, len(ht) - {WINNOW_K - 1} + 1),
                        i -> {_oracle_winnow_gram()}) AS gh
  FROM wn_toks
), wn_selected AS (
  SELECT doc_id, n_grams,
         list_sort(list_distinct(
           list_transform(range(1, n_grams - {WINNOW_W - 1} + 1),
                          i -> list_min(gh[i:i + {WINNOW_W - 1}]))
         )) AS fp
  FROM wn_grams
)"""


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by WINNOWING (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003 — the MOSS algorithm): hash every
    ``WINNOW_K``-token gram with a rolling polynomial, then keep the
    MINIMUM hash of every ``WINNOW_W``-gram window. The selected set
    is a deterministic ~2/(w+1) subsample of the gram space with a
    GUARANTEE: any shared run of ≥ k+w-1 tokens between two documents
    shares a selected fingerprint — the property that lets a 100 TB
    overlap check index ~25% of grams instead of all of them.

    Linear by construction: token residues posexplode (narrow, fused
    into the scan), then ONE hash partition on doc_id serves both
    window passes — gram hashes via a ``lead`` chain (each token
    residue read k times, never a re-scan of the document) and the
    sliding minimum via a ``ROWS 0..w-1 FOLLOWING`` frame. An
    array-HOF formulation (slice+min per window over a gram array)
    reads beautifully but is O(n²·k) per document — Catalyst gives
    higher-order lambdas no common-subexpression elimination and
    CollapseProject re-inlines single-use projections, so the gram
    array is recomputed per window position; measured 63 s for ONE
    12.8k-token document vs. milliseconds here. Output is scalarized
    per document: gram count, selected-fingerprint count, density,
    and the md5 digest of the sorted fingerprint set.
    """
    sel = winnow_selected(load_table(spark, sf_dir, "documents"))
    return (
        sel.groupBy("doc_id")
        .agg(
            (F.max("last_pos") + 1).cast("int").alias("n_grams"),
            F.sort_array(F.collect_set("win_min")).alias("fp"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.size("fp").alias("n_fingerprints"),
            F.round(
                F.size("fp").cast("double") / F.col("n_grams").cast("double"),
                6,
            ).alias("density"),
            F.md5(
                F.concat_ws(
                    ",", F.transform(F.col("fp"), lambda x: x.cast("string"))
                )
            ).alias("fp_digest"),
        )
    )


WINNOWING_ORACLE = f"""
WITH {winnow_core_sql()}
SELECT doc_id,
       CAST(n_grams AS INTEGER) AS n_grams,
       CAST(len(fp) AS INTEGER) AS n_fingerprints,
       ROUND(CAST(len(fp) AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
         AS density,
       md5(array_to_string(fp, ',')) AS fp_digest
FROM wn_selected
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CHARACTER-level Shannon entropy (nats) — the
    lowest-level quality signal in the ladder: encrypted/compressed
    blobs and base64 junk score near ln(alphabet), keyboard-mash and
    repeated-char padding score near 0, natural language sits in a
    narrow band per script. Catches garbage that token-level signals
    (xent, Gopher rules) normalize away.

    Determinism: the per-class ``ln(c/n)`` rounds to the 1e-9 grid
    and multiplies the exact integer count, so the per-document sum
    is exact integer arithmetic in both engines (the
    text_unigram_xent contract). Shapes: one char explode (narrow),
    one (doc, char) count, a doc-co-located total join, one doc
    rollup — linear in characters.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .where(F.col("ch") != "")
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
    )
    term = F.col("c") * F.round(
        F.log(F.col("c").cast("double") / F.col("n").cast("double")) * 1e9
    ).cast("long")
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id", "n", "n_distinct_chars")
        .agg(
            F.round(
                -F.sum(term).cast("double") / 1e9 / F.col("n").cast("double"),
                6,
            ).alias("char_entropy")
        )
        .select(
            "doc_id",
            F.col("n").alias("n_chars_counted"),
            "n_distinct_chars",
            "char_entropy",
        )
    )


TEXT_CHAR_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch
  FROM documents WHERE text IS NOT NULL
), counts AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars WHERE ch <> ''
  GROUP BY doc_id, ch
), totals AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
         COUNT(*) AS n_distinct_chars
  FROM counts GROUP BY doc_id
)
SELECT c.doc_id,
       t.n AS n_chars_counted,
       t.n_distinct_chars,
       ROUND(-CAST(SUM(c.c * CAST(ROUND(LN(CAST(c.c AS DOUBLE)
                / CAST(t.n AS DOUBLE)) * 1e9) AS BIGINT)) AS DOUBLE)
             / 1e9 / CAST(t.n AS DOUBLE), 6) AS char_entropy
FROM counts c JOIN totals t USING (doc_id)
GROUP BY c.doc_id, t.n, t.n_distinct_chars
"""


#: Blocklist for the screening stage. Deliberately mixes a term the
#: synthetic corpus contains with terms it doesn't, so the zero-hit
#: path (LEFT join + coalesce) is exercised, not just the hot path.
BLOCKLIST_TERMS = ("slow", "skew", "spill")


def text_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist screening report per source — the pipeline
    stage that runs toxicity/NSFW/PII wordlists over a crawl and
    answers "which feeds are dirty, how dirty, and with what". Per
    source: total docs, flagged docs (≥1 blocklisted token), flag
    rate, total hits, and the dominant blocked term (count-desc,
    term-asc tiebreak).

    The blocklist is a LITERAL IN-list (real lists are 10²–10⁴ terms
    — still a broadcast-scale constant), so the match is a narrow
    scan-side filter: no join touches the corpus. Shuffle ledger:
    everything after the filter is |sources|-bounded rollups; the
    final assembly joins |sources|-row tables.
    """
    docs = load_table(spark, sf_dir, "documents")
    totals = docs.where(F.col("text").isNotNull()).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    hits = docs.select(
        "doc_id",
        "source",
        F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"),
    ).where(F.col("tok").isin(*BLOCKLIST_TERMS))
    by_src = hits.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs_flagged"),
        F.count(F.lit(1)).alias("n_hits"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("term_hits"), F.col("tok")
    )
    top = (
        hits.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("term_hits"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("source", F.col("tok").alias("top_term"), "term_hits")
    )
    return (
        totals.join(by_src, "source", "left")
        .join(top, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_docs_flagged", F.lit(0).cast("long")).alias(
                "n_docs_flagged"
            ),
            F.round(
                F.coalesce("n_docs_flagged", F.lit(0).cast("long")).cast(
                    "double"
                )
                / F.col("n_docs").cast("double"),
                6,
            ).alias("flag_rate"),
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            "top_term",
            F.coalesce("term_hits", F.lit(0).cast("long")).alias(
                "top_term_hits"
            ),
        )
    )


_BLOCKLIST_SQL = ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS)

TEXT_BLOCKLIST_ORACLE = f"""
WITH hits AS (
  SELECT doc_id, source, tok FROM (
    SELECT doc_id, source,
           unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE tok IN ({_BLOCKLIST_SQL})
), totals AS (
  SELECT source, COUNT(*) AS n_docs FROM documents
  WHERE text IS NOT NULL GROUP BY source
), by_src AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs_flagged,
         COUNT(*) AS n_hits
  FROM hits GROUP BY source
), top AS (
  SELECT source, tok AS top_term, term_hits FROM (
    SELECT source, tok, COUNT(*) AS term_hits,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY COUNT(*) DESC, tok) AS rk
    FROM hits GROUP BY source, tok
  ) WHERE rk = 1
)
SELECT t.source, t.n_docs,
       CAST(COALESCE(b.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged,
       ROUND(CAST(COALESCE(b.n_docs_flagged, 0) AS DOUBLE)
             / CAST(t.n_docs AS DOUBLE), 6) AS flag_rate,
       CAST(COALESCE(b.n_hits, 0) AS BIGINT) AS n_hits,
       p.top_term,
       CAST(COALESCE(p.term_hits, 0) AS BIGINT) AS top_term_hits
FROM totals t
LEFT JOIN by_src b ON b.source = t.source
LEFT JOIN top p ON p.source = t.source
"""


def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: token count, distinct-type
    count, type-token ratio, and the hapax share (types occurring
    exactly once in the doc). Low TTR flags keyword-stuffed or
    looping generations; a high hapax share on a long doc flags
    OCR noise — the pair is a standard curation signal next to
    text_repetition_ratio's n-gram view.

    Shuffle ledger: explode → groupBy(doc_id, tok) with map-side
    combine (the wordcount shape), then a second map-side-combined
    rollup to one row per doc. Nothing wider than the token stream
    ever shuffles, and both aggs partial-combine.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"),
    )
    per_tok = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_tok.groupBy("doc_id", "lang").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.count(F.lit(1)).cast("double")
            / F.sum("cnt").cast("double"),
            6,
        ).alias("ttr"),
        F.sum((F.col("cnt") == 1).cast("int")).alias("n_hapax"),
        F.round(
            F.sum((F.col("cnt") == 1).cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_share"),
    )


TEXT_TTR_ORACLE = """
WITH per_tok AS (
  SELECT doc_id, lang, tok, COUNT(*) AS cnt
  FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS tok
    FROM documents
  )
  GROUP BY doc_id, lang, tok
)
SELECT doc_id, lang,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
         AS ttr,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       ROUND(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
FROM per_tok
GROUP BY doc_id, lang
"""


def text_lang_confidence_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFIDENCE gate audit: the margin between the
    top-2 marker scores is the detector's confidence, and routing
    decisions (FineWeb keeps a page only when the lang classifier is
    confident) should key on it. Per (detected language, margin
    band ∈ {0, 1, 2+}): document count, agreement count with the
    declared label, and the agreement rate — the table that shows
    whether low-margin detections are actually the unreliable ones
    (they are: margin 0 means two languages tied).

    One narrow projection (the 4 marker scores + argmax + sorted-pair
    margin, all JVM expressions fused into the scan) and a ≤|langs|·3
    rollup — nothing corpus-sized moves.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    scores = F.sort_array(
        F.array(
            T.marker_hits_distinct(c, "en"),
            T.marker_hits_distinct(c, "es"),
            T.marker_hits_distinct(c, "de"),
            T.marker_hits_distinct(c, "fr"),
        ),
        asc=False,
    )
    margin = scores.getItem(0) - scores.getItem(1)
    band = (
        F.when(margin >= 2, F.lit("2+"))
        .when(margin == 1, F.lit("1"))
        .otherwise(F.lit("0"))
    )
    base = docs.select(
        "lang",
        T.language_id(c).alias("detected_lang"),
        band.alias("margin_band"),
    )
    agree = (F.col("detected_lang") == F.col("lang")).cast("long")
    return base.groupBy("detected_lang", "margin_band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(agree).alias("n_agree"),
        F.round(
            F.sum(agree).cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("agree_rate"),
    )


TEXT_LANG_MARGIN_ORACLE = f"""
WITH lm_base AS (
  SELECT lang,
         {T.oracle_language_id()} AS detected_lang,
         list_sort([
           CAST({T.oracle_marker_hits_distinct('en')} AS INTEGER),
           CAST({T.oracle_marker_hits_distinct('es')} AS INTEGER),
           CAST({T.oracle_marker_hits_distinct('de')} AS INTEGER),
           CAST({T.oracle_marker_hits_distinct('fr')} AS INTEGER)
         ], 'DESC') AS s
  FROM documents
), lm_band AS (
  SELECT lang, detected_lang,
         CASE WHEN s[1] - s[2] >= 2 THEN '2+'
              WHEN s[1] - s[2] = 1 THEN '1'
              ELSE '0' END AS margin_band
  FROM lm_base
)
SELECT detected_lang, margin_band,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN detected_lang = lang THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       ROUND(CAST(SUM(CASE WHEN detected_lang = lang THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS agree_rate
FROM lm_band
GROUP BY detected_lang, margin_band
"""


#: BPE training rounds unrolled by bpe_merge_iterative (and replayed
#: round-for-round by its generated oracle CTEs).
BPE_ITER_ROUNDS = 3


def bpe_merge_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE BPE tokenizer training (Sennrich et al. 2016),
    ``BPE_ITER_ROUNDS`` merges deep — the loop
    :func:`bpe_merge_candidates` runs one step of: count adjacent
    symbol pairs over the frequency-weighted vocabulary, learn the
    argmax pair, APPLY the merge to every word, repeat. Output is the
    learned merge table ``(round, left_sym, right_sym, pair_count)``
    — the actual artifact a BPE trainer persists.

    Symbol representation: each word is the wrapped-symbol string
    ``(c)(a)(t)``; applying merge (a, b) is the literal
    ``replace(sym, '(a)(b)', '(ab)')``, which both engines evaluate
    with identical left-to-right NON-OVERLAPPING semantics (the fold
    rule BPE specifies: ``aaa`` + merge (a,a) → ``(aa)(a)``) because
    every symbol's wrapper makes occurrences disjoint — no shared
    boundary character for a second overlapping match. Scope is
    ``^[a-z]+$`` words (standard BPE pre-tokenization strips
    punctuation), which also keeps the wrapper characters out of the
    symbol alphabet.

    Like the unrolled-iteration ML family (kmeans_lloyd), the
    per-round argmax is bounded MODEL STATE the driver legitimately
    holds (one pair per round); the vocabulary table materializes
    once via ``localCheckpoint`` (|vocab| rows — the BPE trainer's
    working set, corpus-independent) and each round is one
    vocab-sized pair count. At 100 TB the corpus is touched ONCE
    (the word-frequency collapse); rounds never rescan it. Oracle:
    generated round-for-round CTE replay, argmax via scalar
    subqueries, same tiebreak.
    """
    return spark.createDataFrame(
        _bpe_learn(spark, sf_dir),
        "round int, left_sym string, right_sym string, pair_count bigint",
    )


def _bpe_learn(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The BPE training loop shared by :func:`bpe_merge_iterative`
    (which returns the merge table itself) and
    :func:`tokenizer_fertility` (which APPLIES the learned merges):
    returns ``[(round, left, right, pair_count), ...]`` — bounded
    model state, one row per round."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(T.tokens(F.lower(F.col("text")))).alias("word"))
        .where(F.col("word").rlike("^[a-z]+$") & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_freq"))
    )
    base = words.select(
        # regexp_replace wraps EVERY char: "cat" -> "(c)(a)(t)".
        F.regexp_replace(F.col("word"), "(.)", "($1)").alias("sym"),
        "word_freq",
    ).localCheckpoint(eager=True)

    cur = base
    out_rows = []
    for rnd in range(1, BPE_ITER_ROUNDS + 1):
        syms = cur.withColumn(
            "syms",
            F.split(
                F.expr("substring(sym, 2, length(sym) - 2)"), r"\)\("
            ),
        )
        pairs = syms.select(
            "word_freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(syms[i - 1] AS l, syms[i] AS r))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("word_freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "l", "r")
            .limit(1)
            .collect()[0]
        )
        out_rows.append((rnd, top.l, top.r, int(top.pair_count)))
        cur = cur.withColumn(
            "sym",
            F.replace(
                F.col("sym"),
                F.lit(f"({top.l})({top.r})"),
                F.lit(f"({top.l}{top.r})"),
            ),
        )
    return out_rows


def _bpe_iter_oracle() -> str:
    """Round-for-round CTE replay of :func:`bpe_merge_iterative`:
    each round's pair count runs over the previous round's merged
    symbol strings, the argmax arrives via scalar subqueries with the
    same (count DESC, l, r) tiebreak, and the merge applies with the
    same literal REPLACE."""
    parts = [f"""bpe0 AS (
  SELECT REGEXP_REPLACE(word, '(.)', '(\\1)', 'g') AS sym,
         word_freq
  FROM (
    SELECT word, COUNT(*) AS word_freq
    FROM (
      SELECT unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS word
      FROM documents WHERE text IS NOT NULL
    )
    WHERE REGEXP_MATCHES(word, '^[a-z]+$') AND LENGTH(word) >= 2
    GROUP BY word
  )
)"""]
    for r in range(1, BPE_ITER_ROUNDS + 1):
        prev = f"bpe{r - 1}"
        parts.append(f"""bp{r}_syms AS (
  SELECT string_split(sym[2:LENGTH(sym) - 1], ')(') AS s, word_freq
  FROM {prev}
), bp{r}_idx AS (
  SELECT s, word_freq, unnest(range(1, len(s))) AS i FROM bp{r}_syms
), bp{r}_pairs AS (
  SELECT s[i] AS l, s[i + 1] AS r, SUM(word_freq) AS pair_count
  FROM bp{r}_idx
  GROUP BY 1, 2
), bp{r}_top AS (
  SELECT l, r, pair_count FROM bp{r}_pairs
  ORDER BY pair_count DESC, l, r LIMIT 1
), bpe{r} AS (
  SELECT REPLACE(sym,
                 '(' || (SELECT l FROM bp{r}_top) || ')(' ||
                       (SELECT r FROM bp{r}_top) || ')',
                 '(' || (SELECT l FROM bp{r}_top) ||
                       (SELECT r FROM bp{r}_top) || ')') AS sym,
         word_freq
  FROM {prev}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS round, l AS left_sym, "
        f"r AS right_sym, CAST(pair_count AS BIGINT) AS pair_count "
        f"FROM bp{r}_top"
        for r in range(1, BPE_ITER_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language TOKENIZER FERTILITY under the fitted BPE merges —
    the standard multilingual-tokenizer equity audit (see e.g. Rust
    et al. 2021, "How Good is Your Tokenizer?"): languages whose
    words fragment into more subword tokens pay more sequence length
    per sentence, so a trainer reading this table sees which domains
    the shared vocabulary under-serves. Composes the battery's two
    tokenizer halves: the merges LEARNED by
    :func:`bpe_merge_iterative` (same ``_bpe_learn`` loop — the
    numbers here audit exactly the trainer that runs) APPLIED to
    every in-scope corpus word.

    Output per language: words/chars/BPE-token totals, ``fertility
    = bpe_tokens / words`` and ``bpe_tokens / chars``, both as exact
    micro-unit floor divisions. Scope is the trainer's own
    (lowercased ``^[a-z]+$`` words, length ≥ 2) — punctuation and
    digits are pre-tokenization concerns, not vocab equity.

    Shapes, sized for 100 TB: the learn loop touches the corpus once
    (word-frequency collapse, memo'd via localCheckpoint) and each
    round rescans only the vocab table; the apply side collapses the
    corpus to DISTINCT (lang, word) counts first — merges then run
    as 3 literal replaces over the bounded vocab-per-lang table, not
    per token occurrence.
    """
    merges = _bpe_learn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.where(F.col("text").isNotNull())
        .select(
            "lang",
            F.explode(T.tokens(F.lower(F.col("text")))).alias("word"),
        )
        .where(F.col("word").rlike("^[a-z]+$") & (F.length("word") >= 2))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sym = F.regexp_replace(F.col("word"), "(.)", "($1)")
    for _rnd, left, right, _cnt in merges:
        sym = F.replace(
            sym, F.lit(f"({left})({right})"), F.lit(f"({left}{right})")
        )
    per_word = words.select(
        "lang",
        "cnt",
        F.length("word").cast("long").alias("wlen"),
        # symbol count = number of '(' wrappers after the merges
        (F.length(sym) - F.length(F.replace(sym, F.lit("(") , F.lit(""))))
        .cast("long")
        .alias("n_sym"),
    )
    return (
        per_word.groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("wlen") * F.col("cnt")).alias("n_chars"),
            F.sum(F.col("n_sym") * F.col("cnt")).alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            F.expr("n_bpe_tokens * 1000000 div n_words").alias(
                "fertility_micro"
            ),
            F.expr("n_bpe_tokens * 1000000 div n_chars").alias(
                "tokens_per_char_micro"
            ),
        )
        .orderBy("lang")
    )


def _tokenizer_fertility_oracle() -> str:
    """Merge-learning replay (the _bpe_iter_oracle chain, with
    MATERIALIZED hints — the apply side references each round's
    argmax 4× and DuckDB 1.0 would re-inline the whole learn chain
    per reference) followed by the per-language apply + rollup."""
    learn = [
        """bpe0 AS MATERIALIZED (
  SELECT REGEXP_REPLACE(word, '(.)', '(\\1)', 'g') AS sym,
         word_freq
  FROM (
    SELECT word, COUNT(*) AS word_freq
    FROM (
      SELECT unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS word
      FROM documents WHERE text IS NOT NULL
    )
    WHERE REGEXP_MATCHES(word, '^[a-z]+$') AND LENGTH(word) >= 2
    GROUP BY word
  )
)"""
    ]
    for r in range(1, BPE_ITER_ROUNDS + 1):
        prev = f"bpe{r - 1}"
        learn.append(f"""bp{r}_syms AS (
  SELECT string_split(sym[2:LENGTH(sym) - 1], ')(') AS s, word_freq
  FROM {prev}
), bp{r}_idx AS (
  SELECT s, word_freq, unnest(range(1, len(s))) AS i FROM bp{r}_syms
), bp{r}_pairs AS (
  SELECT s[i] AS l, s[i + 1] AS r, SUM(word_freq) AS pair_count
  FROM bp{r}_idx
  GROUP BY 1, 2
), bp{r}_top AS MATERIALIZED (
  SELECT l, r, pair_count FROM bp{r}_pairs
  ORDER BY pair_count DESC, l, r LIMIT 1
), bpe{r} AS MATERIALIZED (
  SELECT REPLACE(sym,
                 '(' || (SELECT l FROM bp{r}_top) || ')(' ||
                       (SELECT r FROM bp{r}_top) || ')',
                 '(' || (SELECT l FROM bp{r}_top) ||
                       (SELECT r FROM bp{r}_top) || ')') AS sym,
         word_freq
  FROM {prev}
)""")
    apply = [
        """ft_words AS MATERIALIZED (
  SELECT lang, word, COUNT(*) AS cnt,
         CAST(LENGTH(word) AS BIGINT) AS wlen
  FROM (
    SELECT lang,
           unnest(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) AS word
    FROM documents WHERE text IS NOT NULL
  )
  WHERE REGEXP_MATCHES(word, '^[a-z]+$') AND LENGTH(word) >= 2
  GROUP BY lang, word
), ft_sym0 AS (
  SELECT lang, cnt, wlen,
         REGEXP_REPLACE(word, '(.)', '(\\1)', 'g') AS sym
  FROM ft_words
)"""
    ]
    for r in range(1, BPE_ITER_ROUNDS + 1):
        apply.append(f"""ft_sym{r} AS (
  SELECT lang, cnt, wlen,
         REPLACE(sym,
                 '(' || (SELECT l FROM bp{r}_top) || ')(' ||
                       (SELECT r FROM bp{r}_top) || ')',
                 '(' || (SELECT l FROM bp{r}_top) ||
                       (SELECT r FROM bp{r}_top) || ')') AS sym
  FROM ft_sym{r - 1}
)""")
    tail = f"""ft_n AS (
  SELECT lang, cnt, wlen,
         CAST(LENGTH(sym) - LENGTH(REPLACE(sym, '(', '')) AS BIGINT)
           AS n_sym
  FROM ft_sym{BPE_ITER_ROUNDS}
)
SELECT lang,
       CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(wlen * cnt) AS BIGINT) AS n_chars,
       CAST(SUM(n_sym * cnt) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(n_sym * cnt) AS BIGINT) * 1000000
         // CAST(SUM(cnt) AS BIGINT) AS fertility_micro,
       CAST(SUM(n_sym * cnt) AS BIGINT) * 1000000
         // CAST(SUM(wlen * cnt) AS BIGINT) AS tokens_per_char_micro
FROM ft_n
GROUP BY lang
ORDER BY lang"""
    return (
        "WITH "
        + ",\n".join(learn)
        + ",\n"
        + ",\n".join(apply)
        + ",\n"
        + tail
    )


#: Kneser-Ney absolute discount, exact as the rational 3/4 — all
#: count arithmetic scales by 4 so the discounted numerator is the
#: integer max(4c−3, 0).
KN_TOP_K = 25


def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities for the top-K
    corpus bigrams (Kneser & Ney 1995; Chen & Goodman 1999) — the LM
    estimator that backs real perplexity-based quality scoring, one
    rung above the add-one unigram/bigram xent proxies:

        P_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
                      + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)

    with D = 3/4. The continuation distribution N1+(·w2)/N1+(··) is
    what distinguishes KN: a word seen after MANY distinct contexts
    (productive continuations) absorbs the discounted mass, a word
    frequent only inside one collocation does not. The report pairs
    P_KN with the MLE ratio so the audit shows exactly where
    smoothing moves mass.

    Exactness: D = 3/4 makes every term a ratio of integers after
    scaling by 4 — numerator max(4c−3, 0), denominators 4c(w1·) —
    so both engines evaluate ONE identical fixed double expression
    over exact longs, rounded to 6.

    Shapes, sized for 100 TB: bigram build is the narrow HOF map
    (:func:`text_bigram_topk`); c(w1w2) is one map-side-combined agg;
    c(w1·) and N1+(w1·) derive from the BIGRAM TYPE table (one more
    agg over |vocab²-observed| rows, not the corpus), N1+(·w2)
    likewise; N1+(··) is a 1-row broadcast. The final joins key on
    w1 / w2 over vocabulary-sized tables (hash-partition co-located;
    never corpus-sized), and top-K is TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select(T.tokens(F.lower(F.col("text"))).alias("toks"))
        .where(F.size("toks") >= 2)
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # Eagerly checkpointed: FOUR consumers (left, cont, nbig and the
    # final join) read the bigram TYPE table — unmaterialized, each
    # re-executes the corpus tokenize+explode+count subtree per
    # action (the round-14 plan audit read 4 document scans for this
    # query; exec-only was 5× the DuckDB twin). The frame is
    # |observed bigram types| rows of two words + a long —
    # vocabulary-sized, never corpus-sized.
    c12 = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    left = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).alias("n1p_fw"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bw"))
    nbig = c12.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    j = (
        c12.join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nbig))
    )
    num = F.greatest(F.lit(4) * F.col("c12") - F.lit(3), F.lit(0))
    den = (F.lit(4) * F.col("c1")).cast("double")
    p_kn = num.cast("double") / den + (
        (F.lit(3) * F.col("n1p_fw")).cast("double") / den
    ) * (
        F.col("n1p_bw").cast("double")
        / F.col("n_bigram_types").cast("double")
    )
    return (
        j.select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.col("c12").cast("double") / F.col("c1").cast("double"), 6
            ).alias("p_mle"),
            F.round(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(KN_TOP_K)
    )


TEXT_KN_ORACLE = f"""
WITH kn_toks AS (
  SELECT regexp_split_to_array(TRIM(LOWER(text)), '\\s+') AS toks
  FROM documents
  WHERE text IS NOT NULL
    AND len(regexp_split_to_array(TRIM(LOWER(text)), '\\s+')) >= 2
), kn_idx AS (
  SELECT toks, unnest(range(1, len(toks))) AS i FROM kn_toks
), kn_pairs AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM kn_idx
), kn_c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM kn_pairs GROUP BY w1, w2
), kn_left AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p_fw FROM kn_c12 GROUP BY w1
), kn_cont AS (
  SELECT w2, COUNT(*) AS n1p_bw FROM kn_c12 GROUP BY w2
), kn_nbig AS (
  SELECT COUNT(*) AS n_bigram_types FROM kn_c12
)
SELECT c.w1, c.w2, c.c12,
       ROUND(CAST(c.c12 AS DOUBLE) / CAST(l.c1 AS DOUBLE), 6) AS p_mle,
       ROUND(CAST(GREATEST(4 * c.c12 - 3, 0) AS DOUBLE)
               / CAST(4 * l.c1 AS DOUBLE)
             + (CAST(3 * l.n1p_fw AS DOUBLE) / CAST(4 * l.c1 AS DOUBLE))
               * (CAST(r.n1p_bw AS DOUBLE)
                  / CAST(b.n_bigram_types AS DOUBLE)), 6) AS p_kn
FROM kn_c12 c
JOIN kn_left l ON l.w1 = c.w1
JOIN kn_cont r ON r.w2 = c.w2
CROSS JOIN kn_nbig b
ORDER BY c.c12 DESC, c.w1, c.w2
LIMIT {KN_TOP_K}
"""


QUERIES: list[QueryDef] = [
    QueryDef("text_stats", text_stats, TEXT_STATS_ORACLE, "token/char/punct stats"),
    QueryDef("text_char_entropy", text_char_entropy, TEXT_CHAR_ENTROPY_ORACLE, "per-doc character-level Shannon entropy (garbage detector)"),
    QueryDef("text_type_token_ratio", text_type_token_ratio, TEXT_TTR_ORACLE, "per-doc type-token ratio + hapax share (lexical-diversity signal)"),
    QueryDef("text_blocklist_screen", text_blocklist_screen, TEXT_BLOCKLIST_ORACLE, "per-source term-blocklist screening report (narrow literal IN filter)"),
    QueryDef("winnowing_fingerprints", winnowing_fingerprints, WINNOWING_ORACLE, "MOSS winnowing rolling-hash document fingerprints"),
    QueryDef("bpe_merge_candidates", bpe_merge_candidates, BPE_MERGE_ORACLE, "first-iteration BPE merge-pair mining over the weighted word table"),
    QueryDef("lang_char_trigram_profile", lang_char_trigram_profile, LANG_TRIGRAM_ORACLE, "per-language char-trigram profile (lang-ID training side)"),
    QueryDef("text_pmi_collocations", text_pmi_collocations, TEXT_PMI_ORACLE, "top-K collocations by exact-ratio PMI (no transcendentals)"),
    QueryDef("text_top_terms", text_top_terms, TEXT_TOP_TERMS_ORACLE, "corpus term frequency top-k"),
    QueryDef("text_bigram_topk", text_bigram_topk, TEXT_BIGRAM_ORACLE, "corpus bigram top-k (narrow HOF build)"),
    QueryDef("text_kneser_ney_bigram", text_kneser_ney_bigram, TEXT_KN_ORACLE, "interpolated Kneser-Ney bigram LM (exact 3/4-discount rationals) vs MLE"),
    QueryDef("text_lang_confidence_margin", text_lang_confidence_margin, TEXT_LANG_MARGIN_ORACLE, "lang-ID top-2 score margin bands vs declared-label agreement (confidence gate audit)"),
    QueryDef("bpe_merge_iterative", bpe_merge_iterative, _bpe_iter_oracle(), "iterative BPE training: 3 unrolled merge rounds with applied merges (learned merge table)"),
    QueryDef(
        "tokenizer_fertility",
        tokenizer_fertility,
        _tokenizer_fertility_oracle(),
        "per-language tokenizer fertility (BPE tokens per word/char) "
        "under the fitted merges - the multilingual vocab-equity audit",
    ),
    QueryDef("text_language_id", text_language_id, TEXT_LANG_ORACLE, "marker-word lang-ID"),
    QueryDef("text_lang_confusion", text_lang_confusion, TEXT_LANG_CONFUSION_ORACLE, "declared-vs-detected language confusion matrix"),
    QueryDef("text_quality_score", text_quality_score, TEXT_QUALITY_ORACLE, "quality heuristic"),
    QueryDef("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_ORACLE, "md5 fingerprint"),
    QueryDef("text_corpus_by_lang", text_corpus_by_lang, TEXT_CORPUS_ORACLE, "corpus rollup"),
    QueryDef("text_pii_scrub", text_pii_scrub, TEXT_PII_ORACLE, "PII detect + mask"),
    QueryDef("text_repetition_ratio", text_repetition_ratio, TEXT_REPETITION_ORACLE, "3-gram repetition quality signal"),
    QueryDef("text_gopher_quality", text_gopher_quality, TEXT_GOPHER_ORACLE, "Gopher rule-based quality filter"),
    QueryDef("text_tfidf_top_terms", text_tfidf_top_terms, TEXT_TFIDF_ORACLE, "scaled-rational tf-idf top terms"),
    QueryDef("text_topk_per_lang", text_topk_per_lang, TEXT_TOPK_LANG_ORACLE, "grouped top-k by length"),
]
