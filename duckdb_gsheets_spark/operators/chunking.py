"""Document chunking and sub-document corpus-hygiene operators.

LLM training pipelines rarely feed whole documents: they window
documents into fixed-size token chunks (context packing), dedup at
sub-document granularity (C4/MassiveText-style repeated-passage
removal), and screen the corpus for benchmark contamination before
training. These three operators cover that surface:

* :func:`doc_chunk_tokens` — overlapping fixed-size token windows per
  document (the standard chunker in front of an embedding/packing
  stage);
* :func:`segment_dedup_stats` — exact duplicate detection over
  non-overlapping token segments, keeping the first global occurrence
  (dedup below document granularity — catches boilerplate shared
  across otherwise-distinct documents);
* :func:`contamination_ngram` — n-gram overlap between the corpus and
  a held-out benchmark set (the GPT-3/PaLM-style decontamination
  check);
* :func:`duplicate_passages` — the corpus-WIDE view the per-doc
  operators don't give: the top-K most-duplicated token passages with
  occurrence/document counts and their first occurrence (the report a
  dedup pass starts from — Lee et al., "Deduplicating Training Data
  Makes Language Models Better", arXiv:2107.06499);
* :func:`boilerplate_segment_removal` — the RefinedWeb/CCNet
  repeated-line filter on segments: drop ALL occurrences of segments
  shared by enough distinct documents, report per-doc token retention.

All are pure JVM column programs (``split``/``slice``/
``sequence``/``md5`` + joins) with exact DuckDB oracles — no Python in
the data path.

Scale notes (100 TB):

* Chunking is a NARROW map (scan → explode) — it pipelines into the
  scan, no shuffle; output size is corpus size × (1 + overlap).
* Segment dedup shuffles once on the 16-byte segment hash (not the
  text) for the first-occurrence window, then once on doc_id for the
  rollup. Hash-partitioning on md5 is uniform by construction — no
  skew regardless of how skewed document lengths are.
* Contamination broadcasts the benchmark n-gram set (a benchmark is
  small by definition) so the corpus side is a broadcast-hash
  semi-join — zero shuffle of the 100 TB side. The corpus n-gram
  explode is narrow and fused into the scan.

Reference parity note: the reference engine (duckdb_gsheets,
src/gsheets_read.cpp) exposes sheet data to DuckDB, which has no
chunking/contamination surface; these operators are part of the
beyond-reference training-data layer SURVEY.md §2.3 commits to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_gsheets_spark.functions.text import WHITESPACE_SPLIT
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import load_table

#: Chunk window size and stride in whitespace tokens. stride < size
#: gives the (size - stride)-token overlap packers use so no span is
#: split across a chunk boundary.
CHUNK_SIZE = 32
CHUNK_STRIDE = 24

#: Non-overlapping segment size for sub-document dedup.
SEGMENT_SIZE = 16

#: Contamination n-gram order and the benchmark membership modulus:
#: doc_id % BENCH_MOD == 0 plays the role of the held-out benchmark
#: set (deterministic, scale-stable).
CONTAM_N = 5
BENCH_MOD = 97


def _tokens_df(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, n_tokens) with NULL texts dropped — the shared
    front end of all three operators. Narrow: projection only."""
    return (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.split(F.trim(F.col("text")), WHITESPACE_SPLIT).alias("toks"),
        )
        .withColumn("n_tokens", F.size("toks"))
    )


def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks per document.

    ``n_chunks = 1 + ceil(max(0, n - SIZE) / STRIDE)`` (every document
    yields at least one chunk; the last chunk may be short). The plan
    is scan → split → explode(sequence) → slice — fully narrow, so at
    100 TB it streams through the scan with zero shuffle and
    whole-stage codegen end to end.

    Output is scalarized (token count + md5 of the chunk text) so the
    driver's pandas canonicalizer can hash it; the chunk text itself
    is one ``array_join`` away for a real packing stage.
    """
    toks = _tokens_df(load_table(spark, sf_dir, "documents"))
    n_chunks = F.lit(1) + F.expr(
        f"div(greatest(0, n_tokens - {CHUNK_SIZE}) + {CHUNK_STRIDE - 1}, "
        f"{CHUNK_STRIDE})"
    )
    chunk_toks = F.slice(
        F.col("toks"),
        F.col("chunk_id") * CHUNK_STRIDE + 1,
        CHUNK_SIZE,
    )
    return (
        toks.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size(chunk_toks).alias("chunk_tokens"),
            F.md5(F.array_join(chunk_toks, " ")).alias("chunk_hash"),
        )
    )


DOC_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(text), '\\s+') AS t,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n
  FROM documents WHERE text IS NOT NULL
), chunks AS (
  SELECT doc_id, t,
         unnest(range(0, 1 + (GREATEST(0, n - {CHUNK_SIZE}) + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE})) AS chunk_id
  FROM toks
)
SELECT doc_id, chunk_id,
       CAST(len(list_slice(t, chunk_id * {CHUNK_STRIDE} + 1,
                      chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS INTEGER) AS chunk_tokens,
       md5(array_to_string(list_slice(t, chunk_id * {CHUNK_STRIDE} + 1,
                                      chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' ')) AS chunk_hash
FROM chunks
"""


def segment_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: split every document into
    non-overlapping ``SEGMENT_SIZE``-token segments, mark each segment
    a duplicate iff the same segment text occurred earlier in the
    corpus (first occurrence in (doc_id, seg_id) order wins), and roll
    up a per-document duplication ratio.

    This is the C4 "repeated three-sentence span" / MassiveText
    repeated-passage screen expressed over token segments. Two
    shuffles: one hash-partition on the 16-byte segment md5 for the
    first-occurrence window (uniform by construction — md5 can't
    skew), one on doc_id for the rollup.
    """
    toks = _tokens_df(load_table(spark, sf_dir, "documents"))
    n_segs = F.expr(f"div(n_tokens + {SEGMENT_SIZE - 1}, {SEGMENT_SIZE})")
    seg_toks = F.slice(
        F.col("toks"), F.col("seg_id") * SEGMENT_SIZE + 1, SEGMENT_SIZE
    )
    segs = (
        toks.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_id"),
        )
        .select(
            "doc_id",
            "seg_id",
            F.md5(F.array_join(seg_toks, " ")).alias("seg_hash"),
        )
    )
    w = Window.partitionBy("seg_hash").orderBy("doc_id", "seg_id")
    ranked = segs.withColumn("occ", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum((F.col("occ") > 1).cast("long")).alias("n_dup_segments"),
        F.round(
            F.sum((F.col("occ") > 1).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_ratio"),
    )


SEGMENT_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(text), '\\s+') AS t,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n
  FROM documents WHERE text IS NOT NULL
), segs AS (
  SELECT doc_id,
         unnest(range(0, (n + {SEGMENT_SIZE - 1}) // {SEGMENT_SIZE})) AS seg_id,
         t
  FROM toks
), hashed AS (
  SELECT doc_id, seg_id,
         md5(array_to_string(list_slice(t, seg_id * {SEGMENT_SIZE} + 1,
                                        seg_id * {SEGMENT_SIZE} + {SEGMENT_SIZE}), ' ')) AS seg_hash
  FROM segs
), ranked AS (
  SELECT doc_id, seg_id,
         ROW_NUMBER() OVER (PARTITION BY seg_hash ORDER BY doc_id, seg_id) AS occ
  FROM hashed
)
SELECT doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
       ROUND(CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
FROM ranked
GROUP BY doc_id
"""


def _contam_gram_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(bench, corpus) md5-gram frames shared by the exact
    containment screen and the Bloom screen: bench is the DISTINCT
    (bench_doc, gram) set of the held-out slice, corpus is the raw
    (doc_id, gram) stream of everything else. No pre-join distinct on
    the corpus side: the consumers' rollups dedupe, and a distinct
    here would shuffle the FULL corpus gram stream — downstream
    broadcast joins / literal-mask probes filter it first, so only
    matched/flagged rows ever reach an exchange."""
    toks = _tokens_df(load_table(spark, sf_dir, "documents")).where(
        F.col("n_tokens") >= CONTAM_N
    )
    ngram = F.md5(
        F.array_join(
            F.slice(F.col("toks"), F.col("pos"), CONTAM_N), " "
        )
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.col("n_tokens") - (CONTAM_N - 1))
        ).alias("pos"),
        "toks",
    ).select("doc_id", ngram.alias("gram"))
    bench = (
        grams.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_doc"), "gram")
        .distinct()
    )
    corpus = grams.where(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", "gram"
    )
    return bench, corpus


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screen: for every corpus document,
    count its distinct ``CONTAM_N``-gram overlaps with the benchmark
    set (``doc_id % BENCH_MOD == 0`` stands in for the held-out
    benchmark — deterministic and scale-stable).

    The GPT-3/PaLM decontamination recipe: any training document
    sharing a long-enough n-gram with an eval benchmark is flagged.
    Benchmark n-grams are BROADCAST (a benchmark is small by
    definition), so the 100 TB corpus side is a broadcast hash join
    fused into its scan-side n-gram explode — the only shuffle is the
    per-document rollup of matched rows, already reduced by the join.
    """
    bench, corpus = _contam_gram_frames(spark, sf_dir)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_matched_ngrams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


CONTAMINATION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(text), '\\s+') AS t,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n
  FROM documents
  WHERE text IS NOT NULL AND len(regexp_split_to_array(TRIM(text), '\\s+')) >= {CONTAM_N}
), grams AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, pos, pos + {CONTAM_N - 1}), ' ')) AS gram
  FROM (SELECT doc_id, t, unnest(range(1, n - {CONTAM_N - 1} + 1)) AS pos FROM toks)
), bench AS (
  SELECT DISTINCT doc_id AS bench_doc, gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
), corpus AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % {BENCH_MOD} <> 0
)
SELECT c.doc_id,
       COUNT(DISTINCT c.gram) AS n_matched_ngrams,
       COUNT(DISTINCT b.bench_doc) AS n_bench_docs
FROM corpus c JOIN bench b USING (gram)
GROUP BY c.doc_id
"""


#: Bloom decontamination screen: hash count and SIZING RULE. The
#: filter is sized from the benchmark's distinct-gram inventory at a
#: fixed bits-per-element budget — how production Blooms are sized
#: (bits/element pins the fill ratio, hence the FP rate, at EVERY
#: corpus scale: 32 bits/element × 3 hashes ⇒ ~9% fill ⇒ ~7e-4 FP per
#: probed gram). A constant M would be saturated at one scale and
#: degenerate-empty at another; the rule is deterministic from the
#: data, so the oracle computes the identical M.
BLOOM_K = 3
BLOOM_BITS_PER_ITEM = 32
BLOOM_MIN_M = 64
#: The mask is WORD-PACKED: an ``array<long>`` with 63 usable bits per
#: word. 63 — not 64 — because every per-word value must stay a
#: non-negative signed 64-bit integer: DuckDB raises "Overflow in left
#: shift" on ``1::BIGINT << 63``, and keeping words positive lets both
#: engines build and probe the identical packing with plain
#: ``& (1 << (bit % 63))`` arithmetic (no unsigned-shift semantics to
#: reconcile). The 1.6% density loss is irrelevant next to the 64×
#: footprint win over the round-10 array<boolean> mask.
BLOOM_WORD_BITS = 63
#: Hard cap on the filter size: the packed mask ships as a broadcast
#: literal at ~m/7.9 bytes (2^30 bits ≈ 136 MB — the practical
#: one-row-broadcast budget), and bit positions come from a 60-bit md5
#: prefix (addresses to 2^60). At 32 bits/gram this cap admits ~33M
#: distinct benchmark grams — far past any real decontamination suite;
#: beyond it you shard the filter, so fail loud rather than degrade.
BLOOM_MAX_M = 1 << 30


def _bloom_hash60(gram: Column, seed: int) -> Column:
    """Raw 60-bit hash of ``gram`` under hash ``seed``: the first 15
    hex chars of md5(gram + '#' + seed) as a 60-bit integer — the
    portable construction both engines compute identically (same
    md5-prefix device as the sampling family; 15 hex digits because
    16 would exceed signed-64 range on the DuckDB side). PRE-mod so
    the artifact builders can collect it before the filter size m is
    known and reduce mod m on the driver."""
    return F.conv(
        F.substring(F.md5(F.concat(gram, F.lit(f"#{seed}"))), 1, 15),
        16,
        10,
    ).cast("long")


def _bloom_bit(gram: Column, seed: int, m) -> Column:
    """Bit position of ``gram`` under hash ``seed``:
    ``_bloom_hash60 % m``."""
    return _bloom_hash60(gram, seed) % m


def _bloom_word_hit(bit: Column, words: Column) -> Column:
    """TRUE iff ``bit`` is set in the word-packed mask ``words``:
    ``words[bit // 63] & (1 << (bit % 63)) != 0`` as pure-JVM
    expressions. The per-word test uses ``pow(2, bit % 63)`` for the
    single-bit probe — every power of two through 2^62 is exactly
    representable in a double, so the cast back to long is exact and
    identical to the shift the oracle computes."""
    widx = F.floor(bit / F.lit(BLOOM_WORD_BITS)).cast("int")
    probe = F.pow(F.lit(2.0), (bit % BLOOM_WORD_BITS).cast("int")).cast(
        "long"
    )
    return F.element_at(words, widx + 1).bitwiseAND(probe) != 0


def bloom_artifact(
    spark,
    sf_dir: str,
    bench_grams: DataFrame | None = None,
    bits_per_item: int = BLOOM_BITS_PER_ITEM,
) -> tuple[int, list[int]]:
    """Fit the decontamination Bloom filter from the benchmark slice:
    ``(m, words)`` where ``m = max(BLOOM_MIN_M, bits_per_item ×
    |distinct bench grams|)`` and ``words`` is the m-bit membership
    mask packed ``BLOOM_WORD_BITS`` bits per non-negative long
    (``ceil(m / 63)`` words). This is the TRAINED ARTIFACT both
    consumers ship to executors as a one-row broadcast literal.

    The whole fit is ONE distributed action: a single collect of the
    K raw 60-bit hashes per distinct gram. The sizing count is the
    length of that same result (no separate ``.count()`` job), and
    the mod-m reduction + word packing run on the driver over the
    already-bounded artifact rows (the round-11 shape collected
    distinct post-mod bits instead, which cost an extra count job and
    a full distinct shuffle per fit — the round-12 job-floor cut).
    ``bench_grams`` (the distinct-gram frame) may be passed in by a
    caller that also consumes it elsewhere. ``bits_per_item`` exists
    so tests can force a past-2^24-bit mask without a
    half-million-gram benchmark; production callers use the default
    sizing rule.
    """
    if bench_grams is None:
        bench, _ = _contam_gram_frames(spark, sf_dir)
        # single consumer below — no checkpoint needed on this path
        bench_grams = bench.select("gram").distinct()
    # The collect is LIMIT-bounded at one row past the largest suite
    # the mask budget admits (BLOOM_MAX_M / bits_per_item grams), so
    # an oversized benchmark hits the friendly ValueError below — the
    # same guard the pre-fusion shape ran as a separate count job —
    # instead of an unbounded driver collect, and a legal fit still
    # pays exactly ONE action.
    max_items = BLOOM_MAX_M // bits_per_item
    hash_rows = (
        bench_grams.select(
            *[
                _bloom_hash60(F.col("gram"), s).alias(f"h{s}")
                for s in range(BLOOM_K)
            ]
        )
        .limit(max_items + 1)
        .collect()
    )
    if len(hash_rows) > max_items:
        raise ValueError(
            f"bloom filter needs > BLOOM_MAX_M {BLOOM_MAX_M} bits "
            f"(more than {max_items} distinct benchmark grams at "
            f"{bits_per_item} bits/item): a mask past 2^30 bits exceeds "
            "the one-row broadcast budget — shard the filter (partition "
            "the benchmark gram space) for a suite this large"
        )
    m = max(BLOOM_MIN_M, bits_per_item * len(hash_rows))
    words = [0] * ((m + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS)
    for r in hash_rows:
        for s in range(BLOOM_K):
            b = r[s] % m
            words[b // BLOOM_WORD_BITS] |= 1 << (b % BLOOM_WORD_BITS)
    return m, words


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen + its acceptance audit:
    the benchmark's n-gram set is folded into a Bloom filter sized
    at BLOOM_BITS_PER_ITEM bits per distinct benchmark gram
    (BLOOM_K deterministic md5-derived hashes — the sizing rule keeps
    the FP rate scale-free), every corpus document
    is screened through it, and the per-source report compares the
    Bloom verdicts against the exact containment join — flagging the
    false positives the filter's fill ratio buys.

    Why this exists next to contamination_ngram: at 100 TB you do not
    ship the benchmark's gram SET to every executor and join — you
    ship a CONSTANT-SIZE mergeable filter (the CCNet/Gopher-era
    decontamination deployment shape) and accept a measured FP rate.
    Unlike the HLL/KLL sketch rows, the construction here is fully
    deterministic (md5 bit positions), so the sketch itself is
    value-exact ORACLE-CHECKED — DuckDB rebuilds the same filter as a
    bit TABLE and replays membership as a count-all-K join.

    Plan shape: the filter ships as a one-row broadcast literal — a
    WORD-PACKED ``array<long>`` (63 usable bits per word; see
    BLOOM_WORD_BITS for why not 64) — and membership is BLOOM_K
    pure-JVM element_at + bitwise-AND probes per corpus gram — ZERO
    corpus-side shuffle before the per-source rollup of per-doc
    flags. The exact side reuses the broadcast bench join. No false
    negatives by construction (pytest-pinned); false positives are
    the report's subject, not a bug.
    """
    bench, corpus = _contam_gram_frames(spark, sf_dir)
    # One distinct-gram frame, eagerly checkpointed, feeds both
    # benchmark consumers (the one-pass artifact fit and the exact
    # containment join) — without it each would re-run the corpus
    # tokenize+explode.
    bench_grams = (
        bench.select("gram").distinct().localCheckpoint(eager=True)
    )
    m, words = bloom_artifact(spark, sf_dir, bench_grams=bench_grams)
    mask_df = spark.createDataFrame([(words,)], "bloom_words array<long>")

    contained = None
    for s in range(BLOOM_K):
        hit = _bloom_word_hit(
            _bloom_bit(F.col("gram"), s, m), F.col("bloom_words")
        )
        contained = hit if contained is None else (contained & hit)
    corpus_hit = corpus.crossJoin(F.broadcast(mask_df)).select(
        "doc_id", "gram", contained.alias("bloom_hit_gram")
    )
    return _contam_screen_report(spark, sf_dir, corpus_hit, bench_grams)


def _contam_screen_report(
    spark, sf_dir: str, corpus_hit: DataFrame, bench_grams: DataFrame,
) -> DataFrame:
    """Shared acceptance-report tail for the Bloom screens: per
    source, screened/bloom-flagged/exact-flagged/false-positive doc
    counts. ``corpus_hit`` is the corpus gram stream ``(doc_id, gram,
    bloom_hit_gram)`` with the screen's per-gram Bloom verdict already
    attached; the exact side is a broadcast left join against the
    (checkpointed) benchmark gram set.

    ONE pass over the corpus explode: the round-13 shape consumed the
    corpus gram subtree through THREE separate frames (flagged /
    exact / screened), each re-executing the tokenize+explode chain
    per action — the dominant exec cost of both Bloom rows. Folding
    all three flags into one per-doc aggregate (map-side combined, so
    the exchange carries doc-grain rows, never the gram stream) keeps
    the results bit-identical while scanning the corpus once."""
    per_doc = (
        corpus_hit.join(
            F.broadcast(bench_grams.withColumn("exact_g", F.lit(1))),
            "gram",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.max(
                F.when(F.col("bloom_hit_gram"), F.lit(1)).otherwise(F.lit(0))
            ).alias("bloom_hit"),
            F.max(F.coalesce(F.col("exact_g"), F.lit(0))).alias("exact_hit"),
        )
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_screened"),
            F.sum("bloom_hit").alias("n_bloom_flagged"),
            F.sum("exact_hit").alias("n_exact_flagged"),
            F.sum(
                F.col("bloom_hit") * (1 - F.col("exact_hit"))
            ).alias("n_false_positives"),
        )
        .orderBy("source")
    )


#: Shard count of the PARTITIONED Bloom screen — the scale path past
#: a single filter's broadcast budget (BLOOM_MAX_M): grams route to a
#: shard by an independent hash, each shard fits its OWN filter from
#: its own gram count, so total capacity is BLOOM_SHARDS × the
#: single-filter cap and each shard stays individually
#: broadcast-sized. 4 here exercises the routing; production sets it
#: to ceil(total_bits / BLOOM_MAX_M).
BLOOM_SHARDS = 4


def _bloom_shard_of(gram: Column) -> Column:
    """Shard a gram routes to: an independent 60-bit md5 (seed tag
    '#shard', disjoint from the '#0'..'#K-1' membership hashes) mod
    BLOOM_SHARDS — both engines compute it identically."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(gram, F.lit("#shard"))), 1, 15),
            16,
            10,
        ).cast("long")
        % BLOOM_SHARDS
    )


def bloom_artifact_sharded(
    bench_grams: DataFrame,
) -> dict[int, tuple[int, list[int]]]:
    """Fit the PARTITIONED decontamination filter: ``{shard: (m_s,
    words_s)}`` where each shard's filter is sized from ITS gram
    count by the same bits-per-item rule (so per-gram FP behavior is
    identical to the unsharded filter) and word-packed exactly like
    :func:`bloom_artifact`. Shards with no benchmark grams have no
    filter — a gram routing there is definitionally not contained.
    Each shard individually respects BLOOM_MAX_M; total capacity is
    BLOOM_SHARDS × that.

    Like :func:`bloom_artifact`, the fit is ONE distributed action —
    a single collect of (shard, K raw 60-bit hashes) per distinct
    gram; per-shard counts, sizing, the mod-m_s reduction and word
    packing all run driver-side over those bounded rows (round 12
    fused the former per-shard count job + bit distinct shuffle into
    this pass)."""
    # LIMIT-bounded like bloom_artifact's fit: the sharded budget is
    # BLOOM_SHARDS × the single-mask item cap, and any suite past it
    # gets the friendly error before the driver holds more than one
    # row over that bound (per-shard skew past BLOOM_MAX_M is still
    # caught by the per-shard sizing check below).
    max_items = BLOOM_SHARDS * (BLOOM_MAX_M // BLOOM_BITS_PER_ITEM)
    hash_rows = (
        bench_grams.select(
            _bloom_shard_of(F.col("gram")).alias("shard"),
            *[
                _bloom_hash60(F.col("gram"), s).alias(f"h{s}")
                for s in range(BLOOM_K)
            ],
        )
        .limit(max_items + 1)
        .collect()
    )
    if len(hash_rows) > max_items:
        raise ValueError(
            f"sharded bloom: suite exceeds {max_items} distinct grams "
            f"(BLOOM_SHARDS {BLOOM_SHARDS} × BLOOM_MAX_M {BLOOM_MAX_M} "
            f"at {BLOOM_BITS_PER_ITEM} bits/item) — raise BLOOM_SHARDS "
            "for a suite this large"
        )
    counts: dict[int, int] = {}
    for r in hash_rows:
        counts[int(r.shard)] = counts.get(int(r.shard), 0) + 1
    ms = {
        s: max(BLOOM_MIN_M, BLOOM_BITS_PER_ITEM * n)
        for s, n in counts.items()
    }
    for s, m in ms.items():
        if m > BLOOM_MAX_M:
            raise ValueError(
                f"sharded bloom: shard {s} needs {m} bits (> BLOOM_MAX_M "
                f"{BLOOM_MAX_M}) — raise BLOOM_SHARDS for a suite this "
                "large"
            )
    words: dict[int, list[int]] = {
        s: [0] * ((m + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS)
        for s, m in ms.items()
    }
    for r in hash_rows:
        shard, m = int(r.shard), ms[int(r.shard)]
        for s in range(BLOOM_K):
            b = r[s + 1] % m
            words[shard][b // BLOOM_WORD_BITS] |= 1 << (
                b % BLOOM_WORD_BITS
            )
    return {s: (ms[s], words[s]) for s in ms}


def contamination_bloom_sharded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITIONED Bloom decontamination screen — the documented
    scale path past one filter's broadcast budget, as a running
    operator: grams route to BLOOM_SHARDS independent filters (an
    independent md5 shard hash), each shard sized from its own gram
    inventory by the same bits-per-item rule, and membership probes
    route the same way. Total filter capacity multiplies by the
    shard count while each shard stays individually shippable; a
    probe touches exactly ONE shard's words.

    Plan shape: the shard filters are a |shards|-row frame joined to
    the corpus grams on the shard key — a plain equi-join, which AQE
    broadcasts at this size and which SCALES by partition-routing
    when the filter table outgrows broadcast (each executor holds
    only probed shards, the property the one-row literal cannot
    give). Everything after the join is the same pure-JVM word-probe
    and per-source rollup as :func:`contamination_bloom`; the exact
    side and the report tail are shared code. The filter is fit in
    the same session, from the checkpointed benchmark grams the exact
    side also reads.
    """
    bench, corpus = _contam_gram_frames(spark, sf_dir)
    bench_grams = (
        bench.select("gram").distinct().localCheckpoint(eager=True)
    )
    shards = bloom_artifact_sharded(bench_grams)
    shard_df = spark.createDataFrame(
        [(s, m, w) for s, (m, w) in sorted(shards.items())],
        "shard long, m long, bloom_words array<long>",
    )
    contained = None
    for s in range(BLOOM_K):
        hit = _bloom_word_hit(
            _bloom_bit(F.col("gram"), s, F.col("m")), F.col("bloom_words")
        )
        contained = hit if contained is None else (contained & hit)
    # LEFT join: a shard with no benchmark grams has no filter row
    # (definitionally not contained), but its corpus grams must still
    # reach the one-pass screened/exact rollup — coalesce(NULL-probe,
    # false) keeps the verdict identical to the old filtered branch.
    corpus_hit = (
        corpus.withColumn("shard", _bloom_shard_of(F.col("gram")))
        .join(shard_df, "shard", "left")
        .select(
            "doc_id",
            "gram",
            F.coalesce(contained, F.lit(False)).alias("bloom_hit_gram"),
        )
    )
    return _contam_screen_report(spark, sf_dir, corpus_hit, bench_grams)


_BLOOM_GRAM_CTE = f"""
toks AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(text), '\\s+') AS t,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n
  FROM documents
  WHERE text IS NOT NULL AND len(regexp_split_to_array(TRIM(text), '\\s+')) >= {CONTAM_N}
), grams AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, pos, pos + {CONTAM_N - 1}), ' ')) AS gram
  FROM (SELECT doc_id, t, unnest(range(1, n - {CONTAM_N - 1} + 1)) AS pos FROM toks)
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
), corpus AS (
  SELECT doc_id, gram FROM grams WHERE doc_id % {BENCH_MOD} <> 0
)"""

CONTAMINATION_BLOOM_ORACLE = f"""
WITH {_BLOOM_GRAM_CTE},
msize AS (
  SELECT GREATEST({BLOOM_MIN_M},
                  {BLOOM_BITS_PER_ITEM} * COUNT(DISTINCT gram)) AS m
  FROM bench
),
seeds(s) AS (VALUES {", ".join(f"({i})" for i in range(BLOOM_K))}),
bbits AS (
  SELECT DISTINCT
         CAST('0x' || SUBSTRING(md5(gram || '#' || CAST(s AS VARCHAR)), 1, 15)
              AS BIGINT) % (SELECT m FROM msize) AS bit
  FROM bench CROSS JOIN seeds
), bwords AS (
  -- the word-packed mask, rebuilt exactly as the engine packs it:
  -- 63 usable bits per non-negative BIGINT word (1 << 63 overflows
  -- signed 64 in both engines)
  SELECT bit // {BLOOM_WORD_BITS} AS widx,
         bit_or(1::BIGINT << CAST(bit % {BLOOM_WORD_BITS} AS INTEGER)) AS w
  FROM bbits GROUP BY bit // {BLOOM_WORD_BITS}
), cg AS (
  SELECT DISTINCT doc_id, gram FROM corpus
), probes AS (
  SELECT doc_id, gram,
         CAST('0x' || SUBSTRING(md5(gram || '#' || CAST(s AS VARCHAR)), 1, 15)
              AS BIGINT) % (SELECT m FROM msize) AS bit
  FROM cg CROSS JOIN seeds
), bloomf AS (
  SELECT DISTINCT doc_id FROM (
    SELECT p.doc_id, p.gram
    FROM probes p JOIN bwords bw ON bw.widx = p.bit // {BLOOM_WORD_BITS}
    WHERE (bw.w & (1::BIGINT << CAST(p.bit % {BLOOM_WORD_BITS} AS INTEGER))) <> 0
    GROUP BY p.doc_id, p.gram
    HAVING COUNT(*) = {BLOOM_K}
  )
), exactf AS (
  SELECT DISTINCT c.doc_id FROM cg c JOIN bench b USING (gram)
), screened AS (
  SELECT DISTINCT doc_id FROM corpus
)
SELECT d.source,
       COUNT(*) AS n_docs_screened,
       CAST(SUM(CASE WHEN bf.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_flagged,
       CAST(SUM(CASE WHEN ef.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_flagged,
       CAST(SUM(CASE WHEN bf.doc_id IS NOT NULL AND ef.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
FROM screened s
JOIN documents d USING (doc_id)
LEFT JOIN bloomf bf ON bf.doc_id = s.doc_id
LEFT JOIN exactf ef ON ef.doc_id = s.doc_id
GROUP BY d.source
ORDER BY d.source
"""


#: Shard-routing SQL fragment: the independent '#shard' 60-bit md5
#: mod BLOOM_SHARDS, verbatim what _bloom_shard_of computes.
_BLOOM_SHARD_SQL = (
    "CAST('0x' || SUBSTRING(md5({g} || '#shard'), 1, 15) AS BIGINT) "
    f"% {BLOOM_SHARDS}"
)

CONTAMINATION_BLOOM_SHARDED_ORACLE = f"""
WITH {_BLOOM_GRAM_CTE},
shardm AS (
  SELECT {_BLOOM_SHARD_SQL.format(g="gram")} AS shard,
         GREATEST({BLOOM_MIN_M},
                  {BLOOM_BITS_PER_ITEM} * COUNT(DISTINCT gram)) AS m
  FROM bench GROUP BY 1
),
seeds(s) AS (VALUES {", ".join(f"({i})" for i in range(BLOOM_K))}),
sbits AS (
  SELECT DISTINCT sm.shard,
         CAST('0x' || SUBSTRING(md5(gram || '#' || CAST(s AS VARCHAR)), 1, 15)
              AS BIGINT) % sm.m AS bit
  FROM bench b
  JOIN shardm sm ON sm.shard = {_BLOOM_SHARD_SQL.format(g="b.gram")}
  CROSS JOIN seeds
), swords AS (
  SELECT shard, bit // {BLOOM_WORD_BITS} AS widx,
         bit_or(1::BIGINT << CAST(bit % {BLOOM_WORD_BITS} AS INTEGER)) AS w
  FROM sbits GROUP BY 1, 2
), cg AS (
  SELECT DISTINCT doc_id, gram FROM corpus
), probes AS (
  SELECT c.doc_id, c.gram, sm.shard,
         CAST('0x' || SUBSTRING(md5(c.gram || '#' || CAST(s AS VARCHAR)), 1, 15)
              AS BIGINT) % sm.m AS bit
  FROM cg c
  JOIN shardm sm ON sm.shard = {_BLOOM_SHARD_SQL.format(g="c.gram")}
  CROSS JOIN seeds
), bloomf AS (
  SELECT DISTINCT doc_id FROM (
    SELECT p.doc_id, p.gram
    FROM probes p
    JOIN swords w ON w.shard = p.shard
                 AND w.widx = p.bit // {BLOOM_WORD_BITS}
    WHERE (w.w & (1::BIGINT << CAST(p.bit % {BLOOM_WORD_BITS} AS INTEGER))) <> 0
    GROUP BY p.doc_id, p.gram
    HAVING COUNT(*) = {BLOOM_K}
  )
), exactf AS (
  SELECT DISTINCT c.doc_id FROM cg c JOIN bench b USING (gram)
), screened AS (
  SELECT DISTINCT doc_id FROM corpus
)
SELECT d.source,
       COUNT(*) AS n_docs_screened,
       CAST(SUM(CASE WHEN bf.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_flagged,
       CAST(SUM(CASE WHEN ef.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_flagged,
       CAST(SUM(CASE WHEN bf.doc_id IS NOT NULL AND ef.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
FROM screened s
JOIN documents d USING (doc_id)
LEFT JOIN bloomf bf ON bf.doc_id = s.doc_id
LEFT JOIN exactf ef ON ef.doc_id = s.doc_id
GROUP BY d.source
ORDER BY d.source
"""


#: Duplicated-passage report: passage length in tokens, top-K size,
#: and the duplication floor (passages seen fewer times are noise).
PASSAGE_N = 8
TOP_PASSAGES = 50
PASSAGE_MIN_OCC = 2


def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K most-duplicated ``PASSAGE_N``-token passages corpus-wide.

    The corpus-level twin of :func:`segment_dedup_stats`: instead of a
    per-document dup ratio, report WHICH passages are duplicated — the
    artifact a dedup/boilerplate-removal pass is built from (Lee et
    al. 2021 start exactly here: rank repeated spans, then cut).

    ONE-PASS plan, sized for 100 TB:

    1. Count phase: explode sliding ``PASSAGE_N``-grams (narrow, fused
       into the scan), hash each gram's TOKEN ARRAY directly with two
       independently-seeded xxhash64s (128 bits of key; no passage
       string is ever built or shuffled — md5-over-joined-string was
       ~10× the hashing cost at sf0.1, BASELINE.md round 10), and
       aggregate occurrence + distinct-doc counts PLUS the first
       occurrence ``min(struct(doc_id, pos))`` per key in one
       partial-combining aggregate (uniform 16-byte keys + 16 B of
       min-struct state; skew-proof; the min folds map-side, so no
       per-key row stream survives the shuffle).
    2. Annotate phase: broadcast the ≤K winner rows against the
       tokenized docs (a K-row join that prunes to ≤K documents) and
       slice each winner's passage text out of its first-occurrence
       document. No second corpus-wide explode, no per-occurrence
       window, no passage text ever shuffled — the round-9 shape
       re-exploded the corpus and ranked every occurrence of every
       winner through a row_number window, which was most of the
       1.8×-vs-DuckDB gap.

    Determinism: rank/tiebreak/K-cut order is ``(n_occurrences DESC,
    first_doc, first_pos)`` — a TOTAL order because a passage is
    uniquely identified by any one occurrence position, so distinct
    passages always differ in their first occurrence. The order is
    hash-free on purpose: it lets the engine pick its cheapest
    internal key while the oracle groups by the passage string
    itself, and the two stay winner-for-winner identical.
    """
    toks = _tokens_df(load_table(spark, sf_dir, "documents")).where(
        F.col("n_tokens") >= PASSAGE_N
    )
    gram_arr = F.slice(F.col("toks"), F.col("pos"), PASSAGE_N)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.col("n_tokens") - (PASSAGE_N - 1))
        ).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.xxhash64(gram_arr).alias("h1"),
        F.xxhash64(F.lit(42), gram_arr).alias("h2"),
    )
    top = (
        grams.groupBy("h1", "h2")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .where(F.col("n_occurrences") >= PASSAGE_MIN_OCC)
        .select(
            "n_occurrences",
            "n_docs",
            F.col("first.doc_id").alias("first_doc"),
            F.col("first.pos").alias("first_pos"),
        )
        .orderBy(F.desc("n_occurrences"), "first_doc", "first_pos")
        .limit(TOP_PASSAGES)
    )
    # Fetch winner text from the RAW docs so tokenization happens
    # AFTER the ≤K-row broadcast join (≤K documents re-split, not the
    # corpus — the projected-before-join form re-tokenized every doc).
    docs_raw = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    texts = F.broadcast(top).join(
        docs_raw, top.first_doc == docs_raw.doc_id
    )
    # Unpartitioned window over a provably bounded input: `top` is the
    # broadcast-bounded K=50 winner set, so the single partition holds
    # ≤50 rows at any corpus size (allowlisted in the registry-wide
    # unpartitioned-window sweep, tests/test_plans.py).
    ranked = Window.orderBy(
        F.desc("n_occurrences"), "first_doc", "first_pos"
    )
    return (
        texts.withColumn("rank", F.row_number().over(ranked))
        .select(
            "rank",
            F.array_join(
                F.slice(
                    F.split(F.trim(F.col("text")), WHITESPACE_SPLIT),
                    F.col("first_pos").cast("int"),
                    PASSAGE_N,
                ),
                " ",
            ).alias("passage"),
            "n_occurrences",
            "n_docs",
            "first_doc",
            "first_pos",
        )
    )


#: Boilerplate suppression: segment granularity (tokens) and the
#: document-frequency floor above which a segment counts as corpus
#: boilerplate (RefinedWeb/CCNet drop lines repeated across enough
#: distinct pages; this corpus has no line structure, so the unit is
#: the non-overlapping token segment, as elsewhere in this module).
BOILER_SEG_SIZE = 8
BOILER_MIN_DOCS = 3


def boilerplate_segment_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate suppression: drop EVERY occurrence of
    any ``BOILER_SEG_SIZE``-token segment that appears in at least
    ``BOILER_MIN_DOCS`` distinct documents, and report the per-document
    token retention.

    This is the RefinedWeb/CCNet repeated-line filter re-expressed on
    token segments: unlike :func:`segment_dedup_stats` (which keeps the
    FIRST occurrence — near-dup hygiene), a boilerplate pass removes
    ALL occurrences, because a segment shared by many unrelated
    documents is template chrome (headers, navboxes, license
    blurbs), not content worth keeping once.

    Shuffle ledger (100 TB): document text never reaches an exchange —
    the segment explode and md5 are narrow and fused into the scan,
    so only (doc_id, seg_hash, seg_tokens) rows move. Three shuffles,
    all on uniform keys: (1) the document-frequency aggregate on the
    16-byte segment hash (md5 cannot skew), (2) the join of segments
    back to their frequency row on the same hash (AQE turns this into
    a broadcast when the segment dictionary is small; the shuffle
    plan is the unconditional-scale path), (3) the per-document
    rollup on doc_id. Output is one row per document regardless of
    corpus size.
    """
    toks = _tokens_df(load_table(spark, sf_dir, "documents"))
    n_segs = F.expr(f"div(n_tokens + {BOILER_SEG_SIZE - 1}, {BOILER_SEG_SIZE})")
    seg_toks = F.slice(
        F.col("toks"), F.col("seg_id") * BOILER_SEG_SIZE + 1, BOILER_SEG_SIZE
    )
    segs = (
        toks.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_id"),
        )
        .select(
            "doc_id",
            F.md5(F.array_join(seg_toks, " ")).alias("seg_hash"),
            F.size(seg_toks).alias("seg_tokens"),
        )
    )
    seg_df = segs.groupBy("seg_hash").agg(
        F.countDistinct("doc_id").alias("df")
    )
    boiler = F.col("df") >= BOILER_MIN_DOCS
    flagged = segs.join(seg_df, "seg_hash")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(boiler.cast("long")).alias("n_boiler_segments"),
        F.sum(F.col("seg_tokens").cast("long")).alias("tokens_total"),
        F.sum(
            F.when(boiler, F.lit(0)).otherwise(F.col("seg_tokens")).cast("long")
        ).alias("tokens_retained"),
        F.round(
            F.sum(
                F.when(boiler, F.lit(0))
                .otherwise(F.col("seg_tokens"))
                .cast("long")
            ).cast("double")
            / F.sum(F.col("seg_tokens").cast("long")).cast("double"),
            6,
        ).alias("retained_ratio"),
    )


BOILERPLATE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(text), '\\s+') AS t,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n
  FROM documents WHERE text IS NOT NULL
), segs AS (
  SELECT doc_id,
         unnest(range(0, (n + {BOILER_SEG_SIZE - 1}) // {BOILER_SEG_SIZE})) AS seg_id,
         t
  FROM toks
), hashed AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, seg_id * {BOILER_SEG_SIZE} + 1,
                                        seg_id * {BOILER_SEG_SIZE} + {BOILER_SEG_SIZE}), ' ')) AS seg_hash,
         len(list_slice(t, seg_id * {BOILER_SEG_SIZE} + 1,
                        seg_id * {BOILER_SEG_SIZE} + {BOILER_SEG_SIZE})) AS seg_tokens
  FROM segs
), seg_df AS (
  SELECT seg_hash, COUNT(DISTINCT doc_id) AS df FROM hashed GROUP BY seg_hash
)
SELECT h.doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN d.df >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_segments,
       CAST(SUM(h.seg_tokens) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN d.df >= {BOILER_MIN_DOCS} THEN 0 ELSE h.seg_tokens END) AS BIGINT)
         AS tokens_retained,
       ROUND(CAST(SUM(CASE WHEN d.df >= {BOILER_MIN_DOCS} THEN 0 ELSE h.seg_tokens END) AS DOUBLE)
             / CAST(SUM(h.seg_tokens) AS DOUBLE), 6) AS retained_ratio
FROM hashed h JOIN seg_df d USING (seg_hash)
GROUP BY h.doc_id
"""


DUPLICATE_PASSAGES_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(TRIM(text), '\\s+') AS t,
         len(regexp_split_to_array(TRIM(text), '\\s+')) AS n
  FROM documents
  WHERE text IS NOT NULL AND len(regexp_split_to_array(TRIM(text), '\\s+')) >= {PASSAGE_N}
), grams AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(t, pos, pos + {PASSAGE_N - 1}), ' ') AS passage
  FROM (SELECT doc_id, t, unnest(range(1, n - {PASSAGE_N - 1} + 1)) AS pos FROM toks)
), hashed AS (
  -- md5 is the oracle's INTERNAL group key (16-byte keys beat
  -- grouping by 32-token strings ~6x in DuckDB); the ranking below
  -- never reads it, so engine and oracle stay hash-independent.
  SELECT doc_id, pos, md5(passage) AS h FROM grams
), agg AS (
  -- first occurrence = min over doc_id*2^20+pos, a single scalar MIN
  -- (DuckDB's MIN over a struct is ~10x slower). The pack preserves
  -- (doc_id, pos) lexicographic order while pos < 2^20 — generated
  -- test docs are well under 1M tokens; the ENGINE uses a true
  -- struct min with no such bound.
  SELECT h, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs,
         MIN(doc_id * 1048576 + pos) AS packed
  FROM hashed GROUP BY 1
  HAVING COUNT(*) >= {PASSAGE_MIN_OCC}
), top AS (
  SELECT n_occurrences, n_docs,
         packed // 1048576 AS first_doc, packed % 1048576 AS first_pos
  FROM agg
  ORDER BY n_occurrences DESC, first_doc, first_pos LIMIT {TOP_PASSAGES}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, first_doc, first_pos) AS INTEGER) AS rank,
       array_to_string(list_slice(k.t, t.first_pos, t.first_pos + {PASSAGE_N - 1}), ' ') AS passage,
       t.n_occurrences, t.n_docs, t.first_doc, CAST(t.first_pos AS BIGINT) AS first_pos
FROM top t JOIN toks k ON k.doc_id = t.first_doc
"""


QUERIES: list[QueryDef] = [
    QueryDef(
        "doc_chunk_tokens",
        doc_chunk_tokens,
        DOC_CHUNK_ORACLE,
        "overlapping fixed-size token chunks per document (narrow explode)",
    ),
    QueryDef(
        "segment_dedup_stats",
        segment_dedup_stats,
        SEGMENT_DEDUP_ORACLE,
        "sub-document exact dedup over non-overlapping token segments",
    ),
    QueryDef(
        "contamination_bloom",
        contamination_bloom,
        CONTAMINATION_BLOOM_ORACLE,
        "Bloom-filter decontamination screen + FP audit vs exact containment (deterministic, oracle-checked sketch)",
    ),
    QueryDef(
        "contamination_bloom_sharded",
        contamination_bloom_sharded,
        CONTAMINATION_BLOOM_SHARDED_ORACLE,
        "partitioned Bloom screen: shard-routed filters multiply capacity past one broadcast budget",
    ),
    QueryDef(
        "contamination_ngram",
        contamination_ngram,
        CONTAMINATION_ORACLE,
        "benchmark n-gram contamination screen (broadcast semi-join)",
    ),
    QueryDef(
        "duplicate_passages",
        duplicate_passages,
        DUPLICATE_PASSAGES_ORACLE,
        "top-K most-duplicated token passages corpus-wide (Lee et al. report)",
    ),
    QueryDef(
        "boilerplate_segment_removal",
        boilerplate_segment_removal,
        BOILERPLATE_ORACLE,
        "corpus boilerplate suppression: drop all occurrences of "
        "high-document-frequency segments, report per-doc retention",
    ),
]
