"""Corpus-curation operators (LLM-data-pipeline extension, SURVEY.md §2.C).

The stages every large-scale pretraining pipeline runs between raw crawl,
dedup and the trainer, each in its scale-correct Spark formulation.
The first three:

- decontaminate      — drop/flag corpus docs sharing any n-gram with a
                       held-out eval set (broadcast the eval shingles: eval
                       benchmarks are MBs, the corpus is the 100 TB side)
- pack_sequences     — concatenate-and-chunk token packing: assign docs to
                       fixed-token-budget training sequences via a windowed
                       running sum (the batch form of what a dataloader's
                       sequence packer does)
- sample_stratified  — per-language hash-fraction downsampling (language
                       rebalancing) in ONE corpus scan, deterministic and
                       engine-portable unlike ``df.sampleBy``

The family also holds Bloom-filter decontamination, quantile quality
filters, incremental dedup, PII masking, feature assembly and bucketizing
and table profiles; the statistics that gate admission (LM quality score, chunk
dedup, source mixing, shard assignment, sliding chunks); and the
measurements a run takes before tokenizer/trainer handoff (vocabulary
coverage, duplicate substrings, exact-k sampling, BPE merge training). Each
key's section comment gives its design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.functions.numeric import hround, sql_hround
from mapreduce_6_824_lab1_spark.functions.text import SQL_TOKENS, tokens_col
from mapreduce_6_824_lab1_spark.operators.dedup import (
    _SHINGLES_FROM_TOKS,
    _SHINGLES_SQL,
    JACCARD_THRESHOLD,
    NGRAM_ORACLE,
    SHINGLE_DF_CAP,
    jaccard_pairs,
    shingle_sets,
)
from mapreduce_6_824_lab1_spark.operators.text_analysis import (
    _KNUTH,
    _MOD,
    _STOP_SQL,
    STOPWORDS,
)
from mapreduce_6_824_lab1_spark.registry import query

# ---------------------------------------------------------------------------
# Decontamination — the fixture's held-out "benchmark" is sources src0/src1;
# everything else is the training corpus. A corpus doc is contaminated if it
# shares ANY word-trigram shingle with any eval doc (the standard 13-gram
# check scaled down to the fixture's 31-word vocabulary).
# ---------------------------------------------------------------------------

EVAL_SOURCES = ("src0", "src1")

_EVAL_IN = "('" + "', '".join(EVAL_SOURCES) + "')"

DECONTAMINATE_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, lang, source,
           unnest(list_distinct({_SHINGLES_SQL})) AS shingle
    FROM documents
),
eval_shingles AS (
    SELECT DISTINCT shingle FROM sh WHERE source IN {_EVAL_IN}
)
SELECT s.doc_id, s.lang, s.source, count(*) AS shared_shingles
FROM sh s JOIN eval_shingles e USING (shingle)
WHERE s.source NOT IN {_EVAL_IN}
GROUP BY s.doc_id, s.lang, s.source
"""


@query("decontaminate", oracle=DECONTAMINATE_ORACLE)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus docs whose shingles overlap the held-out eval set.

    Plan shape: the eval side collapses to a DISTINCT shingle set and is
    broadcast into the corpus-side join — the corpus is scanned once,
    map-side, with no corpus shuffle before the per-doc count aggregate.
    100 TB: eval benchmarks are tiny (MBs of n-grams) regardless of corpus
    size, so the broadcast never grows with the data; this is the same
    shape production decontamination uses (broadcast bloom/exact n-gram
    set). The per-doc count is one partial-agg shuffle on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", "source", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.array_distinct(F.expr(_SHINGLES_FROM_TOKS))
        ).alias("shingle"),
    )
    eval_shingles = (
        sh.where(F.col("source").isin(*EVAL_SOURCES))
        .select("shingle")
        .distinct()
    )
    corpus = sh.where(~F.col("source").isin(*EVAL_SOURCES))
    return (
        corpus.join(broadcast(eval_shingles), "shingle")
        .groupBy("doc_id", "lang", "source")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination — the same contract as ``decontaminate``
# but with the production-scale probe structure: a k=2 Bloom filter over the
# eval shingle set, expressed relationally (Spark's BloomFilterAggregate /
# might_contain pair is not registered in the public SQL function registry,
# and DataFrameStatFunctions.bloomFilter is JVM-only), then an exact verify
# join that removes the Bloom's false positives. The bit array is the
# DISTINCT set of hash buckets; "bit test" is a broadcast LEFT SEMI hash
# join per hash function. Why it matters at 100 TB: the broadcast shrinks
# from the full eval shingle STRINGS (unbounded length) to 2 int sets of at
# most m entries, and the two semi-joins drop almost every corpus shingle
# map-side before the string join materializes; only candidate survivors
# carry their text into the exact phase.
# ---------------------------------------------------------------------------

BLOOM_MIN_BITS = 1 << 17  # m floor: unchanged at every fixture/driver scale
BLOOM_BITS_PER_KEY = 8  # k=2, m/n=8 -> FPR ~ (1-e^(-1/4))^2 ~ 5%
BLOOM_SEEDS = (17, 41)  # k=2 independent xxhash64 seeds


def bloom_bits(n_eval: int) -> int:
    """Bit-array size per hash function for an n_eval-shingle eval set:
    smallest power of two >= BLOOM_MIN_BITS with m >= 8*n_eval. A FIXED m
    saturates as the eval suite grows — FPR drifts toward 1 and the
    prefilter silently passes the whole corpus to the exact join (correct
    but the 100 TB map-side drop evaporates) — the same fixed-capacity
    defect class as the sign-LSH width ``similarity.adaptive_sign_bits``
    fixed. Growing m is free at broadcast time: the shipped "bit array"
    is the DISTINCT set of occupied buckets, whose size is <= n_eval
    whatever m is."""
    m = BLOOM_MIN_BITS
    while m < n_eval * BLOOM_BITS_PER_KEY:
        m <<= 1
    return m


@query("decontaminate_bloom", oracle=DECONTAMINATE_ORACLE)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase decontamination: Bloom-bucket prefilter + exact verify.

    Result is identical to ``decontaminate`` (same oracle): the Bloom
    phase only drops TRUE negatives, and the exact join removes its false
    positives — the rewrite is purely physical, like the salted join.
    The bit-array size adapts to the eval shingle count (:func:`bloom_bits`
    — one count(*) on the checkpointed eval set, which the plan was
    already re-deriving per seed; the checkpoint also stops that).
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "lang", "source", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.array_distinct(F.expr(_SHINGLES_FROM_TOKS))
        ).alias("shingle"),
    )
    # localCheckpoint: the eval set is re-read per seed and by the exact
    # verify join (3 plan uses); eval sources are a small fixed slice, so
    # the materialization is broadcast-grade, and its count sizes the Bloom.
    eval_shingles = (
        sh.where(F.col("source").isin(*EVAL_SOURCES))
        .select("shingle")
        .distinct()
        .localCheckpoint()
    )
    m = bloom_bits(eval_shingles.count())
    corpus = sh.where(~F.col("source").isin(*EVAL_SOURCES))
    for seed in BLOOM_SEEDS:
        bits = eval_shingles.select(
            F.pmod(F.xxhash64("shingle", F.lit(seed)), F.lit(m)).alias("bit")
        ).distinct()
        corpus = corpus.join(
            broadcast(bits),
            F.pmod(F.xxhash64(corpus["shingle"], F.lit(seed)), F.lit(m))
            == bits["bit"],
            "left_semi",
        )
    return (
        corpus.join(broadcast(eval_shingles), "shingle")
        .groupBy("doc_id", "lang", "source")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )


# ---------------------------------------------------------------------------
# Sequence packing — concatenate docs in deterministic (doc_id) order within
# each (lang, source) group and chunk the stream into SEQ_LEN-token training
# sequences: a doc's sequence id is its starting offset div SEQ_LEN.
# ---------------------------------------------------------------------------

SEQ_LEN = 256

PACK_ORACLE = f"""
WITH tok AS (
    SELECT lang, source, doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
offs AS (
    SELECT lang, source, doc_id, n_tokens,
           COALESCE(sum(n_tokens) OVER (
               PARTITION BY lang, source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS start_off
    FROM tok
)
SELECT lang, source,
       CAST(floor(start_off / {SEQ_LEN}) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
FROM offs
GROUP BY lang, source, seq_id
"""


@query("pack_sequences", oracle=PACK_ORACLE)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing via a windowed running sum.

    The window is partitioned by (lang, source) — packing only needs LOCAL
    contiguity, never a global order, so there is no single-partition
    window anywhere. 100 TB: groups here are corpus slices that can grow
    unboundedly; since sequence boundaries are arbitrary, the scale move is
    to refine the partition key with a doc_id bucket (``doc_id div B``) so
    every window partition is bounded — same semantics, same plan, bounded
    state. One shuffle for the window, one partial-agg shuffle for the
    per-sequence rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = tok.withColumn(
        "start_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        offs.withColumn(
            "seq_id",
            F.floor(F.col("start_off") / SEQ_LEN).cast("long"),
        )
        .groupBy("lang", "source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified sampling — language rebalancing by per-stratum hash fractions.
# Same Knuth multiplicative hash as sample_split (text_analysis.py), so the
# kept set is append-stable and reproducible on any engine; df.sampleBy is
# deliberately NOT used (seeded per-partition RNG => not engine-portable,
# and resampling churns on repartition).
# ---------------------------------------------------------------------------

STRATA_FRACTIONS = {"en": 0.5, "de": 0.75}  # others keep everything

_FRAC_CASE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {int(frac * _MOD)}"
    for lang, frac in STRATA_FRACTIONS.items()
) + f" ELSE {_MOD} END"

SAMPLE_STRATIFIED_ORACLE = f"""
WITH h AS (
    SELECT lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           ((doc_id * {_KNUTH}) % {_MOD}) < ({_FRAC_CASE_SQL}) AS kept
    FROM documents
)
SELECT lang,
       count(*) AS n_total,
       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       CAST(COALESCE(sum(n_tokens) FILTER (WHERE kept), 0) AS BIGINT)
           AS kept_tokens
FROM h
GROUP BY lang
"""


@query("sample_stratified", oracle=SAMPLE_STRATIFIED_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language hash-fraction downsampling, audited in one scan.

    Keep doc iff ``hash(doc_id) < fraction(lang) * 2^32``. The whole query
    is one map-side projection plus one partial-agg shuffle on lang — the
    filter costs nothing extra because kept/total are counted in the same
    aggregate pass (conditional aggregation, not two scans). 100 TB: no
    stored sample table, no RNG state; re-running on a grown corpus keeps
    every previously-kept doc (append-stable), which is what incremental
    pipeline reruns need.
    """
    docs = load_table(spark, sf_dir, "documents")
    cutoff = F.lit(_MOD)
    for lang, frac in STRATA_FRACTIONS.items():
        cutoff = (
            F.when(F.col("lang") == lang, int(frac * _MOD)).otherwise(cutoff)
        )
    kept = F.pmod(F.col("doc_id") * _KNUTH, F.lit(_MOD)) < cutoff
    n_tokens = F.size(F.split("text", " ")).cast("long")
    return (
        docs.select("lang", n_tokens.alias("n_tokens"), kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n_tokens"))), F.lit(0)
            )
            .cast("long")
            .alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Adaptive quality filtering — the threshold is a per-language quantile of
# the corpus's own score distribution, not a hand-picked constant, so the
# filter keeps the same fraction as the corpus mix drifts. Score formula is
# the text_quality one (text_analysis.py), rounded to 4 decimals BEFORE the
# quantile so both engines interpolate over bit-identical inputs.
# ---------------------------------------------------------------------------

QUALITY_CUT_P = 0.10

_QUALITY_SQL = f"""
    SELECT lang,
           floor((0.5 * least(len(string_split(text, ' ')) / 50.0, 1.0)
                 + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
                                    x -> x IN {_STOP_SQL}))
                          * 1.0 / len(string_split(text, ' ')))
                 + 0.2 * least((n_chars - (len(string_split(text, ' ')) - 1))
                               * 1.0 / len(string_split(text, ' ')) / 8.0,
                               1.0)) * 10000 + 0.5) / 10000 AS quality
    FROM documents
"""

QUALITY_FILTER_ORACLE = f"""
WITH q AS ({_QUALITY_SQL}),
thr AS (
    SELECT lang, quantile_cont(quality, {QUALITY_CUT_P}) AS cutoff
    FROM q GROUP BY lang
)
SELECT q.lang,
       floor((any_value(thr.cutoff)) * 10000 + 0.5) / 10000 AS cutoff,
       count(*) AS n_kept,
       floor((avg(q.quality)) * 10000 + 0.5) / 10000 AS avg_quality_kept
FROM q JOIN thr USING (lang)
WHERE q.quality >= thr.cutoff
GROUP BY q.lang
"""


@query("quality_filter_quantile", oracle=QUALITY_FILTER_ORACLE)
def quality_filter_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop the worst-quality decile per language (adaptive threshold).

    Two passes over the projected (lang, quality) pairs: one partial-agg
    shuffle computes the 5-row per-language cutoff table, which broadcasts
    back into the filter — the corpus itself shuffles only for the final
    per-language rollup. 100 TB: exact ``percentile`` keeps all values per
    group in memory; at scale swap to ``approx_percentile`` with a pinned
    accuracy (same plan, sketch state instead) — kept exact here so the
    DuckDB oracle can reproduce the interpolation bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("lang", "n_chars", tokens_col().alias("toks"))
    n_words = F.size("toks")
    stop_ratio = (
        F.size(
            F.filter(
                "toks", lambda x: (x == STOPWORDS[0]) | (x == STOPWORDS[1])
            )
        )
        / n_words
    )
    avg_word_len = (F.col("n_chars") - (n_words - 1)) / n_words
    quality = hround(
        0.5 * F.least(n_words / 50.0, F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
        + 0.2 * F.least(avg_word_len / 8.0, F.lit(1.0)),
        4,
    )
    q = toked.select("lang", quality.alias("quality"))
    thr = q.groupBy("lang").agg(
        F.percentile("quality", QUALITY_CUT_P).alias("cutoff")
    )
    return (
        q.join(broadcast(thr), "lang")
        .where(F.col("quality") >= F.col("cutoff"))
        .groupBy("lang")
        .agg(
            hround(F.any_value("cutoff"), 4).alias("cutoff"),
            F.count(F.lit(1)).alias("n_kept"),
            hround(F.avg("quality"), 4).alias("avg_quality_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental near-dup dedup — admit a new batch (doc_id >= SPLIT) against
# the already-ingested corpus (doc_id < SPLIT) without re-pairing the
# corpus against itself: batch shingles probe the corpus's inverted index,
# so candidate work scales with the BATCH, not the corpus squared.
# ---------------------------------------------------------------------------

INCR_SPLIT = 400

DEDUP_INCREMENTAL_ORACLE = f"""
WITH pairs AS ({NGRAM_ORACLE})
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id >= {INCR_SPLIT}
  AND NOT EXISTS (
      SELECT 1 FROM pairs p
      WHERE p.doc_b = d.doc_id AND p.jaccard >= {JACCARD_THRESHOLD}
  )
"""


@query("dedup_incremental", oracle=DEDUP_INCREMENTAL_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit new docs unless they near-dup the corpus or an earlier new doc.

    The truly incremental plan: corpus shingles become posting lists once
    (at scale: a MAINTAINED inverted-index table, not recomputed per
    batch), hot shingles above SHINGLE_DF_CAP are dropped exactly as in
    ``dedup_ngram_jaccard``, and only BATCH shingles probe them — cross
    candidates are O(batch x df), never corpus x corpus. Batch-internal
    pairs reuse ``jaccard_pairs`` on the (small) batch alone. The oracle is
    the global pair query restricted to rejected batch docs — identical
    result because every cross pair has its batch doc on the doc_b side
    (doc_a < doc_b and corpus ids precede batch ids).
    """
    docs = load_table(spark, sf_dir, "documents")
    sets = shingle_sets(docs).withColumn("sz", F.size("shs"))
    corpus = sets.where(F.col("doc_id") < INCR_SPLIT)
    batch = sets.where(F.col("doc_id") >= INCR_SPLIT)

    corpus_post = (
        corpus.select("doc_id", "sz", F.explode("shs").alias("shingle"))
        .withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .where(F.col("df") <= SHINGLE_DF_CAP)
    )
    batch_sh = batch.select(
        F.col("doc_id").alias("b_id"),
        F.col("sz").alias("b_sz"),
        F.explode("shs").alias("shingle"),
    )
    cross = (
        batch_sh.join(corpus_post, "shingle")
        .groupBy("b_id", "b_sz", "doc_id", "sz")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(
            F.col("shared")
            / (F.col("b_sz") + F.col("sz") - F.col("shared"))
            >= JACCARD_THRESHOLD
        )
        .select(F.col("b_id").alias("rej_id"))
    )
    in_batch = jaccard_pairs(batch.select("doc_id", "shs")).select(
        F.col("doc_b").alias("rej_id")
    )
    rejects = cross.union(in_batch).distinct()
    return (
        docs.where(F.col("doc_id") >= INCR_SPLIT)
        # rejects ⊆ the incoming batch's ids — batch-bounded by the
        # incremental contract, so the broadcast stays driver-safe at
        # any corpus size (unlike pipeline_training_data's corpus-scaled
        # drop list, which must shuffle)
        .join(broadcast(rejects), docs.doc_id == rejects.rej_id, "left_anti")
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# PII masking — the redaction pass a corpus runs before text reaches a
# trainer: pseudonymize identifiers (keyed hash, joinable but not
# reversible), redact digit runs, and generalize quasi-identifiers
# (k-anonymity-style value bucketing). Map-only — no shuffle, no Python:
# sha2 / regexp_replace / floor are all codegen'd, so at 100 TB this runs
# at scan speed alongside any other map-only curation stage.
# ---------------------------------------------------------------------------

ACCTBAL_BUCKET = 500


@query(
    "pii_mask",
    oracle=f"""
SELECT c_custkey,
       substr(sha256(c_name), 1, 12) AS name_pseudonym,
       regexp_replace(c_name, '[0-9]', '#', 'g') AS name_redacted,
       floor(c_acctbal / {ACCTBAL_BUCKET}) * {ACCTBAL_BUCKET} AS acctbal_bucket,
       c_mktsegment
FROM customer
""",
)
def pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudonymize, redact, and generalize customer PII in one map pass.

    - ``name_pseudonym``: sha256 prefix — stable join key across tables
      without exposing the raw identifier (both engines emit lowercase hex);
    - ``name_redacted``: every digit replaced (Spark's regexp_replace is
      global by default; DuckDB needs the explicit 'g' flag);
    - ``acctbal_bucket``: value generalized to a fixed-width band so the
      column survives as an analytics feature with reduced identifiability.
    """
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.substring(F.sha2("c_name", 256), 1, 12).alias("name_pseudonym"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("name_redacted"),
        (F.floor(F.col("c_acctbal") / ACCTBAL_BUCKET) * ACCTBAL_BUCKET)
        .cast("double")
        .alias("acctbal_bucket"),
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# Feature assembly — the last hop before a trainer: join per-doc text
# statistics with the doc's embedding-derived features into one wide
# training-feature row. The fixture aligns embeddings.vec_id with
# documents.doc_id 1:1, which is exactly the production case (features
# keyed by example id). Equi-join on the id — co-partitionable, and with
# both tables bucketed on the key (operators/storage.py) it is
# shuffle-free.
# ---------------------------------------------------------------------------


@query(
    "feature_assembly",
    oracle="""
SELECT doc_id, lang, source, n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       label,
       floor((sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * x)))) * 10000 + 0.5) / 10000
           AS emb_l2
FROM documents JOIN embeddings ON doc_id = vec_id
""",
)
def feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One wide feature row per example: text stats ⋈ embedding stats.

    The L2 norm uses the same float64-promoted aggregate as
    ``arrow_embedding_norm`` but stays entirely JVM-side (HOF aggregate) —
    no Python worker in this plan at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        docs.join(emb, docs["doc_id"] == emb["vec_id"])
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            "label",
            hround(l2, 4).alias("emb_l2"),
        )
    )


# ---------------------------------------------------------------------------
# Data profiling — the audit every ingestion pipeline runs before anything
# else touches a new drop: per-column null counts and distinct
# cardinalities. ONE scan: all 2N aggregates share a single aggregate node
# (Catalyst plans one Expand for the distincts), then the 1-row result is
# exploded into a row per column — profiling cost does not multiply with
# column count. At 100 TB swap count_distinct for approx_count_distinct
# (or the HLL sketches in agg_hll_merge) — exact distincts are the only
# non-mergeable piece here.
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)


@query(
    "table_profile",
    oracle=" UNION ALL ".join(
        f"""
SELECT '{c}' AS col_name,
       count(*) AS n_rows,
       count(*) FILTER (WHERE {c} IS NULL) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/distinct profile of the orders table, one row per column."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
    one = o.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select(
        "p.col_name", "p.n_rows", "p.n_nulls", "p.n_distinct"
    )


# ---------------------------------------------------------------------------
# Feature bucketization — equal-frequency (decile) quantization, the
# standard preprocessing for tree models and feature hashing. Production
# shape: per-group cutoffs come from ONE aggregate (t-digest sketch at
# scale, exact percentiles here for the oracle), broadcast back on the
# group key, and assignment is a map-side array comparison — the fact
# table is scanned twice, never shuffled by value. Cutoffs are rounded to
# 6 dp on BOTH engines before comparing so interpolation ulp noise cannot
# flip a bucket at an exact-tie boundary.
# ---------------------------------------------------------------------------

_DECILES = [i / 10 for i in range(1, 10)]


@query(
    "feature_bucketize",
    oracle=f"""
WITH cuts AS (
    SELECT o_orderpriority,
           list_transform(quantile_cont(o_totalprice,
               [{", ".join(str(q) for q in _DECILES)}]),
               c -> floor(c * 1000000 + 0.5) / 1000000) AS cs
    FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       1 + len(list_filter(cs, c -> o_totalprice > c)) AS bucket,
       count(*) AS n_orders,
       floor((avg(o_totalprice)) * 100 + 0.5) / 100 AS avg_price
FROM orders o JOIN cuts USING (o_orderpriority)
GROUP BY 1, 2
""",
)
def feature_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority decile buckets of order value, with per-bucket stats."""
    o = load_table(spark, sf_dir, "orders")
    qs = ", ".join(str(q) for q in _DECILES)
    cuts = o.groupBy("o_orderpriority").agg(
        F.expr(
            f"transform(percentile(o_totalprice, array({qs})), "
            "c -> floor(c * 1000000 + 0.5) / 1000000)"
        ).alias("cs")
    )
    bucket = 1 + F.size(
        F.filter("cs", lambda c: F.col("o_totalprice") > c)
    ).cast("long")
    return (
        o.join(broadcast(cuts), "o_orderpriority")
        .select("o_orderpriority", bucket.alias("bucket"), "o_totalprice")
        .groupBy("o_orderpriority", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            hround(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus statistics that gate admission (lineage: the published CCNet / C4 /
# Gopher data pipelines). Engine-parity design notes shared by the LM score,
# chunk dedup, mixing and sharding keys below:
# - word probabilities are quantized to integer MICRO-nats per word
#   (floor(-ln(p)·1e6 + 0.5)) BEFORE summation, so document scores are sums
#   of exact integers — order-insensitive across engines, same pattern as
#   the integer-cents money sums (sql_tpch_q11, stream_topk_complete);
# - first-occurrence ownership uses min(doc_id·1e6 + chunk_id) — an exact
#   BIGINT min, not a min-by over floats;
# - sampling/sharding reuse the pinned Knuth multiplicative hash
#   (text_analysis._KNUTH/_MOD) that sample_split/sample_stratified already
#   share with their oracles.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Unigram LM quality scoring
#
# CCNet-style: train the LM on the corpus in one aggregate pass, score every
# document by its mean per-word negative log-likelihood. Degenerate/boilerplate
# docs score low (all high-frequency words), gibberish scores high.
# ---------------------------------------------------------------------------

LM_QUANT = 1_000_000  # micro-nats per word: integer, order-insensitive sums

QUALITY_LM_ORACLE = f"""
WITH words AS (
    SELECT doc_id, lang, unnest({SQL_TOKENS}) AS word FROM documents
),
wc AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM wc),
vocab AS (
    SELECT word,
           CAST(floor(ln(tot.n / cnt) * {LM_QUANT} + 0.5) AS BIGINT)
               AS nll_micro
    FROM wc CROSS JOIN tot
),
per_doc AS (
    SELECT w.doc_id, w.lang,
           CAST(floor(CAST(sum(v.nll_micro) AS DOUBLE) / count(*)) AS BIGINT)
               AS doc_nll_micro
    FROM words w JOIN vocab v USING (word)
    GROUP BY w.doc_id, w.lang
)
SELECT lang,
       count(*) AS n_docs,
       {sql_hround(f"CAST(sum(doc_nll_micro) AS DOUBLE) / count(*) / {LM_QUANT}", 4)}
           AS avg_word_nll,
       CAST(max(doc_nll_micro) AS BIGINT) AS max_doc_nll_micro,
       CAST(min(doc_nll_micro) AS BIGINT) AS min_doc_nll_micro
FROM per_doc
GROUP BY lang
"""


@query("quality_lm_score", oracle=QUALITY_LM_ORACLE)
def quality_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language unigram-LM negative-log-likelihood statistics.

    The LM is the corpus itself (one wordcount pass; vocabulary-sized
    result, broadcast to the scorer). Per-word -ln p(w) is quantized to
    integer micro-nats BEFORE summing so per-document scores are exact
    integer sums — no float accumulation-order divergence between engines.
    Residual parity risk: ln() may differ by 1 ulp across libm
    implementations, which flips the micro-nat only if ln(total/cnt)·1e6
    lands within ~1e-10 of a .5 boundary — the same accepted boundary
    class as hround (pinned green at sf0.001/0.01/0.1).
    100 TB: vocab table is tiny (≤ a few M rows) → broadcast join; the
    scorer is one explode + one partial-agg shuffle on doc_id; per-lang
    rollup is a second |langs|-row aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(tokens_col("text")).alias("word")
    )
    # total word count derives from the vocabulary aggregate (sum of per-
    # word counts) — no third corpus scan just for the denominator
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    vocab = counts.crossJoin(broadcast(total)).select(
        "word",
        F.floor(
            F.log(F.col("total") / F.col("cnt")) * LM_QUANT + F.lit(0.5)
        )
        .cast("long")
        .alias("nll_micro"),
    )
    per_doc = (
        words.join(broadcast(vocab), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.floor(
                F.sum("nll_micro").cast("double") / F.count(F.lit(1))
            )
            .cast("long")
            .alias("doc_nll_micro")
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        hround(
            F.sum("doc_nll_micro").cast("double")
            / F.count(F.lit(1))
            / LM_QUANT,
            4,
        ).alias("avg_word_nll"),
        F.max("doc_nll_micro").alias("max_doc_nll_micro"),
        F.min("doc_nll_micro").alias("min_doc_nll_micro"),
    )


# ---------------------------------------------------------------------------
# Chunk-level (C4-style) dedup
#
# C4-style: every 3-token chunk is kept only at its first corpus occurrence;
# per-document retention stats.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 3  # fixture vocabulary is 31 words — 3-token chunks give a
#                   real (~19%) duplicate rate; production uses sentences

# chunk ownership = min(doc_id) per distinct chunk: an exact BIGINT min
# with no positional encoding (an earlier doc_id*1e6+chunk_id key silently
# overflowed for 3M-token documents); position within the owning doc is
# irrelevant for doc-level retention counts


def chunk_frame(toks: DataFrame) -> DataFrame:
    """(doc_id, toks) → (doc_id, chunk_id, chunk): fixed-size token chunks,
    the final chunk partial. explode(sequence)+slice — map-only, no UDF.

    Empty arrays yield ZERO rows (matching the oracle's range(0, 0)):
    Spark's sequence(0, -1) would step backwards and emit [0, -1], so the
    id list is guarded to an empty array, which explode drops."""
    n_chunks = F.ceil(F.size("toks") / F.lit(CHUNK_TOKENS)).cast("long")
    ids = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    ).otherwise(F.array().cast("array<long>"))
    return toks.select(
        "doc_id",
        F.explode(ids).alias("chunk_id"),
        "toks",
    ).select(
        "doc_id",
        "chunk_id",
        F.array_join(
            F.slice(
                "toks",
                (F.col("chunk_id") * CHUNK_TOKENS + 1).cast("int"),
                CHUNK_TOKENS,
            ),
            " ",
        ).alias("chunk"),
    )

DEDUP_CHUNKS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
    SELECT doc_id, toks,
           unnest(range(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT)))
               AS chunk_id
    FROM t
),
ch AS (
    SELECT doc_id, chunk_id,
           array_to_string(
               toks[(chunk_id*{CHUNK_TOKENS}+1):(chunk_id*{CHUNK_TOKENS}+{CHUNK_TOKENS})],
               ' ') AS chunk
    FROM c
),
owners AS (
    SELECT chunk, min(doc_id) AS doc_id FROM ch GROUP BY chunk
),
kept AS (
    SELECT doc_id, count(*) AS kept_chunks FROM owners GROUP BY doc_id
),
totals AS (
    SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id
)
SELECT t.doc_id,
       t.n_chunks,
       coalesce(k.kept_chunks, 0) AS kept_chunks,
       t.n_chunks - coalesce(k.kept_chunks, 0) AS dropped_chunks
FROM totals t LEFT JOIN kept k ON k.doc_id = t.doc_id
"""


@query("dedup_chunks", oracle=DEDUP_CHUNKS_ORACLE)
def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style chunk dedup: each distinct 3-token chunk survives only in
    its first owning document (lowest doc_id); returns per-document
    total/kept/dropped chunk counts.

    Scale shape — deliberately NOT a row_number window over chunk text: a
    boilerplate chunk repeated billions of times would send every copy to
    one reducer. Instead ownership is min(doc_id) under groupBy(chunk) —
    an algebraic aggregate with map-side combine, so the hot chunk
    collapses to one partial per task. Kept counts then come from the
    DISTINCT-chunk owner table (one row per chunk), never by joining the
    raw copies back.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("toks"))
    chunks = chunk_frame(toks)
    owners = chunks.groupBy("chunk").agg(F.min("doc_id").alias("doc_id"))
    kept = owners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_chunks")
    )
    totals = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks")
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("kept_chunks", F.lit(0)).alias("kept_chunks"),
        (F.col("n_chunks") - F.coalesce("kept_chunks", F.lit(0))).alias(
            "dropped_chunks"
        ),
    )


# ---------------------------------------------------------------------------
# Source mixing
#
# Data mixing: equalize the per-source document mixture to the smallest source
# via deterministic hash-threshold acceptance (no RNG state, append-stable,
# map-only after one tiny agg).
# ---------------------------------------------------------------------------

MIX_ORACLE = f"""
WITH counts AS (
    SELECT source, count(*) AS n_total FROM documents GROUP BY source
),
m AS (SELECT min(n_total) AS m FROM counts),
marked AS (
    SELECT d.source, c.n_total,
           CASE WHEN (d.doc_id * {_KNUTH}) % {_MOD}
                     < CAST(floor(CAST(m.m AS DOUBLE) / c.n_total * {_MOD})
                            AS BIGINT)
                THEN 1 ELSE 0 END AS kept
    FROM documents d
    JOIN counts c USING (source)
    CROSS JOIN m
)
SELECT source,
       CAST(max(n_total) AS BIGINT) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       {sql_hround("CAST(sum(kept) AS DOUBLE) / max(n_total)", 4)} AS kept_frac
FROM marked
GROUP BY source
"""


@query("mix_sources_uniform", oracle=MIX_ORACLE)
def mix_sources_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalize the source mixture to the smallest source's volume via
    deterministic hash-threshold acceptance (keep iff
    knuth(doc_id) < (min_count/count_source)·2³²).

    This is the data-mixing primitive: given target weights (here uniform),
    admission is a pure function of (document key, acceptance fraction) —
    no RNG state, no stored sample. Because the rule is a fixed-hash
    threshold, samples are NESTED: lowering a source's fraction (as the
    corpus grows around it) always keeps a subset of the previous sample,
    never an arbitrary reshuffle — the property that keeps incremental
    pipeline reruns from churning membership. 100 TB: the
    per-source count table is tiny → broadcast; admission is map-only; the
    audit is one partial-agg shuffle on source. (Exact-count mixing would
    need a per-source rank — a windowed shuffle; the hash threshold is the
    scale-correct approximation, ±O(√n) per source.)
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    m = counts.agg(F.min("n_total").alias("m"))
    marked = (
        docs.join(broadcast(counts), "source")
        .crossJoin(broadcast(m))
        .select(
            "source",
            "n_total",
            F.when(
                F.pmod(F.col("doc_id") * _KNUTH, F.lit(_MOD))
                < F.floor(
                    F.col("m").cast("double") / F.col("n_total") * _MOD
                ).cast("long"),
                1,
            )
            .otherwise(0)
            .alias("kept"),
        )
    )
    return marked.groupBy("source").agg(
        F.max("n_total").alias("n_total"),
        F.sum("kept").alias("n_kept"),
        hround(
            F.sum("kept").cast("double") / F.max("n_total"), 4
        ).alias("kept_frac"),
    )


# ---------------------------------------------------------------------------
# Shard assignment
#
# Deterministic training-shard assignment (hash → shard) with per-shard balance
# stats; the write side of a shuffled-shard layout.
# ---------------------------------------------------------------------------

N_SHARDS = 16

SHARD_ORACLE = f"""
SELECT (d.doc_id * {_KNUTH}) % {_MOD} % {N_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(len({SQL_TOKENS})) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM documents d
GROUP BY 1
"""


@query("shard_assign", oracle=SHARD_ORACLE)
def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance audit.

    shard = knuth(doc_id) mod 16: the multiplicative hash decorrelates the
    shard from every natural ordering (crawl time, source, doc length), so
    shards are statistically interchangeable — the property a trainer's
    data loader needs. The audit (one partial-agg shuffle) verifies
    balance; the production write is
    ``df.repartition(N_SHARDS, shard).write`` — same single shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.pmod(F.pmod(F.col("doc_id") * _KNUTH, F.lit(_MOD)), F.lit(N_SHARDS))
            .alias("shard"),
            F.size(tokens_col("text")).cast("long").alias("n_toks"),
            "n_chars",
            "lang",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking — the RAG/pre-training segmentation primitive:
# fixed token windows with overlap (stride < window), so no boundary ever
# splits context that both neighbors need. Complements dedup_chunks'
# disjoint windows: same explode(sequence)+slice plan, overlapping starts.
# ---------------------------------------------------------------------------

CHUNK_WINDOW = 6  # tokens per chunk
CHUNK_STRIDE = 4  # tokens between chunk starts (overlap = 2)

CHUNK_SLIDING_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
),
c AS (
    SELECT doc_id, toks,
           unnest(range(0, CAST(ceil(greatest(len(toks) - {CHUNK_WINDOW}, 0)
                                     / {CHUNK_STRIDE}.0) AS BIGINT) + 1))
               AS chunk_id
    FROM t
    WHERE len(toks) > 0
)
SELECT doc_id,
       chunk_id,
       chunk_id * {CHUNK_STRIDE} AS start_tok,
       CAST(least({CHUNK_WINDOW},
                  len(toks) - chunk_id * {CHUNK_STRIDE}) AS BIGINT)
           AS chunk_tokens,
       array_to_string(
           toks[(chunk_id*{CHUNK_STRIDE}+1):(chunk_id*{CHUNK_STRIDE}+{CHUNK_WINDOW})],
           ' ') AS chunk
FROM c
"""


@query("chunk_sliding", oracle=CHUNK_SLIDING_ORACLE)
def chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunks (window=6 tokens, stride=4) per
    document, with start offset and actual chunk length — the segmentation
    every RAG indexer / fixed-context pre-training loader runs first.

    Chunk-start rule (pinned identically in the oracle): starts are
    0, 4, 8, … and the LAST start is the first one whose window reaches
    the end of the document — ceil(max(n−window, 0)/stride) + 1 starts
    total, so a doc shorter than one window yields exactly one (partial)
    chunk and nothing is emitted past the end.

    Scale shape: map-only — explode(sequence) + slice + array_join, no
    shuffle at all (the only wide op in a production run would be the
    sink's repartition). Overlap multiplies output bytes by
    window/stride, not compute; at 100 TB the operator streams through
    whole-stage codegen with zero Python."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("toks")).where(
        F.size("toks") > 0
    )
    return sliding_chunks(toks)


def sliding_chunks(toks: DataFrame) -> DataFrame:
    """(doc_id, toks) → overlapping (doc_id, chunk_id, start_tok,
    chunk_tokens, chunk) windows; the map-only core of ``chunk_sliding``,
    reusable over any tokenized frame (property-tested on arbitrary
    corpora in tests/test_properties.py)."""
    n_starts = (
        F.ceil(
            F.greatest(F.size("toks") - F.lit(CHUNK_WINDOW), F.lit(0))
            / F.lit(CHUNK_STRIDE)
        ).cast("long")
        + 1
    )
    start = (F.col("chunk_id") * CHUNK_STRIDE).cast("long")
    return (
        toks.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0).cast("long"), n_starts - 1)
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            start.alias("start_tok"),
            F.least(
                F.lit(CHUNK_WINDOW).cast("long"),
                F.size("toks").cast("long") - start,
            ).alias("chunk_tokens"),
            F.array_join(
                F.slice("toks", (start + 1).cast("int"), CHUNK_WINDOW), " "
            ).alias("chunk"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based source mixing — the multilingual/multi-source sampling
# rule (XLM-R / mT5: p_s ∝ n_s^alpha). mix_sources_uniform flattens the
# mixture completely; temperature alpha=0.5 flattens it HALFWAY, keeping
# sqrt(n_min/n_s)-scaled acceptance so big sources still dominate, just
# less. Same deterministic nested-sample hash threshold.
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.5

MIX_TEMP_ORACLE = f"""
WITH counts AS (
    SELECT source, count(*) AS n_total FROM documents GROUP BY source
),
m AS (SELECT min(n_total) AS m FROM counts),
marked AS (
    SELECT d.source, c.n_total,
           CASE WHEN (d.doc_id * {_KNUTH}) % {_MOD}
                     < CAST(floor(pow(CAST(m.m AS DOUBLE) / c.n_total,
                                      1.0 - {MIX_ALPHA}) * {_MOD})
                            AS BIGINT)
                THEN 1 ELSE 0 END AS kept
    FROM documents d
    JOIN counts c USING (source)
    CROSS JOIN m
)
SELECT source,
       CAST(max(n_total) AS BIGINT) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       {sql_hround("CAST(sum(kept) AS DOUBLE) / max(n_total)", 4)} AS kept_frac
FROM marked
GROUP BY source
"""


@query("mix_sources_temperature", oracle=MIX_TEMP_ORACLE)
def mix_sources_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture: keep
    iff knuth(doc_id) < (n_min/n_s)^(1-alpha)·2³², alpha=0.5 — the
    multinomial temperature-sampling rule of the published multilingual
    pipelines, made deterministic with the same nested hash threshold as
    ``mix_sources_uniform`` (alpha=0 reproduces it exactly; alpha=1 keeps
    everything).

    The acceptance rate is a double on both engines, but computed in ONE
    pinned shape — pow(min/n, 1−alpha) then floor(rate·2³²) to an integer
    threshold — so the hash compare is exact. Scale shape is unchanged
    from the uniform mixer: tiny broadcast count table, map-only
    admission, one partial-agg audit shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    m = counts.agg(F.min("n_total").alias("m"))
    rate = F.pow(
        F.col("m").cast("double") / F.col("n_total"), F.lit(1.0 - MIX_ALPHA)
    )
    marked = (
        docs.join(broadcast(counts), "source")
        .crossJoin(broadcast(m))
        .select(
            "source",
            "n_total",
            F.when(
                F.pmod(F.col("doc_id") * _KNUTH, F.lit(_MOD))
                < F.floor(rate * _MOD).cast("long"),
                1,
            )
            .otherwise(0)
            .alias("kept"),
        )
    )
    return marked.groupBy("source").agg(
        F.max("n_total").alias("n_total"),
        F.sum("kept").alias("n_kept"),
        hround(
            F.sum("kept").cast("double") / F.max("n_total"), 4
        ).alias("kept_frac"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage — tokenizer-sizing curve
#
# What fraction of the token stream the top-N vocabulary explains (tokenizer
# sizing). One wordcount shuffle + a TakeOrdered cut; the cumulative window
# runs over N rows, never the vocabulary.
# ---------------------------------------------------------------------------

_VOCAB_N = 20

VOCAB_ORACLE = f"""
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM wc),
top AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT {_VOCAB_N})
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank,
       word,
       cnt AS n_occurrences,
       CAST((CAST(sum(cnt) OVER (ORDER BY cnt DESC, word) AS HUGEINT)
            * 1000000)
           // t AS BIGINT) AS coverage_ppm
FROM top, tot
"""


@query("text_vocab_coverage", oracle=VOCAB_ORACLE)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N vocabulary with cumulative corpus coverage (integer ppm) —
    the tokenizer-sizing curve: how much of the token stream the N most
    frequent words explain.

    Scale shape: ONE wordcount hash-agg over the corpus (map-side
    combine), then the N-row head comes off a ``TakeOrderedAndProject``
    (orderBy+limit — no global sort materializes the full vocabulary);
    the cumulative-share window and the broadcast total-token join touch
    only those N rows. Coverage is integer ppm via BIGINT floor-division,
    so the curve hashes exactly cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = wc.agg(F.sum("cnt").cast("long").alias("t"))
    top = wc.orderBy(F.desc("cnt"), "word").limit(_VOCAB_N)
    w = (
        Window.orderBy(F.desc("cnt"), "word")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )  # N-row head only — never the full vocabulary
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "word"))
            .cast("long"),
        )
        .withColumn("cum", F.sum("cnt").over(w).cast("long"))
        .select(
            "rank",
            "word",
            F.col("cnt").alias("n_occurrences"),
            F.expr("(CAST(cum AS DECIMAL(38,0)) * 1000000) div t").alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicate substring spans — Lee et al. (2022) signal, gram-keyed
#
# Per-document fraction of token 8-grams that also appear in another document.
# Both heavy steps are gram-keyed hash aggregates/joins, never
# document×document.
# ---------------------------------------------------------------------------

_GRAM_K = 8

SUBSTR_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
    SELECT doc_id, array_to_string(t[i:i+{_GRAM_K - 1}], ' ') AS gram
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - {_GRAM_K - 1})) AS i
          FROM toks WHERE len(t) >= {_GRAM_K})
),
dup AS (
    SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (WHERE d.gram IS NOT NULL) AS BIGINT)
           AS n_dup_grams,
       CAST((CAST(count(*) FILTER (WHERE d.gram IS NOT NULL) AS HUGEINT)
           * 1000000) // count(*) AS BIGINT) AS dup_ppm
FROM g LEFT JOIN dup d ON g.gram = d.gram
GROUP BY g.doc_id
"""


@query("dedup_substring_ngrams", oracle=SUBSTR_ORACLE)
def dedup_substring_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact duplicate-substring fraction: the share of a
    document's token 8-grams that also occur in ANOTHER document — the
    deduplicate-training-data signal of Lee et al. (2022), at 8-gram
    rather than suffix-array grain.

    Scale shape: gram-keyed end to end, ONE explode, no join — grams
    collapse to (gram, doc) grain with a per-doc occurrence count, a
    gram-partitioned window counts distinct documents per gram (the rows
    ARE distinct docs at that grain), and one doc-keyed aggregate folds
    the ppm fraction; documents never pair with documents. This replaced
    a dup-gram left-join formulation (round 6) whose physical plan ran
    the gram explode TWICE (both join inputs) and depended on
    broadcasting the duplicate-gram set — fine at fixture scale, not at
    100 TB where that set is corpus-sized; the window form is ~35%
    faster locally and keeps the same three gram/doc-keyed exchanges at
    any scale. At 100 TB the gram strings would be ``xxhash64`` 8-byte
    keys (the dedup_exact compaction, dedup.py:37) and hot boilerplate
    grams are bounded by the same df-cap used in dedup_ngram_jaccard
    (dedup.py:70); both swaps leave this plan shape unchanged. Short
    documents (<8 tokens) are excluded on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= _GRAM_K
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_GRAM_K - 1}),"
                f" i -> array_join(slice(t, i, {_GRAM_K}), ' '))"
            )
        ).alias("gram"),
    )
    occ = grams.groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    nd = occ.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return (
        nd.groupBy("doc_id")
        .agg(
            F.sum("occ").cast("long").alias("n_grams"),
            F.coalesce(
                F.sum(F.when(F.col("nd") >= 2, F.col("occ"))), F.lit(0)
            )
            .cast("long")
            .alias("n_dup_grams"),
        )
        .withColumn(
            "dup_ppm", F.expr("(CAST(n_dup_grams AS DECIMAL(38,0)) * 1000000) div n_grams")
        )
    )


# ---------------------------------------------------------------------------
# Exact-k deterministic sample — TakeOrdered over a per-key hash
#
# Exactly-k uniform sample as TakeOrderedAndProject over a deterministic per-
# key hash — the RNG-free reservoir sample.
# ---------------------------------------------------------------------------

_RESERVOIR_K = 100

RESERVOIR_ORACLE = f"""
SELECT doc_id, source,
       (doc_id * {_KNUTH}) % {_MOD} AS h
FROM documents
ORDER BY h, doc_id
LIMIT {_RESERVOIR_K}
"""


@query("sample_reservoir", oracle=RESERVOIR_ORACLE)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform document sample: rank every key by the pinned
    Knuth multiplicative hash and keep the k smallest — the deterministic,
    RNG-free reservoir sample (the hash order is a fixed pseudo-random
    permutation of the key space; a different "seed" is a different
    multiplier).

    Scale shape: ``orderBy(h).limit(k)`` plans as TakeOrderedAndProject —
    each task keeps a k-row heap, the driver merges P·k rows; no shuffle
    of the corpus and no full sort anywhere (plan-pinned in
    tests/test_round4f.py). Complements sample_split (bucket assignment,
    no size guarantee) and sample_weighted (Bernoulli, expected-size
    only): this is the exact-size primitive, and it is STABLE — a
    document in the sample stays in the sample when new docs arrive
    unless bumped by a smaller hash, which is what makes hash-reservoirs
    diffable across corpus versions.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            F.pmod(F.col("doc_id") * _KNUTH, F.lit(_MOD)).alias("h"),
        )
        .orderBy("h", "doc_id")
        .limit(_RESERVOIR_K)
    )


# ---------------------------------------------------------------------------
# BPE-style merge training — count pairs globally, merge, repeat
# ---------------------------------------------------------------------------

BPE_MERGES = 4
BPE_JOIN = "·"  # merged-token separator; never appears in fixture words


@query("tokenizer_bpe_train")  # rows-only: iterative (K data-dependent passes)
def tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train K=4 BPE-style merges over the corpus with words as the base
    alphabet: each round counts all adjacent pairs, adopts the most
    frequent (ties broken lexicographically), rewrites every document
    with the merged symbol, and repeats — exactly the
    count→argmax→substitute loop a distributed BPE/wordpiece trainer
    runs, producing the learned merge table.

    Scale shape per round: pair counting is one explode + hash aggregate
    with map-side combine (pair-grain shuffle); the argmax is a 1-row
    TakeOrdered collect (dimension-sized driver state, the kmeans-
    centroid rule); substitution is a map-only ``aggregate`` fold per
    document implementing greedy left-to-right non-overlapping merges.
    K rounds = K corpus passes — which is why production trainers run
    this on a sample, documented here rather than hidden. Rows-only
    (the loop is data-dependent); the identical greedy algorithm in pure
    Python pins every merge and count in tests/test_round4h.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("toks")).persist()
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for step in range(1, BPE_MERGES + 1):
            pairs = toks.select(
                F.explode(
                    F.expr(
                        "zip_with(slice(toks, 1, greatest(size(toks)-1, 0)),"
                        " slice(toks, 2, greatest(size(toks)-1, 0)),"
                        " (x, y) -> struct(x AS x, y AS y))"
                    )
                ).alias("p")
            )
            top = (
                pairs.groupBy("p.x", "p.y")
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.desc("c"), "x", "y")
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] < 2:
                break
            x, y, c = top[0]["x"], top[0]["y"], int(top[0]["c"])
            merged = f"{x}{BPE_JOIN}{y}"
            merges.append((step, x, y, merged, c))
            # data-derived tokens enter the plan as bound literals
            # (F.lit), never interpolated into SQL text — an apostrophe
            # or backslash in a token must not break the expression
            def _merge_step(acc: Column, t: Column) -> Column:
                hit = (
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(x))
                    & (t == F.lit(y))
                )
                return F.when(
                    hit,
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(t)))

            nxt = toks.select(
                F.aggregate(
                    "toks",
                    F.array().cast("array<string>"),
                    _merge_step,
                ).alias("toks")
            ).persist()
            try:
                nxt.count()  # materialize before dropping the parent
            except BaseException:
                nxt.unpersist()  # failed mid-round: don't strand it
                raise
            toks.unpersist()
            toks = nxt
    finally:
        toks.unpersist()
    return spark.createDataFrame(
        merges or [(0, "", "", "", 0)],
        "step BIGINT, left STRING, right STRING, merged STRING, "
        "pair_count BIGINT",
    )
