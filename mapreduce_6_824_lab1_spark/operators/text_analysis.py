"""Text-analysis operators for training-data pipelines (SURVEY.md §2.C EXT).

Language-ID heuristic, quality scoring, token counting, fingerprinting,
n-grams, TF-IDF — each expressed with built-in columnar expressions
(regexp, higher-order list functions, windows), so every one of them is
oracle-checked against DuckDB. The one sanctioned Python path is
``text_char_entropy``'s Arrow-batched histogram kernel (the per-char
``replace()`` JVM formulation cost 27 allocating string scans per doc —
20× slower at 100× scale).

Scale: every query is scan → narrow per-row expressions → at most one hash
aggregation; the per-row lambdas run inside whole-stage codegen. TF-IDF's
document-frequency side is tiny (vocab-bounded) and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.functions.text import SQL_TOKENS, tokens_col, words_of
from mapreduce_6_824_lab1_spark.functions.numeric import hround
from mapreduce_6_824_lab1_spark.operators.dedup import (
    _SHINGLES_FROM_TOKS as _TRIGRAMS_FROM_TOKS,
    _SHINGLES_SQL as _TRIGRAMS_SQL,
)
from mapreduce_6_824_lab1_spark.registry import query

# ---------------------------------------------------------------------------
# Corpus statistics per language
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    oracle=f"""
WITH base AS (
    SELECT lang, count(*) AS n_docs,
           floor((avg(n_chars)) * 100 + 0.5) / 100 AS avg_chars,
           floor((avg(len({SQL_TOKENS}))) * 100 + 0.5) / 100 AS avg_words
    FROM documents GROUP BY lang
),
vocab AS (
    SELECT lang, count(DISTINCT word) AS vocab
    FROM (SELECT lang, unnest({SQL_TOKENS}) AS word FROM documents) t
    GROUP BY lang
)
SELECT base.lang, n_docs, avg_chars, avg_words, vocab
FROM base JOIN vocab ON base.lang = vocab.lang
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        hround(F.avg("n_chars"), 2).alias("avg_chars"),
        hround(F.avg(F.size(tokens_col())), 2).alias("avg_words"),
    )
    vocab = (
        words_of(docs, "lang")
        .groupBy("lang")
        .agg(F.countDistinct("word").alias("vocab"))
    )
    return base.join(vocab, "lang").select(
        "lang", "n_docs", "avg_chars", "avg_words", "vocab"
    )


# ---------------------------------------------------------------------------
# Top bigrams per language
# ---------------------------------------------------------------------------

NGRAM_TOP_K = 5

# zip_with over shifted slices — same construction (and same speed rationale)
# as the trigram shingles in operators/dedup.py.
_BIGRAMS_FROM_TOKS = (
    "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), "
    "slice(toks, 2, greatest(size(toks) - 1, 0)), "
    "(x, y) -> concat(x, ' ', y))"
)
_BIGRAMS_SQL = (
    "list_transform(range(0, len(string_split(text, ' ')) - 1), "
    "i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])"
)


@query(
    "text_ngrams",
    oracle=f"""
SELECT lang, bigram, cnt, rnk
FROM (
    SELECT lang, bigram, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rnk
    FROM (
        SELECT lang, bigram, count(*) AS cnt
        FROM (SELECT lang, unnest({_BIGRAMS_SQL}) AS bigram FROM documents) t
        GROUP BY lang, bigram
    ) c
) r
WHERE rnk <= {NGRAM_TOP_K}
""",
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per lang; ties broken by bigram text."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.split("text", " ").alias("toks"))
        .select("lang", F.explode(F.expr(_BIGRAMS_FROM_TOKS)).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= NGRAM_TOP_K)
        .select("lang", "bigram", "cnt", "rnk")
    )


# ---------------------------------------------------------------------------
# Token counting — whitespace tokens + alpha-run ("BPE-ish") tokens
# ---------------------------------------------------------------------------


@query(
    "text_tokens",
    oracle=f"""
SELECT doc_id,
       len({SQL_TOKENS}) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
       n_chars
FROM documents
""",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens_col()).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0))
        .cast("long")
        .alias("n_alpha_tokens"),
        "n_chars",
    )


# ---------------------------------------------------------------------------
# Quality scoring — length / stopword / word-length heuristics
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a")
_STOP_SQL = "('the', 'a')"


@query(
    "text_quality",
    oracle=f"""
SELECT doc_id, lang,
       n_words,
       floor((stop_ratio) * 10000 + 0.5) / 10000 AS stop_ratio,
       floor((avg_word_len) * 10000 + 0.5) / 10000 AS avg_word_len,
       floor((0.5 * least(n_words / 50.0, 1.0)
             + 0.3 * (1.0 - stop_ratio)
             + 0.2 * least(avg_word_len / 8.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
FROM (
    SELECT doc_id, lang,
           len({SQL_TOKENS}) AS n_words,
           len(list_filter({SQL_TOKENS}, x -> x IN {_STOP_SQL}))
               * 1.0 / len({SQL_TOKENS}) AS stop_ratio,
           (n_chars - (len({SQL_TOKENS}) - 1)) * 1.0 / len({SQL_TOKENS})
               AS avg_word_len
    FROM documents
) t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality score from length, stopword ratio, mean word length.

    avg_word_len uses the single-space invariant: total word chars =
    n_chars - (n_words - 1) separators.
    """
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once into a projected column (repeated tokens_col() would
    # re-split text per reference — the codegen CSE doesn't span lambdas)
    toked = docs.select(
        "doc_id", "lang", "n_chars", tokens_col().alias("toks")
    )
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
    quality = (
        0.5 * F.least(n_words / 50.0, F.lit(1.0))
        + 0.3 * (1.0 - stop_ratio)
        + 0.2 * F.least(avg_word_len / 8.0, F.lit(1.0))
    )
    return toked.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        hround(stop_ratio, 4).alias("stop_ratio"),
        hround(avg_word_len, 4).alias("avg_word_len"),
        hround(quality, 4).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic — character-class n-gram-free heuristic. The fixture
# corpus is synthetic word soup with a shared vocabulary, so a REAL char-ngram
# classifier has no signal; the operator demonstrates the shape (per-doc
# char-statistics → rule-based class) with a deterministic, oracle-able rule.
# ---------------------------------------------------------------------------


@query(
    "text_langid",
    oracle="""
SELECT doc_id, lang,
       floor((vowel_ratio) * 10000 + 0.5) / 10000 AS vowel_ratio,
       CASE WHEN vowel_ratio >= 0.40 THEN 'vowel_heavy'
            WHEN vowel_ratio >= 0.30 THEN 'balanced'
            ELSE 'consonant_heavy' END AS char_class
FROM (
    SELECT doc_id, lang,
           length(regexp_replace(text, '[^aeiou]', '', 'g')) * 1.0
               / length(replace(text, ' ', '')) AS vowel_ratio
    FROM documents
) t
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vowel_ratio = F.length(F.regexp_replace("text", "[^aeiou]", "")) / F.length(
        F.regexp_replace("text", " ", "")
    )
    return docs.select(
        "doc_id",
        "lang",
        hround(vowel_ratio, 4).alias("vowel_ratio"),
        F.when(vowel_ratio >= 0.40, "vowel_heavy")
        .when(vowel_ratio >= 0.30, "balanced")
        .otherwise("consonant_heavy")
        .alias("char_class"),
    )


# ---------------------------------------------------------------------------
# Document fingerprint — polynomial rolling hash over the token stream
# ---------------------------------------------------------------------------

FP_MOD = 1_000_000_007
FP_BASE = 31


@query(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform({SQL_TOKENS},
                   x -> CAST(ascii(substr(x, 1, 1)) * 100 + length(x) AS BIGINT))),
           (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}) AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling hash of the token stream (content drift
    detection: same bag-of-words, different order ⇒ different fingerprint).

    Word code = ascii(first char)·100 + length — cheap, engine-neutral, and
    the fold is bounded by FP_MOD so the BIGINT never overflows.
    """
    docs = load_table(spark, sf_dir, "documents")
    codes = F.transform(
        tokens_col(),
        lambda x: (F.ascii(F.substring(x, 1, 1)) * 100 + F.length(x)).cast("bigint"),
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * FP_BASE + x) % FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# TF-IDF — explicit formula (exact, oracle-able; MLlib HashingTF would not be)
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


@query(
    "text_tfidf",
    oracle=f"""
WITH tf AS (
    SELECT doc_id, word, count(*) AS tf
    FROM (SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM documents) t
    GROUP BY doc_id, word
),
df AS (SELECT word, count(DISTINCT doc_id) AS df FROM tf GROUP BY word),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
    SELECT tf.doc_id, tf.word, tf.tf,
           floor((tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0)) * 1000000 + 0.5) / 1000000 AS tfidf
    FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
)
SELECT doc_id, word, tf, tfidf, rnk
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, word) AS rnk
    FROM scored
) r
WHERE rnk <= {TFIDF_TOP_K}
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, smoothed idf = ln((1+N)/(1+df)) + 1.

    100 TB: df is vocab-bounded (tiny) and broadcast; N rides along as a
    broadcast 1-row aggregate — no collect, no driver-side constant.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        words_of(docs, "doc_id")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(broadcast(df), "word")
        .crossJoin(broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            hround(
                F.col("tf") * (F.log((1.0 + F.col("n")) / (1.0 + F.col("df"))) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "word", "tf", "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# Edit distance — fuzzy string matching scalar
# ---------------------------------------------------------------------------

EDIT_PROBE = "join filter scan"


@query(
    "text_edit_distance",
    oracle=f"""
SELECT doc_id,
       CAST(levenshtein(substr(text, 1, 20), '{EDIT_PROBE}') AS BIGINT)
           AS edit_dist
FROM documents
""",
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance of each doc's prefix to a probe phrase — the
    fuzzy-match scalar (both engines implement the same DP definition).
    100 TB note: O(len²) per row — bound the operand length (as here) or
    pre-filter candidates with n-gram overlap before exact distances."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.levenshtein(F.substring("text", 1, 20), F.lit(EDIT_PROBE))
        .cast("long")
        .alias("edit_dist"),
    )


# ---------------------------------------------------------------------------
# Deterministic dataset splitting — multiplicative-hash bucketing
# ---------------------------------------------------------------------------

# Knuth multiplicative hash: engine-neutral integer arithmetic, so the split
# is reproducible ANYWHERE (unlike rand(seed) or xxhash64, which are
# implementation-specific). Stable under re-runs and appends — a doc's split
# never changes, which is the property training pipelines actually need.
_KNUTH = 2654435761
_MOD = 4294967296  # 2^32
# Domain bound: key·_KNUTH must stay under 2⁶³ (Spark ANSI raises on long
# overflow — pinned in tests/test_properties.py), so keys must be < ~2³¹.
# Fixture keys are ≪ that; for 64-bit production IDs (snowflakes), fold the
# key first (pmod(key, 2³²)·_KNUTH) — same determinism, overflow-safe.


@query(
    "sample_split",
    oracle=f"""
SELECT CASE WHEN h < {int(0.90 * _MOD)} THEN 'train'
            WHEN h < {int(0.95 * _MOD)} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       floor((avg(n_chars)) * 100 + 0.5) / 100 AS avg_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM (SELECT doc_id, n_chars, (doc_id * {_KNUTH}) % {_MOD} AS h FROM documents) t
GROUP BY 1
""",
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test split via deterministic multiplicative hashing
    of the document key. Pure projection + one aggregate: at 100 TB the
    split is free (no shuffle to assign, no stored split table) and any
    job can recompute membership from the key alone."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.pmod(F.col("doc_id") * _KNUTH, F.lit(_MOD))
    split = (
        F.when(h < int(0.90 * _MOD), "train")
        .when(h < int(0.95 * _MOD), "val")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            hround(F.avg("n_chars"), 2).alias("avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition filtering — the Gopher/MassiveText "repetitious document"
# signal: the fraction of n-gram OCCURRENCES that are repeats of an n-gram
# already seen in the same document (1 - distinct/total). High values mean
# boilerplate / degenerate loops; pipelines drop docs above a threshold.
# Pure per-row array expressions — no explode, no shuffle at all before the
# final projection: at 100 TB this is a map-only scan, the cheapest
# possible filter shape.
# ---------------------------------------------------------------------------

REPETITION_MAX_DUP_TRIGRAM = 0.60


@query(
    "text_repetition",
    oracle=f"""
WITH g AS (
    SELECT doc_id, lang,
           {_BIGRAMS_SQL.replace("text", "text")} AS bg,
           {_TRIGRAMS_SQL} AS tg
    FROM documents
)
SELECT doc_id, lang,
       CAST(len(bg) AS BIGINT) AS n_bigrams,
       floor((CASE WHEN len(bg) = 0 THEN 0.0
              ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END) * 10000 + 0.5) / 10000
           AS dup_bigram_frac,
       floor((CASE WHEN len(tg) = 0 THEN 0.0
              ELSE 1.0 - len(list_distinct(tg)) * 1.0 / len(tg) END) * 10000 + 0.5) / 10000
           AS dup_trigram_frac,
       CASE WHEN len(tg) = 0 THEN true
            ELSE 1.0 - len(list_distinct(tg)) * 1.0 / len(tg)
                 <= {REPETITION_MAX_DUP_TRIGRAM} END AS keep
FROM g
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate-n-gram fractions + keep/drop flag (map-only)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.expr(_BIGRAMS_FROM_TOKS).alias("bg"),
        F.expr(_TRIGRAMS_FROM_TOKS).alias("tg"),
    )
    dup_frac = lambda c: F.when(F.size(c) == 0, F.lit(0.0)).otherwise(  # noqa: E731
        1.0 - F.size(F.array_distinct(c)) / F.size(c)
    )
    tg_frac = dup_frac("tg")
    return g.select(
        "doc_id",
        "lang",
        F.size("bg").cast("long").alias("n_bigrams"),
        hround(dup_frac("bg"), 4).alias("dup_bigram_frac"),
        hround(tg_frac, 4).alias("dup_trigram_frac"),
        (tg_frac <= REPETITION_MAX_DUP_TRIGRAM).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Character entropy — the classic cheap "is this text natural language"
# quality signal (gibberish and boilerplate sit at the entropy extremes).
# Computed WITHOUT exploding characters: a per-batch Arrow histogram
# kernel (one bincount per batch) — map-only, zero shuffle, against the
# alternatives' per-character explode (|chars| row blow-up + hash agg) or
# per-symbol length(replace()) scans (27 string copies per doc). The
# oracle keeps the per-symbol-count formulation, which IS the spec.
# ---------------------------------------------------------------------------

_ALPHABET = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [" "]


def _entropy_sql() -> str:
    terms = []
    for ch in _ALPHABET:
        lit = "' '" if ch == " " else f"'{ch}'"
        cnt = f"(len(text) - len(replace(text, {lit}, '')))"
        p = f"({cnt} * 1.0 / len(text))"
        terms.append(f"CASE WHEN {cnt} > 0 THEN -{p} * ln({p}) ELSE 0 END")
    return " + ".join(terms)


def _char_entropy_batches(batches):
    """Arrow-batched per-doc alphabet entropy, single pass: decode the
    batch to code points once, fold every char into a (doc × 128)
    histogram with ONE bincount (non-ASCII chars bucket to a sentinel
    column that only contributes to the length denominator), then
    vectorize -Σ p·ln p across the doc axis. All math in float64 so the
    ln/round parity with the DuckDB oracle carries over unchanged."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    codes = np.array([ord(c) for c in _ALPHABET], dtype=np.int64)
    for pdf in batches:
        # NULL text degrades to entropy 0.0 — the oracle's CASE terms all
        # evaluate NULL>0 = false on a NULL doc, summing to 0; astype(str)
        # alone would score the literal string 'None' instead
        texts = pdf["text"].fillna("").astype(str).tolist()
        n_docs = len(texts)
        lens = np.array([len(t) for t in texts], dtype=np.int64)
        arr = np.frombuffer(
            "".join(texts).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        seg = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        np.minimum(arr, 127, out=arr)  # non-ASCII -> sentinel column 127
        counts = np.bincount(
            seg * 128 + arr, minlength=n_docs * 128
        ).reshape(n_docs, 128)[:, codes]
        n = lens.astype(np.float64)[:, None]
        cnt = counts.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            p = cnt / np.maximum(n, 1.0)
            ent = -np.where(cnt > 0, p * np.log(p), 0.0).sum(axis=1)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "char_entropy": np.floor(ent * 10000 + 0.5) / 10000,
            }
        )


@query(
    "text_char_entropy",
    oracle=f"""
SELECT doc_id, lang,
       floor(({_entropy_sql()}) * 10000 + 0.5) / 10000 AS char_entropy
FROM documents
""",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the character distribution (nats).

    Arrow-batched numpy (the sanctioned Python lane, same pattern as
    embedding_gram_matrix): the previous JVM formulation ran one
    allocating ``replace()`` scan of the text PER alphabet character —
    27 string copies per doc, ~300 µs/doc, the most expensive map-only
    operator in the wave-4 sweep (48.6 s at sf10). The batch kernel
    decodes the batch to code points once and does one vectorized
    compare+cumsum per char; still map-only, no shuffle, linear — just
    without the 27 string copies. Rounding (floor·1e4) matches the
    oracle's expression exactly; libm ln on both sides.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", "text").mapInPandas(
        _char_entropy_batches,
        "doc_id long, lang string, char_entropy double",
    )


# ---------------------------------------------------------------------------
# PMI collocations — pointwise mutual information over corpus bigrams, the
# classic collocation detector (Church & Hanks 1990) and the statistic
# behind phrase-merge steps in tokenizer/embedding pipelines (word2vec's
# phrase pass). PMI(a,b) = ln( P(ab) / (P(a)·P(b)) ); positive = the pair
# co-occurs more than independence predicts.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5  # discard rare bigrams: PMI is noise-dominated at low n
PMI_TOP_K = 20
PMI_QUANT = 1_000_000  # micro-nats, same integer-quantization pattern as
#                        quality_lm_score: scores become exact integers

PMI_ORACLE = f"""
WITH toks AS (
    SELECT unnest({SQL_TOKENS}) AS w FROM documents
),
uni AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM uni),
big AS (
    SELECT bigram, count(*) AS cnt
    FROM (SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM documents) b
    GROUP BY bigram
    HAVING count(*) >= {PMI_MIN_COUNT}
),
btot AS (
    SELECT CAST(sum(cnt) AS DOUBLE) AS bt
    FROM (
        SELECT bigram, count(*) AS cnt
        FROM (SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM documents) b2
        GROUP BY bigram
    ) allb
),
scored AS (
    SELECT bigram, cnt,
           CAST(floor(ln(
               ((CAST(cnt AS DOUBLE) * tot.t) * tot.t)
               / ((btot.bt * ua.n) * ub.n)
           ) * {PMI_QUANT} + 0.5) AS BIGINT) AS pmi_micro
    FROM big
    JOIN uni ua ON ua.w = string_split(bigram, ' ')[1]
    JOIN uni ub ON ub.w = string_split(bigram, ' ')[2]
    CROSS JOIN tot CROSS JOIN btot
)
SELECT bigram, cnt, pmi_micro, rnk
FROM (
    SELECT *, row_number() OVER (ORDER BY pmi_micro DESC, bigram) AS rnk
    FROM scored
)
WHERE rnk <= {PMI_TOP_K}
"""


@query("text_collocations_pmi", oracle=PMI_ORACLE)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus collocations by PMI (bigrams seen ≥5×), scored in
    integer micro-nats.

    Engine parity: the PMI ratio is evaluated in ONE pinned IEEE shape on
    both engines — ((cnt·T)·T) / ((B·n_a)·n_b), every operand cast to
    double first, then ln, then the micro-nat floor-quantization — so the
    scores are exact integers and the final ranking window is
    deterministic (tie-break on bigram text).

    Scale shape: unigram and bigram counts are one partial-agg shuffle
    each over the token stream; the unigram table is vocab-bounded (tiny)
    and BROADCAST twice into the bigram table (word1/word2 lookups); T
    and B ride along as broadcast 1-row aggregates — no collect, no
    driver-side constants, and the global top-k is a TakeOrdered over the
    vocab²-bounded scored set. At 100 TB nothing here touches raw rows
    after the two count shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(tokens_col().alias("toks"))
    uni = (
        toked.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = uni.agg(F.sum("n").cast("double").alias("t"))
    allb = (
        toked.select(F.explode(F.expr(_BIGRAMS_FROM_TOKS)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    btot = allb.agg(F.sum("cnt").cast("double").alias("bt"))
    big = allb.filter(F.col("cnt") >= PMI_MIN_COUNT)
    ua = uni.select(F.col("w").alias("wa"), F.col("n").alias("na"))
    ub = uni.select(F.col("w").alias("wb"), F.col("n").alias("nb"))
    scored = (
        big.withColumn("parts", F.split("bigram", " "))
        .join(
            F.broadcast(ua), F.element_at("parts", 1) == F.col("wa")
        )
        .join(
            F.broadcast(ub), F.element_at("parts", 2) == F.col("wb")
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "bigram",
            "cnt",
            F.floor(
                F.log(
                    ((F.col("cnt").cast("double") * F.col("t")) * F.col("t"))
                    / ((F.col("bt") * F.col("na")) * F.col("nb"))
                )
                * PMI_QUANT
                + F.lit(0.5)
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    w = Window.orderBy(F.desc("pmi_micro"), F.asc("bigram"))
    return (
        scored.orderBy(F.desc("pmi_micro"), F.asc("bigram"))
        .limit(PMI_TOP_K)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("bigram", "cnt", "pmi_micro", "rnk")
    )


# ---------------------------------------------------------------------------
# BM25 query ranking — the IR scorer TF-IDF feeds
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20
BM25_QUERY = ("column", "window", "customer")

_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in BM25_QUERY)

BM25_ORACLE = f"""
WITH q(term) AS (VALUES {_BM25_TERMS_SQL}),
w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents),
tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       FROM w JOIN q ON w.word = q.term GROUP BY 1, 2),
df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                     AS total_len
          FROM documents),
dlen AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
                    AS dl
         FROM documents),
scored AS (
    SELECT tf.doc_id,
           sum(
             ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * ({BM25_K1} + 1.0))
             / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * dlen.dl
                  / (CAST(stats.total_len AS DOUBLE) / stats.n)))
           ) AS s
    FROM tf JOIN df USING (word)
         JOIN dlen USING (doc_id)
         CROSS JOIN stats
    GROUP BY tf.doc_id
)
SELECT doc_id,
       floor(s * 1000000 + 0.5) / 1000000 AS score,
       CAST(row_number() OVER (ORDER BY floor(s * 1000000 + 0.5) DESC,
                               doc_id) AS BIGINT) AS rnk
FROM scored
ORDER BY rnk LIMIT {BM25_TOP}
"""


@query("text_bm25_ranking", oracle=BM25_ORACLE)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a fixed 3-term query — the IR
    scorer built on the same tf/df/length statistics as text_tfidf, with
    Robertson idf and tf saturation (k1=1.2, b=0.75).

    Scale shape: the posting scan filters to QUERY terms before any
    aggregation (a 3-term IN pushed into the explode), so tf is
    |query|·|matching docs| rows, never the full posting table; df and
    the corpus stats are broadcast 1-row/3-row aggregates, and the head
    is a TakeOrdered cut. Scores follow the text_tfidf float discipline:
    one pinned-shape IEEE expression per term (ln agrees across engines
    at these arguments), micro-quantized before ranking so ties and
    hashes are exact; per-doc term order cannot matter because the
    term-sum runs over ≤3 values whose quantized total is pinned by the
    6-decimal floor.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = words_of(docs, "doc_id").filter(F.col("word").isin(list(BM25_QUERY)))
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_len"),
    )
    dlen = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0
        - BM25_B
        + BM25_B
        * F.col("dl")
        / (F.col("total_len").cast("double") / F.col("n"))
    )
    contrib = idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom
    scored = (
        tf.join(broadcast(df), "word")
        .join(dlen, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("s"))
    )
    ranked = scored.select(
        "doc_id",
        (F.floor(F.col("s") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "score"
        ),
        F.floor(F.col("s") * 1000000 + F.lit(0.5)).alias("smicro"),
    )
    win = Window.orderBy(F.desc("smicro"), "doc_id")
    return (
        ranked.orderBy(F.desc("smicro"), "doc_id")
        .limit(BM25_TOP)
        .withColumn("rnk", F.row_number().over(win).cast("long"))
        .select("doc_id", "score", "rnk")
    )
