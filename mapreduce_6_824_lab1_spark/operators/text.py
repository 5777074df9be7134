"""Canonical MapReduce applications (SURVEY.md §2.B) as DataFrame programs.

These are the queries the reference engine exists to run: ``wc`` and
``indexer`` ship with MIT 6.824 Lab 1 (public spec, ``src/mrapps/wc.go`` /
``indexer.go`` — not in the local stub checkout, /root/reference/README.md:1-2),
and the rest are the MapReduce paper's §2.3 worked examples (Dean & Ghemawat,
OSDI 2004): distributed grep, URL access frequency, reverse web-link graph,
term vector per host, distributed sort.

Scale notes (100 TB): every query here is scan → narrow map (split/explode)
→ ONE hash-shuffle aggregation with automatic partial (map-side) aggregation,
exactly the paper's combiner optimization — Catalyst inserts it for free.
Skewed words (stopwords) are handled by partial agg collapsing each map
partition's duplicates before the shuffle, plus AQE skew handling. No Python
in any hot path; everything is whole-stage-codegen'd JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.functions.text import SQL_TOKENS, words_of
from mapreduce_6_824_lab1_spark.functions.numeric import hround
from mapreduce_6_824_lab1_spark.registry import query

# ---------------------------------------------------------------------------
# B1 wordcount — the lab's hello world (mrapps/wc.go): map emits (word, "1"),
# reduce emits count. Spark: explode + groupBy.count — scan → flatMap →
# shuffle → agg is the entire MapReduce skeleton in one declarative plan.
# ---------------------------------------------------------------------------

WORDCOUNT_ORACLE = f"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest({SQL_TOKENS}) AS word FROM documents) t
GROUP BY word
"""


@query("wordcount", oracle=WORDCOUNT_ORACLE)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        words_of(docs)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# B2 inverted_index — mrapps/indexer.go: map emits (word, doc), reduce emits
# "N doc1,doc2,...". We keep N and the sorted doc list as separate columns.
# ---------------------------------------------------------------------------


@query(
    "inverted_index",
    oracle=f"""
SELECT word,
       count(DISTINCT doc_id) AS n_docs,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS doc_list
FROM (SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM documents) t
GROUP BY word
""",
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # n_docs is derived from the collected set rather than countDistinct:
    # a distinct aggregate alongside collect_set forces Catalyst's
    # distinct-rewrite (Expand) plan — measured ~4× slower at sf0.1.
    return (
        words_of(docs, "doc_id")
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .select(
            "word",
            F.size("docs").cast("long").alias("n_docs"),
            # numeric sort THEN stringify — lexicographic sort of "10" vs "2"
            # would diverge from the oracle's numeric list_sort.
            F.concat_ws(
                ",", F.transform("docs", lambda x: x.cast("string"))
            ).alias("doc_list"),
        )
    )


# ---------------------------------------------------------------------------
# B3 distributed_grep — MR paper §2.3: map emits matching lines, reduce = id.
# Catalyst pushes the rlike filter into the scan's row-group pruning path and
# prunes unread columns — grep at 100 TB is a pure embarrassingly-parallel scan.
# ---------------------------------------------------------------------------

GREP_PATTERN = "join .* filter .* scan"


@query(
    "distributed_grep",
    oracle=f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE regexp_matches(text, '{GREP_PATTERN}')
""",
)
def distributed_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike(GREP_PATTERN)).select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# B4 url_frequency analogue — MR paper §2.3 "Count of URL Access Frequency":
# map emits (URL, 1), reduce sums. events.event_type plays the URL.
# ---------------------------------------------------------------------------


@query(
    "event_type_frequency",
    oracle="""
SELECT event_type, count(*) AS cnt, floor((sum(value)) * 100 + 0.5) / 100 AS total_value
FROM events
GROUP BY event_type
""",
)
def event_type_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        hround(F.sum("value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# B5 reverse_index — MR paper §2.3 "Reverse Web-Link Graph": map emits
# (target, source), reduce concatenates sources. source → its documents.
# ---------------------------------------------------------------------------


@query(
    "reverse_index",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_list
FROM documents
GROUP BY source
""",
)
def reverse_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
        ).alias("doc_list"),
    )


# ---------------------------------------------------------------------------
# B6 term_vector — MR paper §2.3 "Term-Vector per Host": top terms per group
# (lang plays the host). Two-level agg + ranking window; ties broken by word
# so the top-k set is deterministic (SURVEY.md §3.3).
# ---------------------------------------------------------------------------

TERM_VECTOR_K = 5


@query(
    "term_vector",
    oracle=f"""
SELECT lang, word, cnt, rnk
FROM (
    SELECT lang, word, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rnk
    FROM (
        SELECT lang, word, count(*) AS cnt
        FROM (SELECT lang, unnest({SQL_TOKENS}) AS word FROM documents) t
        GROUP BY lang, word
    ) c
) r
WHERE rnk <= {TERM_VECTOR_K}
""",
)
def term_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = words_of(docs, "lang").groupBy("lang", "word").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TERM_VECTOR_K)
        .select("lang", "word", "cnt", "rnk")
    )


# ---------------------------------------------------------------------------
# B7 distributed_sort — MR paper §2.3 / TeraSort lineage. Spark's orderBy
# range-partitions by sampled split points then sorts within partitions —
# the exact TeraSort architecture, at any scale. The driver's value hash is
# order-insensitive, so we materialize the global rank to make the total
# order observable (unique tie-break keys ⇒ deterministic ranks).
# The rank itself is computed the scale-correct way: range partition, local
# row_number per partition, plus broadcast per-partition offsets — a global
# single-partition window would serialize the whole table through one task.
# ---------------------------------------------------------------------------

SORT_KEYS = ("l_shipdate", "l_orderkey", "l_linenumber")


@query(
    "distributed_sort",
    oracle="""
SELECT row_number() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn,
       l_orderkey, l_linenumber,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day
FROM lineitem
""",
)
def distributed_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    keys = [F.col(k) for k in SORT_KEYS]
    # Ordered bucketing on a deterministic key prefix (ship month): bucket
    # order == key order, so global rank = bucket offset + local rank.
    # Deterministic buckets (unlike spark_partition_id) keep the plan
    # reusable and the bucket-count side is a narrow one-column scan with
    # map-side partial agg — no second shuffle of the data. At 100 TB the
    # bucket key would be a finer time grain (day/hour) to bound bucket
    # size; skewed buckets split further by AQE.
    bucket = (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("bucket")
    bucketed = li.withColumn("bucket", bucket)
    w_local = Window.partitionBy("bucket").orderBy(*keys)
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("offset", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)))
        .select("bucket", "offset")
    )
    return (
        bucketed.withColumn("local_rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "bucket")
        .select(
            (F.col("offset") + F.col("local_rn")).alias("rn"),
            "l_orderkey",
            "l_linenumber",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        )
    )
