"""Source/sink round-trips: every file format, reader mode and sink mode
the engine stages through scratch files (SURVEY.md §2.C scans table).

The reference's entire I/O surface is plain-text files in, plain-text files
out (``pg-*.txt`` → ``mr-out-*``; MIT 6.824 Lab 1 spec — the local checkout
is the 2-line stub). Spark's equivalents are the DataFrameReader/Writer
formats. Each key here WRITES a fixture table to a scratch directory, READS
it back and aggregates the re-read data; the oracle computes the same
aggregate from the original parquet — so a value mismatch pinpoints
encode/decode fidelity bugs, not just "file exists". The module holds:

- format round-trips: text, CSV, JSON, ORC and XML;
- parquet schema evolution (``mergeSchema``) and codec fidelity
  (gzip/snappy/zstd);
- PERMISSIVE bad-record quarantine for CSV and JSON landing zones;
- the ``binaryFile`` whole-file reader;
- the dynamic partition-overwrite sink.

Scale note: writers shard one file per task (the ``mr-X-Y`` pattern, handled
by Spark's output committer); the scratch dir is per-call so concurrent runs
never collide. Every result is detached before its scratch dir is removed.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_6_824_lab1_spark.catalog import detach, load_table
from mapreduce_6_824_lab1_spark.functions.numeric import sql_hround
from mapreduce_6_824_lab1_spark.registry import query

_DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

# The aggregate computed after every round-trip (and by the oracles on the
# pristine parquet): if any row/field is corrupted in flight, these diverge.
_DOC_AGG_ORACLE = f"""
SELECT lang,
       count(*) AS n_docs,
       -- DuckDB sum(BIGINT) is HUGEINT (reaches pandas as float64);
       -- cast back so the dtype matches Spark's int64
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       {sql_hround("sum(length(text))", 2)} AS total_text_len
FROM documents
GROUP BY lang
"""


def _doc_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.floor(F.sum(F.length("text")) * 100 + 0.5) / 100).alias(
            "total_text_len"
        ),
    )


def _doc_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    write_options: dict,
    read_options: dict,
    schema: str | None,
) -> DataFrame:
    """Write ``documents`` as ``fmt``, read it back (with ``schema`` when
    the format carries none) and return the detached ``_doc_agg``."""
    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_roundtrip_", ignore_cleanup_errors=True
    ) as path:
        docs.write.mode("overwrite").options(**write_options).format(
            fmt
        ).save(path)
        reader = spark.read.options(**read_options).format(fmt)
        if schema is not None:
            reader = reader.schema(schema)
        return detach(_doc_agg(reader.load(path)))


@query("source_roundtrip_csv", oracle=_DOC_AGG_ORACLE)
def source_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_roundtrip(
        spark, sf_dir, "csv", {"header": True}, {"header": True}, _DOC_SCHEMA
    )


@query("source_roundtrip_json", oracle=_DOC_AGG_ORACLE)
def source_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_roundtrip(spark, sf_dir, "json", {}, {}, _DOC_SCHEMA)


@query("source_roundtrip_orc", oracle=_DOC_AGG_ORACLE)
def source_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip — the other columnar container Spark ships a native
    vectorized reader for. Same fidelity contract as the CSV/JSON trips:
    the oracle aggregates the pristine parquet, so any encode/decode drift
    (type coercion, string encoding) fails the hash. ORC files carry their
    own schema, so the read-back needs no explicit one."""
    return _doc_roundtrip(spark, sf_dir, "orc", {}, {}, None)


@query(
    "source_roundtrip_text",
    oracle=f"""
SELECT count(*) AS n_lines,
       CAST(sum(len(string_split(line, ' '))) AS BIGINT) AS n_words
FROM (SELECT text AS line FROM documents) t
""",
)
def source_roundtrip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal lab shape: text lines out, text lines back in, word count.

    ``spark.read.text`` is exactly the lab's map-task input model — one
    file split per task, one line per record.
    """
    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_roundtrip_", ignore_cleanup_errors=True
    ) as path:
        docs.select("text").write.mode("overwrite").text(path)
        back = spark.read.text(path)  # column: value
        out = back.agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.size(F.split("value", " "))).alias("n_words"),
        )
        return detach(out)


@query(
    "source_schema_evolution",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_missing_chars,
       CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS total_chars
FROM (
    SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT lang, NULL AS n_chars FROM documents WHERE doc_id % 2 = 1
) t
GROUP BY lang
""",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an old batch lacking a
    column, a new batch carrying it, read together with ``mergeSchema`` —
    the missing column surfaces as nulls. This is the append-only data-lake
    reality at 100 TB (schemas drift across years of writes); the oracle
    recomputes the same union relationally.
    """
    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_roundtrip_", ignore_cleanup_errors=True
    ) as path:
        new_batch = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", "n_chars"
        )
        old_batch = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang"
        )  # written before n_chars existed
        new_batch.write.parquet(f"{path}/batch_new")
        old_batch.write.parquet(f"{path}/batch_old")
        merged = spark.read.option("mergeSchema", True).parquet(
            f"{path}/batch_new", f"{path}/batch_old"
        )
        out = merged.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing_chars"),
            F.sum(F.coalesce("n_chars", F.lit(0))).alias("total_chars"),
        )
        return detach(out)


@query("source_roundtrip_xml", oracle=_DOC_AGG_ORACLE)
def source_roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip — Spark 4 ships the (formerly spark-xml) reader/
    writer built in. Same fidelity contract as the CSV/JSON trips: the
    oracle aggregates the pristine parquet, so any encode/decode drift
    (entity escaping, whitespace handling, type coercion from the string
    payload) fails the value hash, not just a row count. rowTag is
    explicit because the XML source has no default row element."""
    return _doc_roundtrip(
        spark,
        sf_dir,
        "xml",
        {"rootTag": "docs", "rowTag": "doc"},
        {"rowTag": "doc"},
        _DOC_SCHEMA,
    )


CORRUPT_ORACLE = """
SELECT lang AS category,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(sum(length(text)) AS BIGINT) AS total_text_len,
       CAST(sum(length(source)) AS BIGINT) AS total_src_len
FROM documents
GROUP BY lang
UNION ALL
SELECT '_corrupt' AS category, CAST(3 AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS total_chars, CAST(0 AS BIGINT) AS sum_doc_id,
       CAST(0 AS BIGINT) AS total_text_len, CAST(0 AS BIGINT) AS total_src_len
"""


def _quarantine_audit(
    spark: SparkSession, sf_dir: str, fmt: str, poison: list[str]
) -> DataFrame:
    """Write ``documents`` as ``fmt``, add ``poison`` as one more landing
    file, read the directory back in PERMISSIVE mode with a ``_bad``
    corrupt-record column and return the detached per-category audit."""
    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_roundtrip_", ignore_cleanup_errors=True
    ) as path:
        docs.write.mode("overwrite").format(fmt).save(path)
        with open(f"{path}/part-poison.{fmt}", "w", encoding="utf-8") as fh:
            fh.write("\n".join(poison) + "\n")
        back = (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .schema(f"{_DOC_SCHEMA}, _bad string")
            .format(fmt)
            .load(path)
        )
        good = F.col("_bad").isNull()

        def _gsum(col):
            return F.coalesce(F.sum(F.when(good, col)), F.lit(0)).cast(
                "long"
            )

        out = back.groupBy(
            F.when(~good, "_corrupt").otherwise(F.col("lang")).alias(
                "category"
            )
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            _gsum(F.col("n_chars")).alias("total_chars"),
            _gsum(F.col("doc_id")).alias("sum_doc_id"),
            _gsum(F.length("text")).alias("total_text_len"),
            _gsum(F.length("source")).alias("total_src_len"),
        )
        return detach(out)


@query("source_corrupt_records", oracle=CORRUPT_ORACLE)
def source_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record quarantine: parse a CSV landing zone containing malformed
    rows in PERMISSIVE mode and audit good rows per language plus one
    quarantine bucket — no row may be silently dropped OR silently coerced.

    The corpus is written clean, then three deterministic poison rows
    (unparseable numerics) are appended as their own landing file. The
    read declares ``columnNameOfCorruptRecord`` and the audit aggregates
    EVERY data column — load-bearing, not cosmetic: Spark's CSV parser
    prunes unreferenced columns, and a type failure in a column nobody
    reads sets no corrupt flag at all. An audit that only touched
    ``n_chars`` would count a row with a poisoned ``doc_id`` as good (this
    exact miss is what the full-column aggregate pins). Good-row sums must
    equal the pristine-parquet oracle exactly, proving corruption never
    leaks into parsed values. 100 TB: PERMISSIVE parsing is map-side; the
    quarantine bucket rides the same partial-agg shuffle as the audit.
    """
    return _quarantine_audit(
        spark,
        sf_dir,
        "csv",
        [
            "badid1,some text,en,web,12",
            "badid2,more text,de,web,nochars",
            "9.5,float id,fr,web,7",
        ],
    )


BINARYFILE_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(len(text) + 1) AS BIGINT) AS total_bytes
FROM documents
GROUP BY lang
"""


@query("source_binaryfile", oracle=BINARYFILE_ORACLE)
def source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source — Spark's whole-file reader (one row per file:
    path, length, raw bytes), the ingestion path for opaque media payloads
    (images/audio/archives) that feeds the multimodal mapInPandas
    operators (operators/multimodal.py).

    Fixture recipe: write documents as lang-partitioned text (any file
    split the committer picks), read the directory back as whole binary
    files, and audit PER LANG with file-split-insensitive aggregates —
    total payload bytes and newline count — against the pristine-parquet
    oracle (each written line is text+\\n, ASCII). Counting rows via byte
    content proves the binary path is byte-faithful, not just present.
    Scale note: binaryFile loads each file fully into one row — it is for
    many small/medium objects (the partition-parallel case), never for
    splittable big files; pathGlobFilter prunes at LISTING time, before
    any byte is read.
    """
    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_roundtrip_", ignore_cleanup_errors=True
    ) as path:
        docs.select("lang", "text").write.mode("overwrite").partitionBy(
            "lang"
        ).text(path)
        back = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.txt")
            .load(path)
        )
        body = F.decode(F.col("content"), "UTF-8")
        out = (
            back.select(
                F.regexp_extract("path", "lang=([^/]+)", 1).alias("lang"),
                F.length("content").cast("long").alias("bytes"),
                (
                    F.length(body)
                    - F.length(F.replace(body, F.lit("\n"), F.lit("")))
                )
                .cast("long")
                .alias("lines"),
            )
            .groupBy("lang")
            .agg(
                F.sum("lines").cast("long").alias("n_lines"),
                F.sum("bytes").cast("long").alias("total_bytes"),
            )
        )
        return detach(out)


DYN_OVERWRITE_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars + CASE WHEN lang = 'de' THEN 1000000 ELSE 0 END)
            AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


@query("sink_dynamic_partition_overwrite", oracle=DYN_OVERWRITE_ORACLE)
def sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill sink mode:
    a second write with ``partitionOverwriteMode=dynamic`` replaces ONLY
    the partitions present in its input ('de' here, bumped by 1e6 chars
    per doc), leaving every other partition's v1 files untouched; STATIC
    mode (the default) would have truncated the whole table to one lang.

    The read-back audit aggregates all partitions, so it fails BOTH
    failure modes: if the backfill nuked the other langs the rows vanish,
    and if it appended instead of replacing, 'de' double-counts. This is
    how day-partitioned 100 TB tables take corrections — rewrite one
    day's directory atomically (per-partition job commit), never the
    table; partition pruning keeps the backfill's read side to the
    affected day too.
    """
    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_roundtrip_", ignore_cleanup_errors=True
    ) as path:
        docs.write.mode("overwrite").partitionBy("lang").parquet(path)
        v2 = docs.filter(F.col("lang") == "de").withColumn(
            "n_chars", F.col("n_chars") + F.lit(1_000_000)
        )
        v2.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("lang").parquet(path)
        back = spark.read.parquet(path)
        out = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        return detach(out)


CODEC_ORACLE = """
SELECT codec,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(checksum AS BIGINT) AS checksum
FROM (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars * ((doc_id % 97) + 1)) AS BIGINT) AS checksum
      FROM documents) s,
     (VALUES ('gzip'), ('snappy'), ('zstd')) AS c(codec)
"""


@query("sink_codec_roundtrip", oracle=CODEC_ORACLE)
def sink_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec fidelity: the same table written as parquet
    under gzip, snappy, and zstd, re-read, and reduced to an
    order-weighted integer checksum — one output row per codec, all
    three REQUIRED to carry the identical checksum as the pristine
    source (the oracle fans the source checksum across the codec list).

    Codec choice is a scale lever, not a semantics lever — zstd ≈ gzip
    ratios at snappy-class decode speed is why it's the modern 100 TB
    default — and this audit is the proof the lever is safe to pull:
    any decode drift in any codec breaks its row. File sizes are
    deliberately NOT in the output (they vary by build), only content.
    """
    docs = load_table(spark, sf_dir, "documents")
    agg = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.col("n_chars") * (F.pmod("doc_id", F.lit(97)) + 1)
        )
        .cast("long")
        .alias("checksum"),
    )
    out = None
    for codec in ("gzip", "snappy", "zstd"):
        with tempfile.TemporaryDirectory(
            prefix="mr_spark_roundtrip_", ignore_cleanup_errors=True
        ) as path:
            docs.write.mode("overwrite").option(
                "compression", codec
            ).parquet(path)
            a = detach(
                agg(spark.read.parquet(path)).select(
                    F.lit(codec).alias("codec"), "n_docs", "checksum"
                )
            )
        out = a if out is None else out.unionByName(a)
    return out


@query("source_corrupt_json", oracle=CORRUPT_ORACLE)
def source_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSON-lines sibling of ``source_corrupt_records``: PERMISSIVE
    parsing of a JSONL landing zone with three deterministic poison lines
    (truncated object, type-poisoned numeric, bare garbage), quarantined
    via ``columnNameOfCorruptRecord`` and audited with the SAME
    full-column aggregate and oracle as the CSV key.

    Worth its own key because the failure surface differs from CSV:
    JSON rows fail on malformed STRUCTURE (unbalanced braces) or on a
    per-FIELD type mismatch while the rest of the object parses —
    PERMISSIVE nulls the bad field and keeps the row unless the whole
    line is unparseable, so the poison set covers both classes (the
    type-poisoned line must land in quarantine, not pass with a nulled
    field — pinned by the shared audit, which would see a good-row count
    of 1 too many). Same scale story: map-side parse, quarantine rides
    the audit's partial-agg shuffle.
    """
    return _quarantine_audit(
        spark,
        sf_dir,
        "json",
        [
            '{"doc_id": 1, "text": "truncated object", "lang": "en"',
            '{"doc_id": "notanumber", "text": "bad id", "lang": "de",'
            ' "source": "web", "n_chars": 5}',
            "this is not json at all",
        ],
    )
