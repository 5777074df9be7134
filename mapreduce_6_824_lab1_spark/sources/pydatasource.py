"""Custom connector via Spark 4's Python DataSource API.

The reference's only "connector" is reading local text files; a real
deployment needs custom sources (internal services, proprietary formats).
Spark 4 exposes that extension point to Python — this module implements a
deterministic synthetic source (partitioned counter with derived columns) to
exercise the full surface: registration, options, schema declaration,
partition planning, and per-partition generators. Because the source is
arithmetic, the DuckDB oracle regenerates it exactly with generate_series —
a value-checked custom connector.

Scale note: ``partitions()`` is the parallelism contract — each
InputPartition becomes one Spark task, so a production source should derive
partitions from the remote system's natural split (files, shards, offset
ranges), never return a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from mapreduce_6_824_lab1_spark.catalog import detach
from mapreduce_6_824_lab1_spark.registry import query

COUNTER_N = 10_000
COUNTER_PARTS = 8


class CounterDataSource(DataSource):
    """``spark.read.format("mr_counter").option("n", ...).load()``"""

    @classmethod
    def name(cls) -> str:
        return "mr_counter"

    def schema(self) -> str:
        return "id BIGINT, squared BIGINT, label STRING"

    def reader(self, schema) -> "CounterReader":
        return CounterReader(self.options)


class CounterReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", COUNTER_N))
        self.parts = int(options.get("parts", COUNTER_PARTS))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        start = partition.value
        for k in range(start, self.n, self.parts):
            yield (k, k * k, f"bucket{k % 10}")


@query(
    "source_python_datasource",
    oracle=f"""
SELECT 'bucket' || CAST(k % 10 AS VARCHAR) AS label,
       count(*) AS cnt,
       CAST(sum(k * k) AS BIGINT) AS sum_squared
FROM generate_series(0, {COUNTER_N - 1}) AS t(k)
GROUP BY 1
""",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read from the registered Python data source and aggregate — proving
    schema, options, partitioning, and row generation all round-trip."""
    try:
        spark.dataSource.register(CounterDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("mr_counter")
        .option("n", COUNTER_N)
        .option("parts", COUNTER_PARTS)
        .load()
    )
    return df.groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("squared").alias("sum_squared"),
    )


# ---------------------------------------------------------------------------
# Streaming Python data source (Spark 4 SimpleDataSourceStreamReader) — the
# streaming half of the connector extension point: initialOffset/read/commit
# with offsets persisted in the query checkpoint. The source serves a fixed
# deterministic range in CHUNK-sized batches, so the drained stream is
# byte-reproducible and the DuckDB oracle regenerates it arithmetically.
# ---------------------------------------------------------------------------

STREAM_TOTAL = 10_000
STREAM_CHUNK = 3_000


class StreamCounterDataSource(DataSource):
    """``spark.readStream.format("mr_stream_counter").load()``"""

    @classmethod
    def name(cls) -> str:
        return "mr_stream_counter"

    def schema(self) -> str:
        return "id BIGINT, squared BIGINT, label STRING"

    def simpleStreamReader(self, schema) -> "StreamCounterReader":
        return StreamCounterReader()


class StreamCounterReader:
    """Offset = {"pos": next-unserved id}; each read() serves one chunk.

    Imported lazily-compatible: subclassing SimpleDataSourceStreamReader is
    done at registration time (see source_python_stream) so importing this
    module never requires the streaming API to exist."""

    def initialOffset(self):
        return {"pos": 0}

    def read(self, start):
        pos = int(start["pos"])
        end = min(pos + STREAM_CHUNK, STREAM_TOTAL)
        rows = iter(
            [(k, k * k, f"bucket{k % 10}") for k in range(pos, end)]
        )
        return rows, {"pos": end}

    def readBetweenOffsets(self, start, end):
        # replay path after a restart: deterministic regeneration
        return iter(
            [
                (k, k * k, f"bucket{k % 10}")
                for k in range(int(start["pos"]), int(end["pos"]))
            ]
        )

    def commit(self, end):
        pass


@query(
    "source_python_stream",
    oracle=f"""
SELECT 'bucket' || CAST(k % 10 AS VARCHAR) AS label,
       count(*) AS cnt,
       CAST(sum(k * k) AS BIGINT) AS sum_squared
FROM generate_series(0, {STREAM_TOTAL - 1}) AS t(k)
GROUP BY 1
""",
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the Python STREAMING data source through a checkpointed
    parquet sink and aggregate the sink — the custom-connector twin of
    ``stream_restart_exactly_once``.

    ``availableNow`` on a simple Python stream reader processes exactly
    one ``read()`` chunk per query start, so draining the fixed range is
    a LOOP of query starts over the SAME checkpoint: each restart resumes
    from the committed offset (initialOffset is only consulted on the
    first start). That makes this key a live proof that Python-source
    offsets round-trip through the checkpoint — the property that makes a
    custom source restartable in production. The loop is bounded and
    driver-side only; every data row still flows through executors.
    """
    import tempfile

    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    # bind the reader to the streaming ABC at registration time
    reader_cls = type(
        "_BoundStreamCounterReader",
        (StreamCounterReader, SimpleDataSourceStreamReader),
        {},
    )
    source_cls = type(
        "_BoundStreamCounterSource",
        (StreamCounterDataSource,),
        {"simpleStreamReader": lambda self, schema: reader_cls()},
    )
    try:
        spark.dataSource.register(source_cls)
    except Exception:
        pass  # already registered in this session
    with tempfile.TemporaryDirectory(
        prefix="mr_spark_pysrc_", ignore_cleanup_errors=True
    ) as scratch:
        out_dir, ckpt = f"{scratch}/out", f"{scratch}/ckpt"
        seen, prev = 0, -1
        for _ in range(2 * STREAM_TOTAL // STREAM_CHUNK + 2):
            q = (
                spark.readStream.format("mr_stream_counter")
                .load()
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            prev, seen = seen, spark.read.parquet(out_dir).count()
            if seen == prev:  # offset stopped advancing: range drained
                break
        sink = spark.read.parquet(out_dir)
        audit = sink.groupBy("label").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("squared").alias("sum_squared"),
        )
        return detach(audit)
