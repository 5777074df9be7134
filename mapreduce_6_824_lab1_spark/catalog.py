"""Table loading for the fixture star schema + extension tables.

Input model of the reference: a set of files, one map task per file
(MIT 6.824 Lab 1 feeds ``pg-*.txt`` to map tasks; SURVEY.md §1.1). Spark's
FileScan gives the same split-per-task behavior natively on parquet, with
predicate pushdown and column pruning on top — so "loading" here is just
``spark.read.parquet`` plus correctness-critical session conf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier"})


def configure(spark: SparkSession) -> None:
    """Apply correctness-critical runtime conf to a (possibly foreign) session.

    The driver supplies its own SparkSession to ``queries()`` callables, so we
    cannot rely on :func:`session.get_spark` having built it.
    """
    from mapreduce_6_824_lab1_spark.session import RUNTIME_CONFS

    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on some builds
            pass


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize the parquet TIMESTAMP(NANOS) ``ts`` to a µs TimestampType.

    Two read paths exist across Spark versions:

    - ``spark.sql.legacy.parquet.nanosAsLong`` honored → raw longs;
      ``div 1000`` truncates exactly like DuckDB's ns→µs read.
    - Spark 4.1+ reads TIMESTAMP(NANOS) natively as TIMESTAMP_NTZ (µs,
      ns truncated) regardless of that conf. Event-time operators
      (``withWatermark``) require TimestampType, so cast NTZ → LTZ; with
      the session pinned to UTC (session.RUNTIME_CONFS) the instant and
      the wall-clock value coincide, keeping DuckDB oracle parity.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (parquet scan; Catalyst prunes/pushes down)."""
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events(df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load several fixture tables as a dict of DataFrames."""
    configure(spark)
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def detach(df: DataFrame) -> DataFrame:
    """Collect a small result and rebuild it as a driver-held local table.

    Queries that stage scratch files (round-trips, sinks, file-staged
    streams) or scratch tables drop them before returning, so the returned
    frame must not reference the deleted files: it is collected here while
    they still exist. Iterative operators use the same cut to truncate
    lineage at a round boundary.

    The rows stay on the JVM (``collectAsList`` into a ``LocalRelation``),
    so the result plans as ``LocalTableScan``. ``spark.createDataFrame(
    df.collect(), df.schema)`` would instead pickle the rows through Python
    and re-parallelize them as a Python RDD (``Scan ExistingRDD``): every
    later action then runs ``defaultParallelism`` Python worker tasks to
    unpickle a dozen rows. Blocks are not kept on executors either (unlike
    ``localCheckpoint``), so losing a worker cannot lose the result.

    Only for result-grain frames: every row passes through the driver.
    """
    spark, jdf = df.sparkSession, df._jdf
    local = spark._jsparkSession.createDataFrame(
        jdf.collectAsList(), jdf.schema()
    )
    return DataFrame(local, spark)


def fan_out(df: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """Round-robin-repartition an UNDER-SPLIT scan up to the cluster's
    default parallelism before CPU-heavy map work (shingling, tokenizing,
    feature extraction).

    Parquet written as one row group per file cannot be range-split — Spark
    plans one task per file regardless of ``maxPartitionBytes``, so a
    downstream explode/transform chain runs on as many cores as there are
    files. Shuffling the (small, still-compressed-width) raw rows costs
    far less than serializing the map work: measured 2.4 s → 1.4 s on the
    sf0.1 trigram-shingle pipeline (32 cores, 0.6 MB of text).

    At production scale this is a NO-OP: a 100 TB table scans as thousands
    of splits, ``getNumPartitions() >= defaultParallelism`` holds, and the
    DataFrame passes through untouched — the guard makes the helper safe to
    leave in the hot path. Only genuinely under-split inputs (few files,
    single-row-group parquet, gzip text) pay the one extra shuffle."""
    spark = spark or df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
