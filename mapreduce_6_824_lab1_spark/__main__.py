"""Command-line entry points — the reference's runnable-program UX.

The reference is driven as a program, not a library (``mrsequential.go`` /
``mrcoordinator.go`` + ``mrworker.go`` — SURVEY.md §3.1): point it at input
files, get an ``mr-out-*`` file. This module gives the rebuild the same
shape over the whole registry:

    python -m mapreduce_6_824_lab1_spark list
    python -m mapreduce_6_824_lab1_spark run wordcount --show 20
    python -m mapreduce_6_824_lab1_spark run topk --out /tmp/topk --format parquet
    python -m mapreduce_6_824_lab1_spark oracle wordcount
    python -m mapreduce_6_824_lab1_spark verify wordcount

``run`` executes any registry key on a fixture directory; ``--out`` writes
the result (parquet/csv/text — text is the ``mr-out`` analogue: one sorted
line per row, fields space-joined). ``oracle`` runs the key's DuckDB oracle
instead. ``verify`` runs both and diffs them — the lab's sequential-vs-
distributed golden test, one command.
"""

from __future__ import annotations

import argparse
import os
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mapreduce_6_824_lab1_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registry keys and oracle status")

    for name in ("run", "oracle", "verify"):
        sp = sub.add_parser(name)
        sp.add_argument("key", help="registry key (see `list`)")
        sp.add_argument(
            "--sf-dir",
            default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR),
        )
        if name == "run":
            sp.add_argument("--out", help="output path (default: stdout)")
            sp.add_argument(
                "--format",
                choices=("text", "csv", "parquet"),
                default="text",
            )
            sp.add_argument("--show", type=int, default=20)
            sp.add_argument(
                "--cpus",
                default=os.environ.get("SPARK_GRAFT_CPUS", "4"),
            )
    return p


def _registry():
    from mapreduce_6_824_lab1_spark import ORACLES, QUERIES

    return QUERIES, ORACLES


def cmd_list() -> int:
    queries, oracles = _registry()
    for k in sorted(queries):
        tag = "oracle" if k in oracles else "rows-only"
        print(f"{k}\t{tag}")
    print(f"# {len(queries)} keys, {len(oracles)} oracle-paired")
    return 0


def _get_spark(cpus: str):
    from mapreduce_6_824_lab1_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    spark = get_spark(app_name="mr-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_run(args) -> int:
    queries, _ = _registry()
    if args.key not in queries:
        print(f"unknown key {args.key!r} — see `list`", file=sys.stderr)
        return 2
    spark = _get_spark(args.cpus)
    df = queries[args.key](spark, args.sf_dir)
    if args.out:
        writer = df.write.mode("overwrite")
        if args.format == "parquet":
            writer.parquet(args.out)
        elif args.format == "csv":
            writer.option("header", True).csv(args.out)
        else:  # the mr-out-* analogue: sorted, space-joined lines
            cols = df.columns
            from pyspark.sql import functions as F

            (
                df.select(
                    F.concat_ws(
                        " ", *[F.col(c).cast("string") for c in cols]
                    ).alias("value")
                )
                .sort("value")
                .write.mode("overwrite")
                .text(args.out)
            )
        print(f"wrote {args.out} ({args.format})")
    else:
        df.show(args.show, truncate=False)
    return 0


def _oracle_df(key: str, sf_dir: str):
    from mapreduce_6_824_lab1_spark.oracle import fixture_views

    _, oracles = _registry()
    if key not in oracles:
        return None
    return fixture_views(sf_dir).execute(oracles[key]).fetchdf()


def cmd_oracle(args) -> int:
    out = _oracle_df(args.key, args.sf_dir)
    if out is None:
        print(f"{args.key} has no oracle (rows-only key)", file=sys.stderr)
        return 2
    print(out.to_string(index=False, max_rows=40))
    return 0


def cmd_verify(args) -> int:
    """The lab's golden diff: distributed result vs sequential oracle."""
    from mapreduce_6_824_lab1_spark.oracle import check_key, fixture_views

    queries, oracles = _registry()
    if args.key not in queries:
        print(f"unknown key {args.key!r}", file=sys.stderr)
        return 2
    spark = _get_spark("4")
    c = check_key(spark, args.key, args.sf_dir, fixture_views(args.sf_dir))
    if c.failure:
        print(f"FAIL {c.failure}")
        return 1
    if args.key in oracles:
        print(f"{args.key}: OK — {c.rows} rows match the oracle")
    else:
        print(f"{args.key}: rows-only check — {c.rows} rows OK")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    if args.cmd == "list":
        return cmd_list()
    if args.cmd == "run":
        return cmd_run(args)
    if args.cmd == "oracle":
        return cmd_oracle(args)
    return cmd_verify(args)


if __name__ == "__main__":
    sys.exit(main())
