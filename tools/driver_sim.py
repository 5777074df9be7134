"""Driver simulation: vanilla SparkSession + DuckDB oracle over ALL keys.

Mirrors the round driver's contract (entry smoke at sf0.001, every
queries() key vs oracle_sql()) with the package's one oracle check,
``oracle.check_key``: it compares per-column dtypes, not just a
stringified value hash, and is the same check tier-1 and ``verify`` run.
``compare_frames`` is re-exported here for perfbench's check pass.

Usage (run FROM the repo root — worker imports resolve against cwd):
    python tools/driver_sim.py            # full registry at sf0.01
    python tools/driver_sim.py key1 key2  # just those keys
    python tools/driver_sim.py --sf-dir DIR key1  # at another scale
Exit code 0 = all clean; failures are listed at the end.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from mapreduce_6_824_lab1_spark.oracle import (  # noqa: E402,F401
    check_key,
    compare_frames,
    fixture_views,
)

SF01 = "/root/testdata/sf0.01"


def main() -> None:
    ap = argparse.ArgumentParser(prog="driver_sim")
    ap.add_argument("keys", nargs="*", help="only these keys (default: all)")
    ap.add_argument("--sf-dir", default=SF01, help="fixture directory")
    args = ap.parse_args()
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    import __spark_entry__ as E

    n = E.entry(spark).count()
    assert n >= 0, "entry() smoke failed"
    print(f"entry() smoke: {n} rows", flush=True)

    duck = fixture_views(args.sf_dir)
    oracles = E.oracle_sql()
    keys = sorted(args.keys or E.queries())
    fails = []
    for i, k in enumerate(keys):
        tag = f"[{i+1}/{len(keys)}] {k}"
        try:
            c = check_key(spark, k, args.sf_dir, duck)
        except Exception as ex:
            fails.append((k, f"spark-error: {ex}"))
            print(f"{tag}: SPARK ERROR {ex}", flush=True)
            continue
        if c.failure:
            fails.append((k, c.failure))
            print(f"{tag}: FAIL {c.failure}", flush=True)
        else:
            kind = "ok" if k in oracles else "rows-only"
            secs = c.spark_s + c.oracle_s
            print(f"{tag}: {kind} {c.rows} rows ({secs:.1f}s)", flush=True)

    print(f"\n=== {len(keys)-len(fails)}/{len(keys)} clean ===")
    for k, m in fails:
        print(f"FAIL {k}: {m}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
