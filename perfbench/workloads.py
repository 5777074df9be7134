"""The registry keys each workload runs in one pass.

The one-line reason for each workload is its ``why`` in BENCHMARK.json.  The
two stress different layers, so a change to one layer has a workload that
exercises it and one where the prediction is "no change".
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Sub-second keys where fixed per-query cost dominates: every key loads
    # its tables through catalog.load_table (one eager parquet schema job per
    # table) and goes through Catalyst once; sql_tpch_q3 joins three tables.
    # distributed_sort is the shuffle-heavy lab app; sink_partitioned_parquet
    # writes a partitioned table and reads it back (file commit protocol).
    "lab_relational": (
        "wordcount",
        "inverted_index",
        "distributed_sort",
        "filter_project",
        "topk",
        "sql_tpch_q3",
        "sink_partitioned_parquet",
    ),
    # Keys whose cost is rounds x barrier: graph_bfs_frontier runs its
    # frontier loop as eager jobs inside build; stream_tumbling runs
    # file-source micro-batches with state-store and offset-log commits;
    # udaf_mad_pandas is the Arrow/pandas Python lane.  None of them is
    # dominated by per-table schema inference.
    "llm_iterative": (
        "graph_bfs_frontier",
        "udaf_mad_pandas",
        "stream_tumbling",
    ),
}
