"""Iterative graph analytics — PageRank over a derived source-link graph.

PageRank is the MapReduce paper's marquee iterative application (the
original motivation for the "chain of MapReduce jobs" pattern; MIT 6.824
Lab 1's wordcount/indexer apps are its warm-ups — /root/reference/README.md
is a stub, so lineage is to the published paper, not checkout code). Each
iteration is one map (emit rank/out_degree along each edge) + one reduce
(sum contributions per target): exactly the shape ``dedup_clusters``
already proved for connected components.

Graph derivation (pure relational, deterministic): document *i*'s source
"links to" the source of document *i + (n_chars(i) mod 7) + 1* — a
content-dependent skip so the digraph is irregular (a plain *i → i+1*
chain degenerates to a perfect cycle under the corpus's round-robin
doc→source assignment, which makes PageRank uniform and the query
vacuous). Edge weight = number of such transitions; a weighted,
self-loop-including digraph over ~20 source nodes at test SFs, millions
at corpus scale.

Scale shape per iteration (the whole point):
- the normalized edge list and node set are the loop invariants — persisted
  before the iteration loop and unpersisted after, so each iteration reads
  the cached edge partitions instead of re-deriving the 3-deep
  join→agg→window plan from parquet; the final ranks are localCheckpoint'd
  (node-count-sized) so unpersist is safe before the caller collects;
- contributions: one shuffle on ``src`` (join ranks→edges), one partial-
  aggregated shuffle on ``dst`` — traffic O(edges), never O(nodes²);
- node count rides along as a broadcast 1-row aggregate (no collect);
- fixed iteration count ⇒ no driver-side action at all: the whole
  3-iteration rank is ONE lazy plan, and the DuckDB oracle unrolls the
  same three steps as CTEs.

Dangling nodes (no out-edges) leak their mass rather than redistributing
it — the simplification is applied identically in the oracle, so parity is
exact. With the citation-chain derivation every source except possibly the
chain tail has out-edges, so the leak is at most one node's damped rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.functions.numeric import hround, sql_hround
from mapreduce_6_824_lab1_spark.registry import query

DAMPING = 0.85
TELEPORT = 0.15
PR_ITERATIONS = 3


def _iter_cte(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""r{i} AS (
    SELECT nodes.node,
           {TELEPORT} / nn.n
           + {DAMPING} * coalesce(sum({prev}.rank * e.nw), 0) AS rank
    FROM nodes CROSS JOIN nn
    LEFT JOIN enorm e ON e.dst = nodes.node
    LEFT JOIN {prev} ON {prev}.node = e.src
    GROUP BY nodes.node, nn.n
)"""


PAGERANK_ORACLE = f"""
WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
edges AS (
    SELECT a.source AS src, b.source AS dst, count(*) AS w
    FROM docs a JOIN docs b ON b.doc_id = a.doc_id + (a.n_chars % 7) + 1
    GROUP BY 1, 2
),
enorm AS (
    SELECT src, dst, w * 1.0 / sum(w) OVER (PARTITION BY src) AS nw
    FROM edges
),
nodes AS (SELECT DISTINCT source AS node FROM docs),
nn AS (SELECT count(*) * 1.0 AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
{",".join(_iter_cte(i) for i in range(1, PR_ITERATIONS + 1))}
SELECT node AS source, {sql_hround("rank", 6)} AS rank
FROM r{PR_ITERATIONS}
"""


@query("pagerank_sources", oracle=PAGERANK_ORACLE)
def pagerank_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, 3 fixed iterations) over the source graph.

    Iteration shuffles are scoped to one wave of cores
    (``session.core_partitions``): rank state is |V| rows, and an untuned
    200-partition default turns each of the 3 iterations into hundreds of
    near-empty tasks in a vanilla session.
    """
    from mapreduce_6_824_lab1_spark.session import core_partitions

    with core_partitions(spark):
        return _pagerank_impl(spark, sf_dir)


def _pagerank_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    linked = docs.select(
        (F.col("doc_id") + F.col("n_chars") % 7 + 1).alias("target_id"),
        F.col("source").alias("src"),
    )
    succ = docs.select(F.col("doc_id").alias("tid"), F.col("source").alias("dst"))
    edges = (
        linked.join(succ, linked["target_id"] == succ["tid"])
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # normalize by out-weight with a window on src: stays on the same
    # partitioning as the groupBy above — no extra shuffle, no outw join
    from pyspark.sql.window import Window

    ow = F.sum("w").over(Window.partitionBy("src"))
    # loop invariants: persist so each of the PR_ITERATIONS joins reads
    # cached edge partitions instead of re-deriving join→agg→window from
    # the parquet scan (at 100 TB the edge derivation dominates an
    # iteration; recomputing it 3× triples the job)
    enorm = edges.select("src", "dst", (F.col("w") / ow).alias("nw")).persist()
    nodes = docs.select(F.col("source").alias("node")).distinct().persist()
    try:
        n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
        ranks = nodes.crossJoin(broadcast(n_df)).select(
            "node", (F.lit(1.0) / F.col("n")).alias("rank")
        )
        for _ in range(PR_ITERATIONS):
            contribs = (
                ranks.join(enorm, ranks["node"] == enorm["src"])
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("nw")).alias("contrib"))
            )
            ranks = (
                nodes.crossJoin(broadcast(n_df))
                .join(contribs, nodes["node"] == contribs["dst"], "left")
                .select(
                    "node",
                    (
                        F.lit(TELEPORT) / F.col("n")
                        + F.lit(DAMPING) * F.coalesce("contrib", F.lit(0.0))
                    ).alias("rank"),
                )
            )
        out = ranks.select(
            F.col("node").alias("source"), hround("rank", 6).alias("rank")
        )
        # materialize the node-count-sized result so unpersist below can't
        # trigger a collect-time recompute of the iterative plan
        return out.localCheckpoint(eager=True)
    finally:
        # drop the caches even on failure — a leaked persist would pin
        # executor memory for the rest of the 160-query driver session
        enorm.unpersist()
        nodes.unpersist()


# ---------------------------------------------------------------------------
# Triangle counting — the other canonical "graph as a chain of MapReduce
# jobs" application (node-iterator join algorithm). Triangles are counted
# once each by canonically ordering every undirected edge (u < v) and
# closing wedges u->v->w with the u->w edge, u < v < w.
#
# Scale shape: two equi-joins on node keys. Wedge generation is the
# quadratic risk (Σ deg(v)²); we orient every edge from its lower-degree
# endpoint to its higher-degree endpoint (ties broken by node id) so every
# wedge pivots on its lowest-degree node — the Schank/Wagner forward
# algorithm, bounding wedge fan-out at O(m^1.5) total instead of
# Σ deg(hub)² on a skewed graph. Costs one degree aggregation + two key
# joins to annotate the edges; per-node participation stays an explode +
# one partial-agg shuffle.
# ---------------------------------------------------------------------------

TRIANGLES_ORACLE = """
WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
ed AS (
    SELECT DISTINCT a.source AS src, b.source AS dst
    FROM docs a JOIN docs b ON b.doc_id = a.doc_id + (a.n_chars % 7) + 1
    WHERE a.source <> b.source
),
und AS (
    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM ed
),
tri AS (
    SELECT w.u AS x, w.v AS y, e2.v AS z
    FROM (SELECT e0.u, e0.v, e1.v AS w_end
          FROM und e0 JOIN und e1 ON e1.u = e0.v) w(u, v, w_end)
    JOIN und e2 ON e2.u = w.u AND e2.v = w.w_end
),
per_node AS (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
)
SELECT node AS source, count(*) AS n_triangles
FROM per_node GROUP BY node
"""


def _orient_by_degree(und: DataFrame) -> DataFrame:
    """Orient each undirected edge ``(u, v)`` from its lower-(degree, id)
    endpoint ``a`` to its higher one ``b``, annotating both endpoints'
    total-order keys so the wedge join can enforce ``b0 ≺ b1`` without a
    further degree lookup. Returns columns ``a, b, da, db`` (degrees)."""
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ann = und.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return ann.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("du")).otherwise(F.col("dv")).alias("da"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )


def _wedges_from_oriented(ed: DataFrame) -> DataFrame:
    """Wedges ``x—y, x—z`` pivoting on the lowest-degree node of each
    candidate triangle: Σ C(outdeg(a), 2) rows, bounded because degree
    orientation caps out-degree at O(√m) — a planted hub contributes ZERO
    wedges as a pivot (all its edges point inward)."""
    e0, e1 = ed.alias("e0"), ed.alias("e1")
    lt = (F.col("e0.db") < F.col("e1.db")) | (
        (F.col("e0.db") == F.col("e1.db")) & (F.col("e0.b") < F.col("e1.b"))
    )
    return (
        e0.join(e1, (F.col("e0.a") == F.col("e1.a")) & lt)
        .select(
            F.col("e0.a").alias("x"),
            F.col("e0.b").alias("y"),
            F.col("e1.b").alias("z"),
        )
    )


def _oriented_wedges(und: DataFrame) -> DataFrame:
    """Degree-oriented wedge set for an undirected edge list (test hook)."""
    return _wedges_from_oriented(_orient_by_degree(und))


def _triangle_participation(und: DataFrame) -> DataFrame:
    """Per-node triangle counts from an undirected edge list (u < v rows).

    Both edge frames are eager-``localCheckpoint``-ed before fan-out:
    ``und`` feeds the degree aggregate and the annotation join, and the
    oriented ``ed`` feeds e0/e1 (wedges) plus e2 (closure) — without the
    materialization the physical plan re-derives the whole corpus-side
    edge DAG for every consumer (measured: 18 parquet scans at fixture
    scale, zero ReusedExchange — broadcast build sides are not
    reuse-eligible). localCheckpoint rather than ``persist()``: this
    function returns a LAZY frame, so a persist here would have no
    unpersist point and would strand CacheManager entries in a
    long-lived session (persist/unpersist lifecycles belong where the
    materializing action lives, e.g. ``connected_components``);
    checkpoint blocks are released by the ContextCleaner when the frame
    is garbage-collected — and it measured faster besides (0.8–1.0 s vs
    1.2–2.0 s warm at sf0.1). Edge lists are edge-grain, tiny next to
    the corpus that produced them."""
    und = und.localCheckpoint()
    ed = _orient_by_degree(und).localCheckpoint()
    wedges = _wedges_from_oriented(ed)
    # close each wedge with the oriented y→z edge; orientation of (y, z)
    # is y→z by construction (y ≺ z in the (deg, id) total order)
    e2 = ed.select(F.col("a").alias("cu"), F.col("b").alias("cv"))
    tri = wedges.join(
        e2, (F.col("y") == F.col("cu")) & (F.col("z") == F.col("cv"))
    ).select("x", "y", "z")
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@query("graph_triangles", oracle=TRIANGLES_ORACLE)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the derived source graph."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    linked = docs.select(
        (F.col("doc_id") + F.col("n_chars") % 7 + 1).alias("target_id"),
        F.col("source").alias("src"),
    )
    succ = docs.select(F.col("doc_id").alias("tid"), F.col("source").alias("dst"))
    und = (
        linked.join(succ, linked["target_id"] == succ["tid"])
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    return _triangle_participation(und)


# ---------------------------------------------------------------------------
# Recursive-CTE reachability — Spark 4.0 added WITH RECURSIVE, closing the
# last SQL-surface gap between the engines: the SAME recursive query string
# runs on Spark and DuckDB (the TPC-H shared-string pattern). BFS from the
# lexicographically-first source over the derived link graph, min hop count
# per reachable node, recursion bounded by MAX_HOPS (the graph is cyclic —
# UNION dedups (node, depth) pairs but depth would grow around cycles
# unbounded without the guard).
# ---------------------------------------------------------------------------

MAX_HOPS = 4  # walks grow ~7x/hop on the cyclic fixture graph (UNION ALL
#               keeps every walk — Spark's recursive CTEs don't support
#               dedup-UNION yet); 4 hops reach all 20 nodes in ~2.6k walks

REACHABILITY_SQL = f"""
WITH RECURSIVE
docs AS (SELECT doc_id, source, n_chars FROM documents),
edges AS (
    SELECT DISTINCT a.source AS src, b.source AS dst
    FROM docs a JOIN docs b ON b.doc_id = a.doc_id + (a.n_chars % 7) + 1
),
root AS (SELECT min(source) AS r FROM docs),
walk(node, depth) AS (
    SELECT r, 0 FROM root
    UNION ALL
    SELECT e.dst, w.depth + 1
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.depth < {MAX_HOPS}
)
SELECT node AS source, CAST(min(depth) AS BIGINT) AS hops
FROM walk
GROUP BY node
"""


@query("sql_recursive_reachability", oracle=REACHABILITY_SQL)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop reachability from the first source node via WITH RECURSIVE —
    the identical SQL string is the oracle (shared-string pattern, like the
    TPC-H keys), exercising Spark 4's recursive-CTE execution (UnionLoop).

    Scale shape: each recursion step is one equi-join of the frontier
    against the edge list, planned by the engine (UnionLoopExec). Spark's
    recursive CTEs support only UNION ALL, so every WALK survives — on a
    cyclic graph that is exponential in depth (~7x/hop here), which is why
    MAX_HOPS stays at 4 and why a production BFS over a big graph uses the
    iterative frontier-DEDUP loop ``connected_components`` hand-rolls
    (one distinct per hop bounds the frontier by |V|). The recursive-CTE
    form is the right tool for bounded-depth hierarchy walks (org charts,
    BOM explosions), and min-hop per node is walk-order independent, so
    the result is deterministic."""
    from mapreduce_6_824_lab1_spark.catalog import configure

    configure(spark)
    for t in ("documents",):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(REACHABILITY_SQL)


# ---------------------------------------------------------------------------
# Iterative frontier-dedup BFS — the production counterpart of the
# recursive-CTE walk above (same graph, same oracle, different execution)
# ---------------------------------------------------------------------------


@query("graph_bfs_frontier", oracle=REACHABILITY_SQL)
def graph_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS from the first source node as an ITERATIVE DataFrame
    loop with frontier dedup — the scale-correct execution of exactly the
    computation ``sql_recursive_reachability`` expresses as WITH RECURSIVE
    (shared oracle string: both must produce identical hop tables).

    Why this form wins at scale: Spark's recursive CTE is UNION ALL only,
    so every WALK survives — exponential (~7x/hop) on cyclic graphs. Here
    each hop joins the frontier to the edge list, ``distinct()``s the new
    frontier, and anti-joins the visited set, bounding every iteration's
    state by |V| — cycles cost nothing. ``localCheckpoint`` cuts the
    growing lineage each hop (the pagerank_sources recipe, graph.py:120),
    and the loop exits early once a hop yields no unvisited node, so
    bounded-diameter graphs never pay MAX_HOPS joins. Driver involvement
    per hop is one empty-check on a node-grain frame — no fact-grain
    collect."""
    from mapreduce_6_824_lab1_spark.session import core_partitions

    with core_partitions(spark):
        return _bfs_impl(spark, sf_dir)


def _bfs_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    succ = docs.select(
        F.col("doc_id").alias("tid"), F.col("source").alias("dst")
    )
    edges = (
        docs.select(
            (F.col("doc_id") + F.col("n_chars") % 7 + 1).alias("target_id"),
            F.col("source").alias("src"),
        )
        .join(succ, F.col("target_id") == F.col("tid"))
        .select("src", "dst")
        .distinct()
        .persist()
    )
    root = docs.agg(F.min("source").alias("node"))
    hop0 = root.select(
        "node", F.lit(0).cast("long").alias("hops")
    ).localCheckpoint(eager=True)
    # visited is kept as a UNION of the per-hop checkpointed frames, not
    # re-checkpointed each hop: every leaf is already materialized, so
    # the union's lineage is flat (no recompute, no growth). Each hop
    # pays ONE eager job: round 14 dropped the visited re-checkpoint
    # (3 -> 2 jobs/hop; OPTIMIZATION_r14.md, interleaved A/B medians
    # -9%/-23%), and round 15 folded the empty-frontier probe into the
    # checkpoint job itself as an observed row count (2 -> 1;
    # OPTIMIZATION_r15.md — CollectMetrics is exactly-once per job,
    # and count == 0 is precisely what isEmpty() asked). At cluster
    # scale each removed job is a full barrier per BFS round.
    hop_frames = [hop0]
    visited_nodes = hop0.select("node")
    frontier = hop0.select("node")
    try:
        for depth in range(1, MAX_HOPS + 1):
            hop_obs = Observation()
            nxt = (
                frontier.join(edges, frontier["node"] == edges["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited_nodes, "node", "left_anti")
                .observe(hop_obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            if hop_obs.get["n"] == 0:
                break
            hop_frames.append(
                nxt.select("node", F.lit(depth).cast("long").alias("hops"))
            )
            visited_nodes = visited_nodes.unionByName(nxt)
            frontier = nxt
    finally:
        edges.unpersist()
    visited = hop_frames[0]
    for f in hop_frames[1:]:
        visited = visited.unionByName(f)
    return visited.select(F.col("node").alias("source"), "hops")
