"""PageRank operator tests: analytic fixed points, a Python reference
implementation on a weighted digraph (dangling node included), and
parameter guards. Oracle parity for the registered trade-graph entry
runs in tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest

from aws_de_final_project_spark.operators.graphrank import pagerank


def _df_nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _df_edges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, w double")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cycle_fixed_point_is_uniform(spark):
    """A 3-cycle's stationary distribution is uniform regardless of
    damping — and uniform is also the start vector, so ANY iteration
    count must return exactly 1/3 everywhere."""
    nodes = _df_nodes(spark, [1, 2, 3])
    edges = _df_edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)])
    out = {r.id: r.pr for r in pagerank(nodes, edges, n_iter=5).collect()}
    for v in out.values():
        assert v == pytest.approx(1.0 / 3.0, abs=1e-12)


def _reference_pagerank(nodes, edges, damping, n_iter):
    """Dict-based reference of the exact same fixed-iteration program."""
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            contrib[t] += (w / outw[s]) * pr[s]
        dangling = sum(pr[v] for v in nodes if v not in outw)
        pr = {
            v: (1.0 - damping) / n
            + damping * (contrib[v] + dangling / n)
            for v in nodes
        }
    return pr


def test_matches_reference_with_weights_and_dangling(spark):
    """Weighted digraph with a dangling sink (4) and skewed weights:
    the Spark iteration must match the dict reference to float
    accuracy, and total rank mass must stay 1."""
    nodes_l = [1, 2, 3, 4]
    edges_l = [
        (1, 2, 3.0),
        (1, 3, 1.0),
        (2, 3, 1.0),
        (3, 1, 2.0),
        (3, 4, 2.0),
    ]
    got = {
        r.id: r.pr
        for r in pagerank(
            _df_nodes(spark, nodes_l),
            _df_edges(spark, edges_l),
            damping=0.85,
            n_iter=12,
        ).collect()
    }
    ref = _reference_pagerank(nodes_l, edges_l, 0.85, 12)
    for v in nodes_l:
        assert got[v] == pytest.approx(ref[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the heavily-linked hub (3: two in-edges incl. the 3.0 weight)
    # outranks the dangling sink's sole feeder
    assert got[3] > got[2]


def test_pagerank_validates_params(spark):
    nodes = _df_nodes(spark, [1])
    edges = _df_edges(spark, [])
    with pytest.raises(ValueError):
        pagerank(nodes, edges, damping=1.0)
    with pytest.raises(ValueError):
        pagerank(_df_nodes(spark, []), edges)


def test_iter_impl_equivalence(spark, monkeypatch):
    """Driver and relational iterations run the identical program —
    equal inside 1e-9 on a weighted digraph with a dangling sink. The
    default cap takes the driver path (its ranks are a LocalTableScan);
    a cap of 0 takes the relational one."""
    from aws_de_final_project_spark.operators import util

    nodes = _df_nodes(spark, [1, 2, 3, 4])
    edges = _df_edges(
        spark,
        [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 1.0), (3, 1, 2.0), (3, 4, 2.0)],
    )
    drv = pagerank(nodes, edges, n_iter=12)
    a = {r.id: r.pr for r in drv.collect()}
    assert "LocalTableScan" in _executed_plan(drv)
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    rel = pagerank(nodes, edges, n_iter=12)
    b = {r.id: r.pr for r in rel.collect()}
    assert "LocalTableScan" not in _executed_plan(rel)
    assert set(a) == set(b) == {1, 2, 3, 4}
    for v in a:
        assert abs(a[v] - b[v]) < 1e-9


def test_triangle_counts_hand_graphs(spark):
    from aws_de_final_project_spark.operators.graphrank import triangle_counts

    def run(edges):
        df = spark.createDataFrame(edges, "src int, dst int")
        return {
            (r["node"], r["n_triangles"])
            for r in triangle_counts(df, "src", "dst").collect()
        }

    # K4: 4 triangles, every node in 3
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert run(k4) == {(0, 3), (1, 3), (2, 3), (3, 3)}
    # path graph: no triangles
    assert run([(0, 1), (1, 2), (2, 3)]) == set()
    # two triangles sharing edge (1,2): shared nodes in 2 each
    both = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    assert run(both) == {(0, 1), (3, 1), (1, 2), (2, 2)}
    # duplicates / reversed copies / self-loops canonicalize away
    noisy = both + [(1, 0), (2, 1), (1, 1), (0, 1)]
    assert run(noisy) == run(both)


def test_triangle_counts_star_hub_no_blowup(spark):
    """A pure star (one hub, many leaves) has zero triangles, and the
    degree orientation points every edge INTO the hub — the oriented
    wedge join generates no hub-centered wedges at all."""
    from aws_de_final_project_spark.operators.graphrank import triangle_counts

    star = [(0, i) for i in range(1, 60)]
    df = spark.createDataFrame(star, "src int, dst int")
    assert triangle_counts(df, "src", "dst").count() == 0


def test_pagerank_and_triangles_reliable_checkpoint(reliable_cut):
    """A session checkpoint dir must swap the per-iteration lineage cut
    to reliable df.checkpoint() without changing results (pagerank ranks
    and triangle counts both bit-identical to the local-cut session)."""
    local_rows, got = reliable_cut
    for name in ("pagerank", "triangle_counts"):
        assert local_rows[name], name
        assert got["rows"][name] == local_rows[name], name
        assert got["wrote"][name], name


def test_host_pagerank_blocklisted_spam_ranks_low(spark):
    """Composition pin (VERDICT r12 item 5): on a planted host graph,
    a spam/link-farm domain (out-links only, zero in-links — the
    blocklist shape) must rank BELOW every organically-linked host,
    and a pure sink (in-links only, a dangling node) must still
    receive rank mass."""
    from aws_de_final_project_spark.operators.graphrank import host_pagerank

    edges = spark.createDataFrame(
        [
            # organic core: a <-> b, both -> authority c
            ("a.com", "b.com", 5), ("b.com", "a.com", 5),
            ("a.com", "c.com", 10), ("b.com", "c.com", 10),
            # c links on to the dangling sink d
            ("c.com", "d.com", 3),
            # spam farm: blasts links at everyone, receives none
            ("spam.biz", "a.com", 100), ("spam.biz", "b.com", 100),
            ("spam.biz", "c.com", 100),
        ],
        "src_domain string, dst_domain string, n_links long",
    )
    pr = {r.domain: r.pr for r in host_pagerank(edges).collect()}
    assert set(pr) == {"a.com", "b.com", "c.com", "d.com", "spam.biz"}
    assert abs(sum(pr.values()) - 1.0) < 1e-3  # mass conserved
    spam = pr["spam.biz"]
    assert all(spam < v for k, v in pr.items() if k != "spam.biz"), pr
    # the doubly-linked authority outranks its linkers; the dangling
    # sink (c's only out-edge) legitimately collects c's mass
    assert pr["c.com"] > pr["a.com"] and pr["c.com"] > pr["b.com"]
    assert pr["d.com"] > spam  # dangling sink still collects rank


@pytest.mark.parametrize(
    "key,want", [("int", "bigint"), ("bigint", "bigint"), ("string", "string")]
)
def test_driver_path_key_dtypes(spark, key, want):
    """The driver path's (node, pr) frame keeps the types schema
    inference gave it: Python-int ids are bigint, strings stay
    strings."""
    nodes = spark.createDataFrame([(1,), (2,)], "id long").selectExpr(
        f"CAST(id AS {key}) AS id"
    )
    edges = _df_edges(spark, [(1, 2, 1.0), (2, 1, 1.0)]).selectExpr(
        f"CAST(src AS {key}) AS src", f"CAST(dst AS {key}) AS dst", "w"
    )
    out = pagerank(nodes, edges, n_iter=3)
    assert out.dtypes == [("id", want), ("pr", "double")]
    assert sorted(r.pr for r in out.collect()) == pytest.approx([0.5, 0.5])
