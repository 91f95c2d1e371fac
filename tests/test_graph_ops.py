"""CC / LPA / triangle / stats operators vs the pure-Python oracles."""

from __future__ import annotations

import pytest

from parallel_pagerank_spark.operators.components import (
    connected_components,
    large_star_small_star,
)
from parallel_pagerank_spark.operators.labelprop import label_propagation
from parallel_pagerank_spark.operators.stats import (
    dangling_vertices,
    degree_table,
    graph_summary,
    isolated_count,
)
from parallel_pagerank_spark.operators.triangles import (
    per_vertex_triangle_counts,
    triangle_count,
)

from .conftest import edges_df
from .oracles import (
    SMALL_GRAPH,
    connected_components_oracle,
    label_propagation_oracle,
    load_edge_list,
    min_label_propagation_oracle,
    per_vertex_triangles_oracle,
    triangle_count_oracle,
)

TWO_COMPONENTS = [(0, 1), (1, 2), (3, 4), (5, 3), (6, 6)]  # id 7 isolated? no: max=6
RING = [(i, (i + 1) % 10) for i in range(10)]
STAR = [(0, i) for i in range(1, 20)] + [(i, 0) for i in range(1, 20)]
K33 = [(i, j) for i in range(3) for j in range(3, 6)]  # tie-heavy bipartite


@pytest.mark.parametrize(
    "edges,n",
    [
        (SMALL_GRAPH, 4),
        (TWO_COMPONENTS, 7),
        (RING, 10),
        (STAR, 20),
    ],
)
def test_connected_components(spark, edges, n):
    df = edges_df(spark, edges)
    want = connected_components_oracle(edges, n)
    res = connected_components(df, fast_path_edges=0)
    got = {r["id"]: r["component"] for r in res.components.collect()}
    assert got == want
    assert res.converged
    # superstep count parity with the synchronous min-label oracle
    _, oracle_steps = min_label_propagation_oracle(edges, n)
    assert res.supersteps == oracle_steps


@pytest.mark.parametrize(
    "edges,n", [(SMALL_GRAPH, 4), (TWO_COMPONENTS, 7), (RING, 10), (STAR, 20)]
)
def test_large_star_small_star_matches(spark, edges, n):
    df = edges_df(spark, edges)
    want = connected_components_oracle(edges, n)
    res = large_star_small_star(df, fast_path_edges=0)
    got = {r["id"]: r["component"] for r in res.components.collect()}
    assert got == want
    assert res.converged
    assert res.mode == "dataframe"


def test_cc_long_path_lsss_faster(spark):
    # path graph: min-label propagation needs O(n) supersteps,
    # large-star/small-star O(log^2 n)
    path = [(i, i + 1) for i in range(30)]
    df = edges_df(spark, path)
    res = large_star_small_star(df, fast_path_edges=0)
    got = {r["id"]: r["component"] for r in res.components.collect()}
    assert got == {i: 0 for i in range(31)}
    assert res.supersteps < 12


@pytest.mark.parametrize(
    "edges,n", [(SMALL_GRAPH, 4), (TWO_COMPONENTS, 7), (STAR, 20)]
)
def test_label_propagation(spark, edges, n):
    df = edges_df(spark, edges)
    want = label_propagation_oracle(edges, n, max_iter=10)
    res = label_propagation(df, max_iter=10, fast_path_edges=0)
    got = {r["id"]: r["label"] for r in res.labels.collect()}
    assert got == want


@pytest.mark.parametrize("method", ["ordered", "degree_oriented"])
@pytest.mark.parametrize(
    "edges,n",
    [
        (SMALL_GRAPH, 4),
        (RING, 10),
        (STAR, 20),
        ([(0, 1), (1, 2), (2, 0), (0, 0), (1, 0), (2, 1)], 3),  # dense + loops
    ],
)
def test_triangle_count(spark, method, edges, n):
    df = edges_df(spark, edges)
    assert triangle_count(df, method) == triangle_count_oracle(edges, n)


@pytest.mark.parametrize("method", ["ordered", "degree_oriented"])
def test_triangle_reference_fixtures(spark, method):
    for name in ["small_graph", "medium_graph", "large_graph"]:
        edges = load_edge_list(f"/root/reference/sample_graphs/{name}.txt")
        df = edges_df(spark, edges)
        n = max(max(s, t) for s, t in edges) + 1
        assert triangle_count(df, method) == triangle_count_oracle(edges, n)


def test_per_vertex_triangles(spark):
    edges = load_edge_list("/root/reference/sample_graphs/medium_graph.txt")
    n = max(max(s, t) for s, t in edges) + 1
    df = edges_df(spark, edges)
    want = per_vertex_triangles_oracle(edges, n)
    got = {
        r["id"]: r["triangles"]
        for r in per_vertex_triangle_counts(df).collect()
    }
    # engine omits zero-triangle vertices
    assert got == {k: v for k, v in want.items() if v > 0}


def test_graph_summary_and_degrees(spark):
    df = edges_df(spark, SMALL_GRAPH)
    row = graph_summary(df).first()
    assert row["num_nodes"] == 4 and row["num_edges"] == 7
    assert row["density"] == pytest.approx(7 / 12)
    deg = {
        r["id"]: (r["out_deg"], r["in_deg"])
        for r in degree_table(df).collect()
    }
    assert deg == {0: (2, 2), 1: (1, 2), 2: (1, 3), 3: (3, 0)}
    assert isolated_count(df) == 0


def test_dangling_and_isolated_stats(spark):
    edges = [(0, 1), (1, 2), (4, 5)]  # 2,5 dangling; 3 isolated (id gap)
    df = edges_df(spark, edges)
    dang = sorted(r["id"] for r in dangling_vertices(df).collect())
    assert dang == [2, 3, 5]
    assert isolated_count(df) == 1


def test_rank_histogram(spark):
    from parallel_pagerank_spark.operators.stats import rank_histogram

    # integer-valued ranks: bin edges exact in binary (no float-edge
    # ambiguity; fixed-width binning semantics like numpy.histogram)
    ranks = spark.createDataFrame(
        [(i, float(i)) for i in range(16)], "id long, rank double"
    )
    h = rank_histogram(ranks, bins=5).collect()
    assert sum(r["num_vertices"] for r in h) == 16
    assert [r["num_vertices"] for r in h] == [3, 3, 3, 3, 4]  # top inclusive
    assert h[0]["lo"] == 0.0 and abs(h[-1]["hi"] - 15.0) < 1e-12


def test_clustering_coefficient(spark):
    from parallel_pagerank_spark.operators.stats import (
        clustering_coefficient,
    )

    # triangle 0-1-2 plus pendant 3 attached to 0
    df = edges_df(spark, [(0, 1), (1, 2), (2, 0), (0, 3)])
    got = {
        r["id"]: (r["triangles"], r["degree"], r["coefficient"])
        for r in clustering_coefficient(df).collect()
    }
    assert got[1] == (1, 2, 1.0)
    assert got[2] == (1, 2, 1.0)
    assert got[0][0] == 1 and got[0][1] == 3
    assert abs(got[0][2] - 1 / 3) < 1e-12
    assert got[3] == (0, 1, 0.0)


def test_metrics_sinks(tmp_path):
    import json as _json

    from parallel_pagerank_spark.plans.metrics import (
        metrics_to_csv,
        metrics_to_json,
    )

    m = [{"iteration": 1, "l1": 0.5}, {"iteration": 2, "l1": 0.1}]
    jp, cp = str(tmp_path / "m.json"), str(tmp_path / "m.csv")
    metrics_to_json(m, jp)
    metrics_to_csv(m, cp)
    assert _json.load(open(jp)) == m
    rows = open(cp).read().strip().splitlines()
    assert rows[0] == "iteration,l1" and len(rows) == 3


@pytest.mark.parametrize(
    "edges,n",
    [(SMALL_GRAPH, 4), (TWO_COMPONENTS, 7), (RING, 10), (STAR, 20)],
)
def test_components_fast_path_parity(spark, edges, n):
    """Auto-routed vectorized CC must produce the identical min-id
    labeling as the union-find oracle and the distributed loop."""
    df = edges_df(spark, edges)
    res = connected_components(df)  # routes: small dense graph
    assert res.mode == "vectorized"
    assert res.converged
    assert all(m["wall_ms"] >= 0.0 for m in res.metrics), res.metrics
    got = {r["id"]: r["component"] for r in res.components.collect()}
    assert got == connected_components_oracle(edges, n)
    # same routing from the large-star/small-star entry point
    res2 = large_star_small_star(df)
    assert res2.mode == "vectorized"


def test_components_fast_path_honors_max_iter(spark):
    """Contract: the vectorized CC tier caps at max_iter exactly like
    the distributed loop — converged=False, supersteps == cap, and a
    metrics row per round (ADVICE r3 residual)."""
    # a long path needs ~log2(len) hook+double-compress rounds; cap at 1
    path = [(i, i + 1) for i in range(64)]
    df = edges_df(spark, path)
    res = connected_components(df, max_iter=1)
    assert res.mode == "vectorized"
    assert not res.converged
    assert res.supersteps == 1
    assert len(res.metrics) == 1 and res.metrics[0]["changed"] > 0
    # and with room to run, the same routing converges exactly
    full = connected_components(df, max_iter=50)
    assert full.converged and full.supersteps <= 50


@pytest.mark.parametrize(
    "edges,n",
    [(SMALL_GRAPH, 4), (TWO_COMPONENTS, 7), (STAR, 20), (RING, 10), (K33, 6)],
)
def test_label_propagation_fast_path_parity(spark, edges, n):
    """The vectorized tier matches the oracle's labels, and the DataFrame
    tier's run: superstep count, convergence and the per-superstep
    ``changed`` counts. Every superstep record carries its wall time."""
    df = edges_df(spark, edges)
    res = label_propagation(df, max_iter=10)  # routes
    assert res.mode == "vectorized"
    got = {r["id"]: r["label"] for r in res.labels.collect()}
    assert got == label_propagation_oracle(edges, n, max_iter=10)
    slow = label_propagation(df, max_iter=10, fast_path_edges=0)
    assert slow.mode == "dataframe"
    assert got == {r["id"]: r["label"] for r in slow.labels.collect()}
    assert (res.supersteps, res.converged) == (
        slow.supersteps,
        slow.converged,
    )
    assert [m["changed"] for m in res.metrics] == [
        m["changed"] for m in slow.metrics
    ]
    assert all(m["wall_ms"] >= 0.0 for m in res.metrics), res.metrics


@pytest.mark.parametrize("edges,n", [([(0, 0)], 1), ([(2, 2)], 3)])
def test_label_propagation_fast_path_without_edges(spark, edges, n):
    """A graph whose only edges are self-loops has no neighbors to count:
    the vectorized tier keeps every label and converges after one
    superstep instead of indexing into an empty group list."""
    df = edges_df(spark, edges)
    res = label_propagation(df, max_iter=10)
    assert res.mode == "vectorized"
    got = {r["id"]: r["label"] for r in res.labels.collect()}
    assert got == {i: i for i in range(n)}
    assert got == label_propagation_oracle(edges, n, max_iter=10)
    assert res.supersteps == 1 and res.converged
    assert [m["changed"] for m in res.metrics] == [0]


def test_k_core(spark):
    from parallel_pagerank_spark.operators.kcore import k_core

    from .oracles import k_core_oracle

    # clique of 6 (every vertex deg 5) + pendant chains + a triangle that
    # k=3 must peel away
    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    chains = [(5, 10), (10, 11), (11, 12), (0, 20), (20, 21)]
    tri = [(30, 31), (31, 32), (32, 30)]
    edges = clique + chains + tri
    df = edges_df(spark, edges)
    for k in (2, 3, 4):
        want = k_core_oracle(edges, k)
        res = k_core(df, k=k)
        got = {r["id"]: r["core_deg"] for r in res.core.collect()}
        assert got == want, (k, got, want)
        assert res.converged
    # k=3: only the clique survives (chains peel, triangle is a 2-core)
    res3 = k_core(df, k=3)
    assert {r["id"] for r in res3.core.collect()} == set(range(6))
    # k above the max core: empty result, still converges
    res9 = k_core(df, k=9)
    assert res9.core.count() == 0 and res9.converged


def test_negative_ids_stay_on_distributed_path(spark):
    """Negative vertex ids would wrap through numpy indexing in the fast
    paths — such graphs must NOT route, and the join-based loops must
    still produce correct components/labels for them."""
    edges = [(-3, 5), (5, 7), (2, 4)]
    df = edges_df(spark, edges)
    res = connected_components(df)
    assert res.mode == "dataframe"
    got = {r["id"]: r["component"] for r in res.components.collect()}
    # dense max_id+1 vertex rule: a negative id is NOT a vertex, so its
    # edge is dropped by the label join — the routed numpy kernel would
    # instead have WRAPPED -3 onto vertex 5 and silently merged wrong
    # components. Correct result: {5,7} one component, {2,4} one, rest
    # singletons, -3 absent.
    assert -3 not in got
    assert set(got) == set(range(8))
    assert got[5] == got[7] == 5
    assert got[2] == got[4] == 2
    res_lpa = label_propagation(df, max_iter=3)
    assert res_lpa.mode == "dataframe"


def test_negative_ids_pagerank_not_routed(spark):
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.pagerank import pagerank

    df = edges_df(spark, [(-3, 1), (1, 0)])
    res = pagerank(df, config=PageRankConfig(tol=1e-4))
    assert res.mode == "dataframe"


# an explicit vertex table plus edges that touch ids outside it (7, 8, 9),
# both as src and as dst; 6's only out-edge leaves the vertex set and 10
# has no edges at all
OUTSIDE_EDGES = [
    (0, 1), (1, 2), (2, 0), (2, 9), (3, 7), (7, 1), (8, 2), (4, 5),
    (5, 4), (4, 8), (9, 3), (6, 9), (3, 0), (1, 3),
]
OUTSIDE_VERTICES = [0, 1, 2, 3, 4, 5, 6, 10]


def test_explicit_vertices_drop_outside_ids(spark):
    """Ids outside an explicit ``vertices`` table get no rank or label,
    and whatever flows into or out of them is dropped: mass sent to a
    non-vertex leaks, a non-vertex sends nothing, and a neighbor outside
    the table never counts. Pinned as literals on every DataFrame-tier
    SpMV mode, CC and LPA."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.pagerank import pagerank

    df = edges_df(spark, OUTSIDE_EDGES)
    verts = spark.createDataFrame(
        [(i,) for i in OUTSIDE_VERTICES], "id long"
    )
    want_ranks = {
        0: 0.06956581276970647,
        1: 0.0837431685810332,
        2: 0.056626636445756454,
        3: 0.056626636445756454,
        4: 0.06236950563971513,
        5: 0.0484200001113923,
        6: 0.020979022668498618,
        10: 0.020979022668498618,
    }
    for mode in ("shuffle", "broadcast"):
        res = pagerank(
            df,
            vertices=verts,
            config=PageRankConfig(tol=0.0, max_iter=8, spmv_mode=mode),
        )
        got = {r["id"]: r["rank"] for r in res.ranks.collect()}
        assert res.iterations == 8, mode
        assert set(got) == set(want_ranks), mode
        for v, rank in want_ranks.items():
            assert got[v] == pytest.approx(rank, rel=0, abs=1e-15), (mode, v)

    cc = connected_components(df, vertices=verts, fast_path_edges=0)
    assert cc.converged and cc.supersteps == 2
    assert {r["id"]: r["component"] for r in cc.components.collect()} == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 10: 10,
    }
    lpa = label_propagation(
        df, vertices=verts, max_iter=5, fast_path_edges=0
    )
    assert lpa.supersteps == 5
    assert {r["id"]: r["label"] for r in lpa.labels.collect()} == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 5, 5: 4, 6: 6, 10: 10,
    }
