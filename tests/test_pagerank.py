"""PageRank engine vs the NumPy oracle (reference semantics,
pagerank_mpi.c:132-231): allclose 1e-6 rank parity AND iteration-count
equality on the reference's bundled fixtures plus edge-case graphs."""

from __future__ import annotations

import numpy as np
import pytest

from parallel_pagerank_spark.config import PageRankConfig
from parallel_pagerank_spark.operators.pagerank import pagerank, top_k_ranks

from .conftest import edges_df
from .oracles import SMALL_GRAPH, load_edge_list, pagerank_oracle


def run_both(spark, edges, num_nodes=None, tol=1e-6, **cfg_kw):
    oracle_ranks, oracle_iters, _ = pagerank_oracle(
        edges, num_nodes=num_nodes, tol=tol
    )
    df = edges_df(spark, edges)
    vertices = (
        spark.range(num_nodes).withColumnRenamed("id", "id")
        if num_nodes is not None
        else None
    )
    # fast_path_threshold=0: run_both exists to test the DISTRIBUTED
    # DataFrame loop; the auto-routed fast path has its own parity tests
    res = pagerank(
        df,
        vertices=vertices,
        config=PageRankConfig(tol=tol, fast_path_threshold=0, **cfg_kw),
    )
    assert res.mode == "dataframe"
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    want = dict(enumerate(oracle_ranks))
    assert set(got) == set(want)
    got_vec = np.array([got[i] for i in sorted(got)])
    want_vec = np.array([want[i] for i in sorted(want)])
    return res, oracle_iters, got_vec, want_vec


def test_small_graph_golden(spark):
    res, oracle_iters, got, want = run_both(spark, SMALL_GRAPH)
    assert res.converged
    assert res.iterations == 26 == oracle_iters
    assert np.allclose(
        got, [0.37324778, 0.20675512, 0.38249710, 0.0375], atol=1e-6
    )
    assert np.allclose(got, want, atol=1e-6)
    # node 3 has no in-links → rank = (1-d)/N exactly; no dangling → Σ = 1
    assert got[3] == pytest.approx(0.0375, abs=1e-12)
    assert got.sum() == pytest.approx(1.0, abs=1e-9)


@pytest.mark.parametrize("name", ["medium_graph", "large_graph"])
def test_reference_fixtures(spark, name):
    edges = load_edge_list(f"/root/reference/sample_graphs/{name}.txt")
    res, oracle_iters, got, want = run_both(spark, edges)
    assert res.converged
    assert res.iterations == oracle_iters
    assert np.allclose(got, want, atol=1e-6)


def test_dangling_and_isolated(spark):
    # sink vertex 2 (no out-edges) exercises dangling-mass redistribution
    # (pagerank_mpi.c:166-174); vertex 4 is referenced only as max id gap:
    # edge to 5 makes ids 0..5 exist, 4 has no edges at all
    # (num_nodes = max_id+1 rule, csr_graph.c:27).
    edges = [(0, 1), (1, 2), (3, 0), (3, 5), (5, 3)]
    res, oracle_iters, got, want = run_both(spark, edges)
    assert res.converged
    assert res.iterations == oracle_iters
    assert np.allclose(got, want, atol=1e-6)
    assert len(got) == 6
    # mass conserved (dangling redistribution keeps Σ = 1)
    assert got.sum() == pytest.approx(1.0, abs=1e-9)


def test_multi_edge_and_self_loop(spark):
    # duplicate lines count with multiplicity (csr_graph.c:19-23);
    # self-loop feeds rank back to its own vertex
    edges = [(0, 1), (0, 1), (1, 0), (2, 2), (2, 0)]
    # tol 1e-4 (reference default): multi-edge semantics, not tolerance,
    # is under test — halves the superstep count
    res, oracle_iters, got, want = run_both(spark, edges, tol=1e-4)
    assert res.iterations == oracle_iters
    assert np.allclose(got, want, atol=1e-6)


def test_ring_uniform(spark):
    # ring: i → (i+1)%n (dashboard/app.py:1484-1487) — exact uniform fixpoint
    n = 12
    edges = [(i, (i + 1) % n) for i in range(n)]
    res, oracle_iters, got, want = run_both(spark, edges)
    assert np.allclose(got, np.full(n, 1.0 / n), atol=1e-6)
    assert res.iterations == oracle_iters


@pytest.mark.exhaustive  # default tier: test_salted_hub_skew_matches runs the same star-hub graph (salted AND unsalted sides)
def test_star_hub_skew(spark):
    # star: hub 0 ↔ all spokes (dashboard/app.py:1488-1493) — worst-case
    # single-key skew for the dst aggregation
    n = 50
    edges = [(0, i) for i in range(1, n)] + [(i, 0) for i in range(1, n)]
    res, oracle_iters, got, want = run_both(spark, edges, tol=1e-4)
    assert res.iterations == oracle_iters
    assert np.allclose(got, want, atol=1e-6)


def test_explicit_vertices_superset(spark):
    # explicit vertex table larger than edge-touched ids (transcript graphs
    # pass an explicit vertices DF instead of the dense max_id+1 rule)
    edges = [(0, 1), (1, 0)]
    res, oracle_iters, got, want = run_both(spark, edges, num_nodes=5)
    assert res.iterations == oracle_iters
    assert np.allclose(got, want, atol=1e-6)
    assert len(got) == 5


def test_tolerance_1e4_reference_default(spark):
    # the reference CLI default threshold (benchmark.py:17,170)
    res, oracle_iters, got, want = run_both(spark, SMALL_GRAPH, tol=1e-4)
    assert res.iterations == 16 == oracle_iters
    assert np.allclose(got, want, atol=1e-6)


def test_top_k(spark):
    df = edges_df(spark, SMALL_GRAPH)
    res = pagerank(df, config=PageRankConfig())
    top = top_k_ranks(res.ranks, k=2).collect()
    assert [r["id"] for r in top] == [2, 0]


def test_empty_graph(spark):
    df = edges_df(spark, [])
    res = pagerank(df, config=PageRankConfig())
    assert res.ranks.count() == 0
    assert res.converged


# a hub whose out-degree (59) is far above E/P, plus short cycles
HUB_STAR = (
    [(0, i) for i in range(1, 60)]
    + [(i, 0) for i in range(1, 60)]
    + [(i, i % 7) for i in range(1, 60)]
)


def test_salted_hub_skew_matches(spark):
    # salting must not change results: star hub with out-degree >> E/P
    res_plain, oracle_iters, got_plain, want = run_both(
        spark, HUB_STAR, tol=1e-4
    )
    df = edges_df(spark, HUB_STAR)
    res_salted = pagerank(
        df, config=PageRankConfig(tol=1e-4, salt_buckets=4)
    )
    got = {r["id"]: r["rank"] for r in res_salted.ranks.collect()}
    got_vec = np.array([got[i] for i in sorted(got)])
    assert res_salted.iterations == oracle_iters
    assert np.allclose(got_vec, want, atol=1e-6)


def test_salted_shuffle_matches_oracle(spark):
    """The salted SpMV itself: ``spmv_mode="shuffle"`` keeps the star off
    the broadcast path (which passes no salt), so hub 0 (out-degree 59,
    above the max(32, E/P) hub threshold) has its edges split over 4 salt
    buckets and its rank replicated to each."""
    oracle_ranks, oracle_iters, _ = pagerank_oracle(HUB_STAR, tol=1e-4)
    res = pagerank(
        edges_df(spark, HUB_STAR),
        config=PageRankConfig(tol=1e-4, spmv_mode="shuffle", salt_buckets=4),
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert res.mode == "dataframe"
    assert res.iterations == oracle_iters
    assert np.allclose([got[i] for i in range(60)], oracle_ranks, atol=1e-6)


def test_vectorized_fast_path_parity(spark):
    for edges in [
        SMALL_GRAPH,
        load_edge_list("/root/reference/sample_graphs/medium_graph.txt"),
        [(0, 1), (1, 2), (3, 0), (3, 5), (5, 3)],  # dangling + id gap
    ]:
        oracle_ranks, oracle_iters, _ = pagerank_oracle(edges, tol=1e-6)
        res = pagerank(
            edges_df(spark, edges), config=PageRankConfig(tol=1e-6)
        )
        assert res.mode == "vectorized"
        assert res.iterations == oracle_iters
        got = {r["id"]: r["rank"] for r in res.ranks.collect()}
        got_vec = np.array([got[i] for i in sorted(got)])
        assert np.allclose(got_vec, oracle_ranks, atol=1e-6)


def _assert_explicit_vertices_kept(spark, monkeypatch, edges, ids):
    """Explicit vertices skip the vectorized route before any routing job
    and run the DataFrame loop: the result holds exactly the caller's ids,
    none relabelled into 0..N-1, with the shuffle-mode ranks."""
    from parallel_pagerank_spark.operators import pagerank as pagerank_mod

    def no_route(*args):
        raise AssertionError("explicit vertices must skip the routing")

    monkeypatch.setattr(pagerank_mod, "_route_fast", no_route)
    df = edges_df(spark, edges)
    v = spark.createDataFrame([(i,) for i in sorted(ids)], "id long")
    res = pagerank(df, vertices=v, config=PageRankConfig())
    assert res.mode == "dataframe"
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert set(got) == ids
    shuffled = pagerank(
        df, vertices=v, config=PageRankConfig(spmv_mode="shuffle")
    )
    want = {r["id"]: r["rank"] for r in shuffled.ranks.collect()}
    assert set(want) == ids
    for i in got:
        assert got[i] == pytest.approx(want[i], abs=1e-12)


def test_vectorized_rejects_sparse_ids(spark, monkeypatch):
    # N=1 < max edge id: the vectorized tier would index vertex 1 out of
    # range; the DataFrame loop keeps only the caller's vertex 0
    _assert_explicit_vertices_kept(spark, monkeypatch, [(0, 1)], {0})


def test_vectorized_rejects_sparse_vertex_set(spark, monkeypatch):
    # vertex 5 lies beyond the edges' dense range (N=3) and must keep its
    # own id and rank, even though the edges only touch low ids
    _assert_explicit_vertices_kept(spark, monkeypatch, [(0, 1)], {0, 1, 5})


def test_routed_call_job_count(spark):
    """A routed call costs one routing aggregation and one Arrow collect
    of the edges: with the caller's collect of the ranks, at most 4 Spark
    jobs end to end."""
    sc = spark.sparkContext
    sc.setJobGroup("routed_pagerank", "routed pagerank job count")
    try:
        res = pagerank(edges_df(spark, SMALL_GRAPH))
        res.ranks.toPandas()
        jobs = sc.statusTracker().getJobIdsForGroup("routed_pagerank")
    finally:
        sc.setJobGroup("", "")
    assert res.mode == "vectorized"
    assert len(jobs) <= 4


@pytest.mark.exhaustive  # default tier: driver oracle row pagerank_personalized20 hash-checks this surface every round
def test_personalized_teleport(spark):
    """Personalized PageRank: the reference's declared-but-unused Node.e
    per-vertex teleport field (pagerank_mpi.h:13) implemented properly;
    uniform teleport must equal the standard result."""
    from .oracles import pagerank_oracle as po

    edges = SMALL_GRAPH
    df = edges_df(spark, edges)
    # seed all teleport mass at vertex 3
    v = np.array([0.0, 0.0, 0.0, 1.0])
    want, want_iters, _ = pagerank_oracle(edges, tol=1e-4, teleport=v)
    tele_df = spark.createDataFrame(
        [(3, 1.0)], "id long, weight double"
    )
    res = pagerank(df, config=PageRankConfig(tol=1e-4), teleport=tele_df)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    got_vec = np.array([got[i] for i in range(4)])
    assert res.iterations == want_iters
    assert np.allclose(got_vec, want, atol=1e-6)
    # mass concentrates near the seed: vertex 3 outranks the uniform case
    assert got[3] > 0.15
    # explicit uniform teleport == default behavior
    uni = spark.createDataFrame(
        [(i, 1.0) for i in range(4)], "id long, weight double"
    )
    res_u = pagerank(df, config=PageRankConfig(tol=1e-4), teleport=uni)
    std = pagerank(df, config=PageRankConfig(tol=1e-4))
    a = {r["id"]: r["rank"] for r in res_u.ranks.collect()}
    b = {r["id"]: r["rank"] for r in std.ranks.collect()}
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)


def test_weighted_edges_match_oracle(spark):
    """weight_col parity: rank flows proportionally to weight/Σweights(src)."""
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0), (3, 1), (3, 2)]
    weights = [3.0, 1.0, 2.0, 5.0, 1.0, 1.0, 2.0]
    want, oracle_iters, _ = pagerank_oracle(edges, weights=weights, tol=1e-4)
    df = spark.createDataFrame(
        [(s, t, w) for (s, t), w in zip(edges, weights)],
        "src long, dst long, weight double",
    )
    res = pagerank(
        df, config=PageRankConfig(tol=1e-4), weight_col="weight"
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    got_vec = np.array([got[i] for i in sorted(got)])
    assert res.iterations == oracle_iters
    assert np.allclose(got_vec, want, atol=1e-6)
    assert got_vec.sum() == pytest.approx(1.0, abs=1e-9)


@pytest.mark.exhaustive  # default tier: test_multi_edge_and_self_loop pins multi-edge semantics; test_weighted_edges_match_oracle pins weights
def test_weighted_duplicate_edge_equivalence(spark):
    """A duplicated unweighted edge == one edge of weight 2 — the multi-edge
    semantics of csr_graph.c:19-23 expressed through weights."""
    dup = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0)]
    res_dup = pagerank(
        edges_df(spark, dup), config=PageRankConfig(tol=1e-4)
    )
    wdf = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0)],
        "src long, dst long, weight double",
    )
    res_w = pagerank(
        wdf, config=PageRankConfig(tol=1e-4), weight_col="weight"
    )
    got_dup = {r["id"]: r["rank"] for r in res_dup.ranks.collect()}
    got_w = {r["id"]: r["rank"] for r in res_w.ranks.collect()}
    assert set(got_dup) == set(got_w)
    for i in got_dup:
        assert got_dup[i] == pytest.approx(got_w[i], abs=1e-9)


def test_weighted_shuffle_mode_matches(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0)]
    weights = [1.0, 4.0, 1.0, 1.0, 2.0]
    want, _, _ = pagerank_oracle(edges, weights=weights, tol=1e-4)
    df = spark.createDataFrame(
        [(s, t, w) for (s, t), w in zip(edges, weights)],
        "src long, dst long, weight double",
    )
    res = pagerank(
        df,
        config=PageRankConfig(tol=1e-4, spmv_mode="shuffle"),
        weight_col="weight",
    )
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    got_vec = np.array([got[i] for i in sorted(got)])
    assert np.allclose(got_vec, want, atol=1e-6)


def test_auto_fast_path_routing(spark):
    """Small dense-id graphs auto-route to the vectorized fast path
    (identical ranks/iterations); fast_path_threshold=0 opts out and any
    distributed-only feature (salting, teleport, weights, checkpoints)
    keeps the DataFrame loop."""
    df = edges_df(spark, SMALL_GRAPH)
    routed = pagerank(df, config=PageRankConfig())
    assert routed.mode == "vectorized"
    assert routed.iterations == 26
    plain = pagerank(df, config=PageRankConfig(fast_path_threshold=0))
    assert plain.mode == "dataframe"
    a = {r["id"]: r["rank"] for r in routed.ranks.collect()}
    b = {r["id"]: r["rank"] for r in plain.ranks.collect()}
    assert set(a) == set(b)
    for i in a:
        assert a[i] == pytest.approx(b[i], abs=1e-9)
