"""Wave-19 operators: weighted priority sampling (and siblings added
this wave)."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from tests.conftest import edges_df

from parallel_pagerank_spark.functions.splits import (
    _K,
    _M,
    _P,
    weighted_sample_k,
)


def _bucket_py(i: int, salt: int = 0) -> int:
    return ((i + salt) % _P) * _K % _M


def _key_py(i: int, w: float, salt: int = 0) -> float:
    # same two-step float path as the engine: exact 2^-32 scale, then
    # one IEEE double division
    return ((_bucket_py(i, salt) + 1) / float(_M)) / float(w)


@pytest.fixture()
def weighted_df(spark):
    rows = [(i, (i % 7) + 1) for i in range(300)]
    rows += [(1000, 0), (1001, -5), (1002, None)]  # excluded weights
    return spark.createDataFrame(rows, "id long, w long")


def test_weighted_sample_exact_k_and_python_parity(spark, weighted_df):
    got = weighted_sample_k(
        weighted_df, 25, "w", id_col="id"
    ).select("id")
    ids = sorted(r.id for r in got.collect())
    assert len(ids) == 25
    # pure-Python replay of the priority keys picks the same 25
    expect = sorted(
        sorted(range(300), key=lambda i: (_key_py(i, (i % 7) + 1), i))[:25]
    )
    assert ids == expect


def test_weighted_sample_excludes_bad_weights(spark, weighted_df):
    got = weighted_sample_k(weighted_df, 1000, "w", id_col="id")
    ids = {r.id for r in got.collect()}
    assert len(ids) == 300
    assert not ids & {1000, 1001, 1002}


def test_weighted_sample_prefix_property(spark, weighted_df):
    s10 = {r.id for r in
           weighted_sample_k(weighted_df, 10, "w", id_col="id").collect()}
    s11 = {r.id for r in
           weighted_sample_k(weighted_df, 11, "w", id_col="id").collect()}
    assert s10 < s11 and len(s11 - s10) == 1


def test_weighted_sample_salt_redeal(spark, weighted_df):
    a = {r.id for r in
         weighted_sample_k(weighted_df, 20, "w", id_col="id").collect()}
    b = {r.id for r in
         weighted_sample_k(weighted_df, 20, "w", id_col="id",
                           salt=7).collect()}
    assert a != b


def test_weighted_sample_proportionality():
    # statistical check in pure python (same key formula, no Spark):
    # weight-9 items should be sampled ~9x as often as weight-1 items
    # across independent salts.  Priority sampling is approximately
    # pips for k << n, so bound loosely.
    n, k = 2000, 100
    heavy = {i for i in range(n) if i % 2 == 0}
    heavy_hits = light_hits = 0
    for salt in range(40):
        keys = sorted(
            (( _key_py(i, 9.0 if i in heavy else 1.0, salt)), i)
            for i in range(n)
        )
        for _, i in keys[:k]:
            if i in heavy:
                heavy_hits += 1
            else:
                light_hits += 1
    ratio = heavy_hits / max(light_hits, 1)
    assert 6.0 < ratio < 13.5


def test_weighted_sample_plan_is_topk(spark, weighted_df):
    plan = weighted_sample_k(
        weighted_df, 5, "w", id_col="id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# --- SemDeDup -------------------------------------------------------------

import math


def _vec(theta, scale=1.0):
    return [scale * math.cos(theta), scale * math.sin(theta)]


@pytest.fixture()
def sem_vectors(spark):
    # two well-separated clusters on the unit circle; within cluster 0 a
    # chain a~b, b~c with a NOT ~ c at the 0.95 threshold
    rows = [
        (0, _vec(0.0)),          # a
        (1, _vec(0.22)),         # b: cos(0.22)=0.9759 ~ a
        (2, _vec(0.44)),         # c: cos(0.22) ~ b, cos(0.44)=0.9048 !~ a
        (3, _vec(2.0)),          # second cluster
        (4, _vec(2.0, 3.0)),     # same direction, different norm -> cos 1
        (5, _vec(2.6)),          # cos(0.6)=0.825 to 3/4 -> kept
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cents(spark):
    return spark.createDataFrame(
        [(100, _vec(0.1)), (200, _vec(2.2))],
        "centroid_id long, embedding array<double>",
    )


def test_semantic_dup_pairs(spark, sem_vectors):
    from parallel_pagerank_spark.functions.similarity import (
        semantic_dup_pairs,
    )

    pairs = semantic_dup_pairs(
        sem_vectors, _cents(spark), threshold=0.95
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(0, 1), (1, 2), (3, 4)}


def test_semantic_dedup_dominance(spark, sem_vectors):
    from parallel_pagerank_spark.functions.similarity import semantic_dedup

    kept = semantic_dedup(sem_vectors, _cents(spark), threshold=0.95)
    ids = {r.id for r in kept.collect()}
    # dominance drops 1 (dominated by 0), 2 (dominated by 1 even though 1
    # itself dropped — documented superset-of-greedy rule), 4 (by 3)
    assert ids == {0, 3, 5}
    # kept set is pairwise below threshold
    rows = {r.vec_id: r.embedding for r in sem_vectors.collect()}

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return d / (math.hypot(*u) * math.hypot(*v))

    for a in ids:
        for b in ids:
            if a < b:
                assert cos(rows[a], rows[b]) < 0.95


def test_semantic_dedup_drops_exact_copies(spark, sem_vectors):
    from parallel_pagerank_spark.functions.similarity import semantic_dedup

    copies = sem_vectors.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    kept = semantic_dedup(
        sem_vectors.unionByName(copies), _cents(spark), threshold=0.95
    )
    ids = {r.id for r in kept.collect()}
    assert ids == {0, 3, 5}  # every copy has a smaller-id exact twin


def test_semantic_pairs_confined_to_clusters(spark, sem_vectors):
    # vectors in different clusters are NEVER compared, even if similar:
    # give each cluster's centroid its own far-side vector pair
    from parallel_pagerank_spark.functions.similarity import (
        semantic_dup_pairs,
    )

    # 0.95 threshold; ids 0 and 2 are in cluster 100, id 3/4 in 200 —
    # no cross-cluster pair can appear by construction
    pairs = semantic_dup_pairs(sem_vectors, _cents(spark), threshold=0.0)
    assign = {0: 100, 1: 100, 2: 100, 3: 200, 4: 200, 5: 200}
    for r in pairs.collect():
        assert assign[r.id_a] == assign[r.id_b]


# --- Maximal matching ------------------------------------------------------

from parallel_pagerank_spark.functions.splits import _K as _HK


def _bucket(i, salt):
    return ((i + salt) % 2_147_483_647) * _HK % 4_294_967_296


def _matching_py(edge_list, max_iter=32, salt=0):
    active = {
        (min(s, d), max(s, d)) for s, d in edge_list if s != d
    }
    matched = set()
    rounds = 0
    while active and rounds < max_iter:
        rounds += 1
        keyed = {
            e: (_bucket(e[0] * 2_147_483_648 + e[1], salt + rounds),) + e
            for e in active
        }
        best = {}
        for e, k in keyed.items():
            for ep in e:
                if ep not in best or k < keyed[best[ep]]:
                    best[ep] = e
        winners = {e for e in active
                   if best[e[0]] == e and best[e[1]] == e}
        matched |= winners
        taken = {ep for e in winners for ep in e}
        active = {e for e in active
                  if e[0] not in taken and e[1] not in taken}
    return matched, rounds


@pytest.fixture()
def match_graph():
    # deterministic pseudo-random graph with dup/reversed/self edges
    edges = []
    x = 7
    for _ in range(240):
        x = (x * 1103515245 + 12345) % (1 << 31)
        s = x % 60
        x = (x * 1103515245 + 12345) % (1 << 31)
        d = x % 60
        edges.append((s, d))
    edges += [(5, 5), (1, 2), (2, 1)]
    return edges


def test_matching_python_parity(spark, match_graph):
    from parallel_pagerank_spark.operators.matching import maximal_matching

    res = maximal_matching(edges_df(spark, match_graph))
    got = {(r.u, r.v) for r in res.pairs.collect()}
    expect, rounds = _matching_py(match_graph)
    assert got == expect
    assert res.rounds == rounds
    assert res.converged


def test_matching_is_maximal_and_valid(spark, match_graph):
    from parallel_pagerank_spark.operators.matching import maximal_matching

    res = maximal_matching(edges_df(spark, match_graph))
    pairs = [(r.u, r.v) for r in res.pairs.collect()]
    seen = [ep for e in pairs for ep in e]
    assert len(seen) == len(set(seen))  # a matching: vertex used once
    taken = set(seen)
    for s, d in match_graph:  # maximal: no free edge remains
        if s != d:
            assert s in taken or d in taken


@contextmanager
def _shuffle_partitions(spark, n):
    """Run the block with ``spark.sql.shuffle.partitions`` = ``n`` — the
    one source of every operator's partition count."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_matching_deterministic_across_partitioning(spark, match_graph):
    from parallel_pagerank_spark.operators.matching import maximal_matching

    a = maximal_matching(edges_df(spark, match_graph))
    with _shuffle_partitions(spark, 3):
        b = maximal_matching(edges_df(spark, match_graph).repartition(13))
        b_pairs = {(r.u, r.v) for r in b.pairs.collect()}
    assert {(r.u, r.v) for r in a.pairs.collect()} == b_pairs


def test_mis_deterministic_across_partitioning(spark, match_graph):
    from parallel_pagerank_spark.operators.mis import maximal_independent_set

    a = maximal_independent_set(edges_df(spark, match_graph))
    with _shuffle_partitions(spark, 3):
        b = maximal_independent_set(
            edges_df(spark, match_graph).repartition(7)
        )
        b_ids = {r.id for r in b.members.collect()}
    assert {r.id for r in a.members.collect()} == b_ids


def test_matching_rejects_hash_magnitude_ids(spark):
    from parallel_pagerank_spark.operators.matching import maximal_matching

    bad = edges_df(spark, [(1, 2**33)])
    with pytest.raises(ValueError, match="2\\^31"):
        maximal_matching(bad)


# --- Closeness centrality ---------------------------------------------------


def test_closeness_centrality_golden(spark):
    from parallel_pagerank_spark.operators.bfs import (
        closeness_centrality,
        landmark_distances,
    )

    # path graph 0 -> 1 -> 2 -> 3 plus a branch 0 -> 4
    edges = edges_df(spark, [(0, 1), (1, 2), (2, 3), (0, 4)])
    lms = spark.createDataFrame([(0,), (2,)], "id long")
    res = landmark_distances(edges, lms, max_hops=8)
    got = {r.landmark: (r.n_reached, r.sum_dist, r.closeness)
           for r in closeness_centrality(res).collect()}
    # from 0: dists 1,2,3,1 -> n=4 sum=7 ; from 2: dist 1 -> n=1 sum=1
    assert got[0] == (4, 7, 4.0 / 7.0)
    assert got[2] == (1, 1, 1.0)


# --- Community PageRank ------------------------------------------------------


def test_community_pagerank_matches_numpy(spark):
    """Quotient-graph weighted PR vs a dense numpy power iteration on the
    contracted graph."""
    import numpy as np

    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.labelprop import (
        label_propagation,
    )
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.operators.scc import quotient_graph

    # two triangles bridged by one edge + a dangling pendant community
    el = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3), (6, 0)]
    edges = edges_df(spark, el)
    labels = label_propagation(edges, max_iter=5).labels
    q = quotient_graph(edges, labels)
    qe = q.select(
        F.col("src_label").alias("src"),
        F.col("dst_label").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    verts = labels.select(F.col("label").alias("id")).distinct()
    res = pagerank(
        qe, vertices=verts,
        config=PageRankConfig(tol=0.0, max_iter=10), weight_col="weight",
    )
    got = {r.id: r.rank for r in res.ranks.collect()}

    # numpy replay on the same quotient
    lab = {r.id: r.label for r in labels.collect()}
    qcount = {}
    for s, d in el:
        k = (lab[s], lab[d])
        qcount[k] = qcount.get(k, 0) + 1
    ids = sorted({c for k in qcount for c in k} | set(lab.values()))
    idx = {c: i for i, c in enumerate(ids)}
    n = len(ids)
    p = np.full(n, 1.0 / n)
    wsum = {}
    for (s, d), w in qcount.items():
        wsum[s] = wsum.get(s, 0.0) + w
    for _ in range(10):
        nxt = np.zeros(n)
        for (s, d), w in qcount.items():
            nxt[idx[d]] += p[idx[s]] * (w / wsum[s])
        ds = sum(p[idx[c]] for c in ids if c not in wsum)
        p = 0.85 * (nxt + ds / n) + 0.15 / n
    for c in ids:
        assert abs(got[c] - p[idx[c]]) < 1e-12


# --- Expectations ------------------------------------------------------------


def test_check_expectations_counts(spark):
    from parallel_pagerank_spark.functions.expectations import (
        check_expectations,
    )

    df = spark.createDataFrame(
        [(1, 5, "en"), (2, -1, "en"), (3, None, "xx"),
         (3, 7, None), (4, 0, "e")],
        "id long, score long, lang string",
    )
    got = {
        r.rule: (r.n_rows, r.n_violations, r.violation_rate)
        for r in check_expectations(
            df,
            {
                "score_positive": F.col("score") > 0,
                "lang_present": F.col("lang").isNotNull(),
            },
            unique=("id",),
        ).collect()
    }
    # score > 0 violated by -1, NULL (fail-closed), 0
    assert got["score_positive"] == (5, 3, 0.6)
    assert got["lang_present"] == (5, 1, 0.2)
    # id 3 appears twice -> one violation
    assert got["unique:id"] == (5, 1, 0.2)


def test_check_expectations_single_scan_plan(spark):
    from parallel_pagerank_spark.functions.expectations import (
        check_expectations,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("m")
    )
    plan = check_expectations(
        df, {"m_small": F.col("m") < 2}, unique=("id",)
    )._jdf.queryExecution().executedPlan().toString()
    # one scan of the source: the Range appears exactly once
    assert plan.count("Range (0, 100") == 1


def test_filter_valid_fail_closed(spark):
    from parallel_pagerank_spark.functions.expectations import (
        filter_valid,
    )

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, -2)], "id long, score long"
    )
    kept = filter_valid(df, {"pos": F.col("score") > 0})
    assert [r.id for r in kept.collect()] == [1]


def test_check_expectations_empty_rules_raises(spark):
    from parallel_pagerank_spark.functions.expectations import (
        check_expectations,
    )

    with pytest.raises(ValueError):
        check_expectations(spark.range(3), {})


# --- Greedy coloring ---------------------------------------------------------


def _coloring_py(edge_list, salt=0):
    adj = {}
    for s, d in edge_list:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    pri = {v: (_bucket(v, salt), v) for v in adj}
    uncolored = set(adj)
    colors = {}
    rounds = 0
    while uncolored:
        rounds += 1
        frontier = {
            v for v in uncolored
            if all(pri[v] < pri[u]
                   for u in adj[v] if u in uncolored)
        }
        for v in frontier:
            used = {colors[u] for u in adj[v] if u in colors}
            c = 0
            while c in used:
                c += 1
            colors[v] = c
        uncolored -= frontier
    return colors, rounds


def test_coloring_python_parity(spark, match_graph):
    from parallel_pagerank_spark.operators.coloring import greedy_coloring

    res = greedy_coloring(edges_df(spark, match_graph))
    got = {r.id: r.color for r in res.colors.collect()}
    expect, rounds = _coloring_py(match_graph)
    assert got == expect
    assert res.rounds == rounds
    assert res.converged


def test_coloring_is_proper_and_bounded(spark, match_graph):
    from parallel_pagerank_spark.operators.coloring import greedy_coloring

    res = greedy_coloring(edges_df(spark, match_graph))
    col = {r.id: r.color for r in res.colors.collect()}
    deg = {}
    for s, d in match_graph:
        if s != d:
            deg[s] = deg.get(s, 0) + 1
            deg[d] = deg.get(d, 0) + 1
    for s, d in match_graph:
        if s != d:
            assert col[s] != col[d]
    assert res.n_colors <= max(deg.values()) + 1


def test_coloring_deterministic_across_partitioning(spark, match_graph):
    from parallel_pagerank_spark.operators.coloring import greedy_coloring

    a = greedy_coloring(edges_df(spark, match_graph))
    with _shuffle_partitions(spark, 3):
        b = greedy_coloring(edges_df(spark, match_graph).repartition(11))
        b_colors = {(r.id, r.color) for r in b.colors.collect()}
    assert {(r.id, r.color) for r in a.colors.collect()} == b_colors


# --- Tool latency ------------------------------------------------------------

import datetime as _dt


def test_tool_latency_stats_golden(spark):
    from parallel_pagerank_spark.sources.events import tool_latency_stats

    def ts(s):
        return _dt.datetime(2026, 1, 1, 0, 0, s)

    # conv 1: a@0, b@10, b@25 ; conv 2: b@0, a@7  (first events excluded)
    ev = spark.createDataFrame(
        [
            (1, ts(0), 1, "a"),
            (2, ts(10), 1, "b"),
            (3, ts(25), 1, "b"),
            (4, ts(0), 2, "b"),
            (5, ts(7), 2, "a"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = {r.event_type: r for r in tool_latency_stats(ev).collect()}
    assert got["a"].n_lat == 1 and got["a"].mean_us == 7_000_000.0
    assert got["a"].p50_us == 7_000_000.0
    assert got["b"].n_lat == 2
    assert got["b"].mean_us == 12_500_000.0  # (10s + 15s) / 2
    assert got["b"].p50_us == 12_500_000.0   # interpolated midpoint
    assert got["b"].p90_us == 14_500_000.0   # 10 + 0.9*(15-10) -> 14.5
    assert got["b"].p99_us == 14_950_000.0


# --- OOV stats ----------------------------------------------------------------


def test_oov_stats_golden(spark):
    from parallel_pagerank_spark.functions.text import (
        oov_stats,
        vocabulary_topn,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog"),
            (3, "   "),          # token-less
            (4, "zebra quark"),  # fully OOV
        ],
        "doc_id long, text string",
    )
    vocab = vocabulary_topn(docs, 3)
    # totals: the=3, cat/sat/on/mat/dog/zebra/quark=1 -> top3 by
    # (count desc, term asc) = the, cat, dog
    assert {r.term for r in vocab.collect()} == {"the", "cat", "dog"}
    got = {r.id: r for r in oov_stats(docs, vocab).collect()}
    assert (got[1].n_tokens, got[1].n_oov) == (6, 3)  # sat on mat
    assert got[1].oov_rate == 0.5
    assert (got[2].n_tokens, got[2].n_oov) == (2, 0)
    assert (got[3].n_tokens, got[3].n_oov) == (0, 0)
    assert got[3].oov_rate is None
    assert (got[4].n_tokens, got[4].n_oov, got[4].oov_rate) == (2, 2, 1.0)


def test_oov_stats_no_term_shuffle(spark):
    from parallel_pagerank_spark.functions.text import oov_stats

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "term string")
    plan = oov_stats(docs, vocab)._jdf.queryExecution().executedPlan(
    ).toString()
    # the vocab join must be broadcast, never a term-keyed exchange
    assert "BroadcastHashJoin" in plan


# --- Neighbor sampling --------------------------------------------------------


def test_sample_neighbors_k(spark):
    from parallel_pagerank_spark.operators.graph import sample_neighbors_k

    el = [(0, d) for d in range(1, 11)] + [(1, 2), (1, 2), (2, 3)]
    got3 = sample_neighbors_k(edges_df(spark, el), 3)
    rows3 = {(r.src, r.dst) for r in got3.collect()}
    # python replay of the same (bucket, dst) choice
    def pick(src, dsts, k, salt=0):
        keyed = sorted(
            (_bucket(src * 2_147_483_648 + d, salt), d) for d in set(dsts)
        )
        return {(src, d) for _, d in keyed[:k]}

    expect3 = pick(0, range(1, 11), 3) | {(1, 2)} | {(2, 3)}
    assert rows3 == expect3
    # degree cap + prefix consistency
    got4 = {(r.src, r.dst)
            for r in sample_neighbors_k(edges_df(spark, el), 4).collect()}
    assert rows3 < got4
    from collections import Counter

    assert max(Counter(s for s, _ in got4).values()) <= 4
    # salt re-deal changes the hub's pick
    salted = {(r.src, r.dst)
              for r in sample_neighbors_k(edges_df(spark, el), 3,
                                          salt=5).collect()}
    assert salted != rows3
